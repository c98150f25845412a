package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Benchmark driver JVM:
  *
  *   perfbench.Main <workload> <seconds> <trace 0|1> <cores> <workDir> <resultJson>
  *
  * Reads the seeded input the runner generated under `<workDir>/in`,
  * warms up, runs the workload's operation in closed loop (one client)
  * for `<seconds>`, runs the in-JVM output checks and writes one JSON
  * object to `<resultJson>`, from which the runner prints the result. */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case w :: secs :: trace :: cores :: work :: result :: Nil =>
      val json = run(Workloads(w), secs.toDouble, trace == "1", cores.toInt, work)
      Files.writeString(Paths.get(result), json)
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seconds> <trace> <cores> <work> <result>")
      sys.exit(2)
  }

  /** The production session factory; shuffle partitions = cores, as the
    * engine's own Verify/Bench mains set them. */
  def session(cores: Int): SparkSession = {
    val spark = graft.Sessions.builder(s"local[$cores]", cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Lets asynchronous listener events of the work just done arrive. */
  private def settle(): Unit = Thread.sleep(400)

  def run(w: Workload, seconds: Double, trace: Boolean, cores: Int,
          work: String): String = {
    val spans = new Spans(s"${new java.io.File(work).getName}")
    val spark = spans("setup.session")(session(cores))
    // JVM start to a ready session
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val sc = spark.sparkContext
    val blocks = new BlockListener
    sc.addSparkListener(blocks)
    val tracer = new TraceListener
    try {
      // set-up after the session: warm-up on the workload's own operations
      val c = new Ctx(spark, spans, s"$work/in", s"$work/out")
      def tracing(on: Boolean): Unit = {
        if (on) sc.addSparkListener(tracer) else { settle(); sc.removeSparkListener(tracer) }
        c.tracing = on
      }
      if (trace) tracing(true)
      val warmS = timed(spans("setup.warmup")(w.warmUp(c)))
      w.between(c)

      // closed loop, one client: the next operation starts when the last
      // returned. A traced run splits the window between untraced and
      // traced operations, for the tracing overhead.
      var failed = 0
      var attempted = 0
      val peaks = scala.collection.mutable.ArrayBuffer[Double]()
      val leaks = scala.collection.mutable.ArrayBuffer[Double]()
      val untracedOps = scala.collection.mutable.ArrayBuffer[Double]()
      if (trace) tracing(false)
      def loop(window: Double, name: String): Unit = {
        val t0 = System.nanoTime()
        var n = 0
        while (n == 0 || (System.nanoTime() - t0) / 1e9 < window) {
          attempted += 1
          val before = blocks.residentBytes
          val lo = System.currentTimeMillis()
          try spans(name)(w.op(c, attempted))
          catch { case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] operation $attempted failed: $e")
          }
          val hi = System.currentTimeMillis()
          w.between(c)
          settle()
          peaks += (blocks.peakBytes(lo, hi) - before) / 1e6
          leaks += (blocks.residentBytes - before) / 1e6
          n += 1
        }
      }
      if (trace) {
        // untraced, traced, untraced: the traced operations sit between
        // the two untraced ones, so JIT warm-up does not bias the overhead
        loop(seconds / 3, "op.untraced")
        tracing(true)
        loop(seconds / 3, "op")
        tracing(false)
        loop(seconds / 3, "op.untraced")
        untracedOps ++= spans.seconds("op.untraced")
        tracing(true)
      } else loop(seconds, "op")
      val opS = spans.seconds("op")

      if (trace) { spans("finish")(w.finish(c, attempted)); settle() }
      val failures = spans("check")(w.check(c, attempted))
      failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      val oracle = w.oracleChecks(c).map { case (name, dir, query) =>
        val sql = graft.SparkEntry.oracleSql.getOrElse(query,
          throw new IllegalStateException(s"no oracle SQL registered for $query"))
        s"""{"name":${Json.str(name)},"path":${Json.str(dir)},"sql":${Json.str(sql)}}"""
      }

      val config = Seq(
        "master" -> Json.str(sc.master),
        "cores" -> cores.toString,
        "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version" -> Json.str(spark.version),
        "jvm" -> Json.str(System.getProperty("java.version")))
      val e2e = Seq(
        "op_s" -> Layers.median(opS),
        "output_mb" -> w.outputBytes(c) / 1e6,
        "peak_staged_mb" -> Layers.median(peaks.toSeq))
      val layers =
        if (!trace) Nil
        else Layers.metrics(spans, tracer, blocks, cores, untracedOps.toSeq, leaks.toSeq,
          failed.toDouble / attempted,
          Workloads.all.flatMap(_.extraNames).map(_ -> 0.0).toMap ++ w.extra(c), scanFraction)
      if (trace) Files.writeString(Paths.get(s"$work/trace.json"),
        s"""{"spans":${spans.toJson},\n"jobs":${tracer.toJson}}""")
      def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      obj(Seq(
        "workload" -> Json.str(w.name),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "check_failures" -> failures.map(Json.str).mkString("[", ",", "]"),
        "oracle_checks" -> oracle.mkString("[", ",", "]"),
        "config" -> obj(config),
        "samples" -> obj(Seq("op_s" -> opS.map(Json.num).mkString("[", ",", "]"),
          "setup_session_s" -> Json.num(sessionS), "setup_warmup_s" -> Json.num(warmS))),
        "end_to_end" -> obj(e2e.map { case (k, v) => k -> Json.num(v) }),
        "per_layer" -> obj(layers.map { case (k, v) => k -> Json.num(v) })))
    } finally spark.stop()
  }

  private val scans = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
  private def scanFraction: Double =
    if (scans.isEmpty) 0.0 else scans.map(_._1).sum.toDouble / math.max(scans.map(_._2).sum, 1L)

  /** Files a finished query's index scans read, against the files in the
    * scanned index (AQE and DPP included): recorded by the ANN workload
    * for the families whose final plan scans the stored index. */
  def recordScans(df: org.apache.spark.sql.DataFrame, under: String): Unit =
    ScanWalker.scansUnder(df, under).foreach(s => scans.synchronized(scans += s))
}

object ScanWalker extends AdaptiveSparkPlanHelper {
  def scansUnder(df: org.apache.spark.sql.DataFrame, under: String): Seq[(Long, Long)] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(under)) =>
        (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          s.relation.location.inputFiles.length.toLong)
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
