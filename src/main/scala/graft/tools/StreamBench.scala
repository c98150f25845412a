package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{Sessions, Tables}
import graft.streaming.StreamingOps

/** Dev tooling (not part of the library surface): micro-benchmark for
  * the two streaming sinks with no batch analog in the oracle gate —
  * [[StreamingOps.dedupIngest]] and [[StreamingOps.publishSnapshots]] —
  * so BASELINE.md's streaming claims carry measured numbers. Drives
  * MemoryStream micro-batches from the sf fixtures and reports
  * per-batch `processAllAvailable` wall-clock — printed AND written to
  * `outFile` (default `STREAMBENCH.json`, committed) so rounds can be
  * diffed mechanically instead of via BASELINE.md prose. Usage:
  * `runMain graft.tools.StreamBench [sfDir] [nBatches] [outFile]`, on
  * `local[N]` with N from [[graft.Sessions.devCpus]], like [[graft.Bench]]. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val outFile = args.lift(2).getOrElse("STREAMBENCH.json")
    val cpus = Sessions.devCpus
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def timeBatches[T](label: String)(run: Seq[T] => Unit)(batches: Seq[Seq[T]]): Seq[Double] =
      batches.zipWithIndex.map { case (b, i) =>
        val t0 = System.nanoTime()
        run(b)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[$label] batch $i: ${b.size} rows in $dt%.2f s")
        math.rint(dt * 100) / 100
      }

    // 1) dedupIngest: the documents corpus in nBatches slices.
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val docBatches = docs.grouped(math.max(1, docs.size / nBatches)).toSeq.take(nBatches)
    val dedupRoot = java.nio.file.Files.createTempDirectory("graft_sb_dedup").toString
    val dIn = MemoryStream[(Long, String)]
    val dq = StreamingOps.dedupIngest(
      dIn.toDF().toDF("doc_id", "text"), dedupRoot, "doc_id", "text")
    val dedupTimes =
      try timeBatches("dedupIngest") { b: Seq[(Long, String)] =>
        dIn.addData(b); dq.processAllAvailable()
      }(docBatches)
      finally dq.stop()

    // 2) publishSnapshots: complete-mode event-type rollup over the
    // events stream, one full snapshot version per micro-batch.
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamingOps.Ev].collect().toSeq
    val evBatches = events.grouped(math.max(1, events.size / nBatches)).toSeq.take(nBatches)
    val snapRoot = java.nio.file.Files.createTempDirectory("graft_sb_snap").toString
    val eIn = MemoryStream[StreamingOps.Ev]
    val agg = eIn.toDF().groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val sq = StreamingOps.publishSnapshots(agg, snapRoot, "rollup")
    val snapTimes =
      try timeBatches("publishSnapshots") { b: Seq[StreamingOps.Ev] =>
        eIn.addData(b); sq.processAllAvailable()
      }(evBatches)
      finally sq.stop()

    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    // Steady state = median of the batches after the first (batch 0
    // pays stream start-up + state bootstrap).
    def steady(xs: Seq[Double]): Double = {
      val tail = if (xs.size > 1) xs.drop(1).sorted else xs
      tail(tail.size / 2)
    }
    val json =
      s"""{"metric":"stream_batch_sec","sf":"$sfDir","n_batches":$nBatches,""" +
        s""""dedup_ingest":${arr(dedupTimes)},"publish_snapshots":${arr(snapTimes)},""" +
        s""""dedup_ingest_steady_sec":${steady(dedupTimes)},""" +
        s""""publish_snapshots_steady_sec":${steady(snapTimes)},""" +
        s""""dedup_docs_per_batch":${docBatches.head.size},"snap_events_per_batch":${evBatches.head.size}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // Streaming perf BUDGET (round-9 verdict item 5): batch queries
    // have BASELINE.md's 2× rule; the streaming sinks now get the same.
    // Budgets are the round-9 sf0.01 steady-state measurements
    // (BASELINE.md "Streaming budgets"); a steady-state above 2× budget
    // fails the run AFTER the artifact is written. Only enforced on the
    // sf0.01 fixture the budgets were measured on, at the SAME batch
    // slicing (nBatches == 5): fewer batches mean proportionally larger
    // batches, which would fail the budget spuriously; more would
    // weaken it.
    if (sfDir.endsWith("sf0.01") && nBatches == 5) {
      val budgets = Seq(
        ("dedup_ingest", steady(dedupTimes), 3.35),
        ("publish_snapshots", steady(snapTimes), 0.84))
      val viol = budgets.filter { case (_, v, b) => v > 2 * b }
      if (viol.nonEmpty) {
        viol.foreach { case (n, v, b) =>
          System.err.println(f"STREAM BUDGET FAILED: $n steady $v%.2f s > 2x budget $b%.2f s")
        }
        sys.exit(1)
      }
    }
  }
}
