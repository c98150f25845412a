package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** In-memory spans around the benchmark's calls into the engine's public
  * functions. One client, one call at a time, so the open-span stack is a
  * plain stack on the benchmark thread. Timestamps are epoch milliseconds
  * (the clock Spark stamps its listener events with) plus a nanosecond
  * duration for the span's own wall time. */
final class Spans(val runId: String) {
  import Spans.Span
  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var nextId = 0

  def apply[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      open.pop()
      done += Span(id, name, parent, startMs, System.currentTimeMillis(), nanos)
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def seconds(name: String): Seq[Double] = named(name).map(_.seconds)

  /** Duration minus the part of its interval that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    s.seconds - Intervals.coveredMs(kids, s.startMs, s.endMs) / 1000.0
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"$runId",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},""" +
      s""""self_seconds":${selfSeconds(s)}}"""
  }.mkString("[", ",\n", "]")
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int,
                        startMs: Long, endMs: Long, nanos: Long) {
    def seconds: Double = nanos / 1e9
  }
}

object Intervals {
  /** Milliseconds of [lo, hi) covered by the union of `iv`. */
  def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Resident RDD-block bytes over time, from block-status updates. Cheap
  * enough to stay on in untimed and timed runs alike: it is the only
  * listener attached when tracing is off, and it feeds peak_staged_mb. */
final class BlockListener extends SparkListener {
  private val sizes = mutable.HashMap[(Int, String), Long]()
  @volatile private var resident = 0L
  /** (time ms, resident bytes after the update, rdd id, delta). */
  val updates = mutable.ArrayBuffer[(Long, Long, Int, Long)]()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val key = (b.rddId, b.name)
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        val delta = size - sizes.getOrElse(key, 0L)
        if (size == 0) sizes.remove(key) else sizes(key) = size
        resident += delta
        updates += ((System.currentTimeMillis(), resident, b.rddId, delta))
      case _ => ()
    }
  }

  def residentBytes: Long = resident

  /** Highest resident total while [lo, hi] was open. */
  def peakBytes(lo: Long, hi: Long): Long = synchronized {
    val before = updates.takeWhile(_._1 < lo).lastOption.map(_._2).getOrElse(0L)
    (before +: updates.filter(u => u._1 >= lo && u._1 <= hi).map(_._2).toSeq).max
  }
}

/** Per-job record of the traced run: Spark job → the engine module whose
  * call site submitted it, with its stages' executor metrics. */
final class TraceListener extends SparkListener {
  import TraceListener.{Job, Stage}

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, Stage]()
  val failedTasks = mutable.HashMap[Int, Int]().withDefaultValue(0)
  /** rdd id → module of the call site that created it. */
  val rddModule = mutable.HashMap[Int, String]()
  /** SQL execution id → module of the call site of its action. */
  private val execModule = mutable.HashMap[Long, String]()

  def toJson: String = synchronized {
    jobs.values.map { j =>
      val st = j.stages.flatMap(s => stages.get(s).map(s -> _)).map { case (id, m) =>
        s"""{"stage":$id,"tasks":${m.tasks},"run_ms":${m.runMs},"shuffle_write":${m.shuffleWrite},""" +
          s""""shuffle_read":${m.shuffleRead},"spill":${m.spill},"input":${m.inputBytes}}"""
      }
      s"""{"job":${j.id},"submit_ms":${j.submitMs},"end_ms":${j.endMs},""" +
        s""""module":${j.module.map(Json.str).getOrElse("null")},"stages":${st.mkString("[", ",", "]")}}"""
    }.mkString("[", ",\n", "]")
  }

  /** The job's own call site names its module; a job submitted from a
    * thread with no engine frame (AQE stages, broadcast exchanges) takes
    * the module of its SQL execution's action. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = e.stageInfos.maxByOption(_.stageId).flatMap(s => TraceListener.moduleOfStack(s.details))
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execModule.get(id.toLong))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, own.orElse(exec), e.stageInfos.map(_.stageId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      TraceListener.moduleOfStack(s.details).foreach(m => synchronized(execModule(s.executionId) = m))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.rddInfos.foreach { r =>
      TraceListener.moduleOfShortSite(r.callSite).foreach(m => rddModule.getOrElseUpdate(r.id, m))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages(si.stageId) = Stage(si.numTasks, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failedTasks(e.stageId) += 1
  }
}

object TraceListener {
  final case class Job(id: Int, submitMs: Long, var endMs: Long,
                       module: Option[String], stages: Seq[Int])
  final case class Stage(tasks: Int, runMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, inputBytes: Long)

  /** Engine module of a class name: `graft.his.*` → his, `graft.llm.*` →
    * llm, `graft.<pkg>.<Obj>` (operators, sinks, functions, …) and
    * `graft.<Obj>` → the object's name in lower case. */
  def moduleOfClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else cls.stripPrefix("graft.").split('.').toList match {
      case ("his" | "llm" | "streaming" | "queries" | "tools") :: _ =>
        Some(cls.stripPrefix("graft.").takeWhile(_ != '.'))
      case _ :: obj :: _ => Some(obj.takeWhile(_ != '$').toLowerCase)
      case obj :: Nil => Some(obj.takeWhile(_ != '$').toLowerCase)
      case Nil => None
    }

  /** The innermost engine frame of a long call site (one frame a line,
    * `cls.method(File.scala:N)`), i.e. the engine code that submitted the
    * job or action. */
  def moduleOfStack(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator)
      .map(l => l.trim.takeWhile(_ != '('))
      .map(frame => frame.take(math.max(frame.lastIndexOf('.'), 0))) // drop the method
      .collectFirst { case cls if moduleOfClass(cls).isDefined => moduleOfClass(cls).get }

  private val EngineFiles = Map(
    "TurnosJob" -> "his", "TurnosPipeline" -> "his", "TurnosOracle" -> "his",
    "CorpusJob" -> "llm")

  /** Module of a short call site (`op at File.scala:N`). RDD infos carry
    * only the file name, so engine files map by name. */
  def moduleOfShortSite(site: String): Option[String] = {
    val file = site.split(" at ").lastOption.map(_.takeWhile(_ != '.')).getOrElse("")
    if (file.isEmpty || file == "Main" || !file.head.isUpper) None
    else Some(EngineFiles.getOrElse(file, file.toLowerCase))
  }
}
