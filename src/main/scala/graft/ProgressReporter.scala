package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Progress reporting (SURVEY OP-35): the reference prints per-phase
  * row counts and status lines to its console as the ETL advances
  * (reference: src/Command/EtlHisTurnosCommand.php:118,203,209). A
  * driver-side loop can't see distributed progress, so the Spark-native
  * analog is a `SparkListener`: job/stage lifecycle events carrying
  * task counts and record metrics, pushed to a pluggable sink (default
  * stderr — swap in a metrics client or progress bar in production).
  *
  * Job lines carry the job's label and duration, so attaching a
  * reporter around `TurnosJob.run` or `CorpusJob.run` is the per-phase
  * profile of the real job: each overlapped chain shows under its
  * [[Stages.overlap]] label.
  *
  * Listener callbacks run on the listener-bus thread and MUST be cheap
  * (a slow listener drops events); this one only formats and forwards.
  */
class ProgressReporter(report: String => Unit = s => System.err.println(s))
    extends SparkListener {

  /** Total records read (input + shuffle) across completed stages. */
  val recordsSeen = new AtomicLong(0L)

  /** Running jobs: id → (submit time ms, label). */
  private val running = new ConcurrentHashMap[Int, (Long, String)]()

  /** A job's label is its job description — a [[Stages.overlap]]
    * chain's label, or whatever the caller set — quoted after its id. */
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val label = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .fold("")(d => s" '$d'")
    running.put(j.jobId, (j.time, label))
    report(s"[progress] job ${j.jobId}$label started (${j.stageInfos.size} stages)")
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val recs = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    recordsSeen.addAndGet(recs)
    val name = si.name.takeWhile(_ != '\n')
    report(s"[progress] stage ${si.stageId} '$name': ${si.numTasks} tasks, " +
      s"$recs records, ${m.executorRunTime} ms executor time")
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val (start, label) = Option(running.remove(j.jobId)).getOrElse((j.time, ""))
    report(s"[progress] job ${j.jobId}$label finished in ${j.time - start} ms: ${j.jobResult}")
  }
}

object ProgressReporter {
  /** Attach a reporter to the session's listener bus and return it
    * (detach with `spark.sparkContext.removeSparkListener`). */
  def attach(spark: SparkSession,
             report: String => Unit = s => System.err.println(s)): ProgressReporter = {
    val l = new ProgressReporter(report)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
