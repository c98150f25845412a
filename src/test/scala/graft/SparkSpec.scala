package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM (Spark
  * sessions are expensive; specs must not create their own). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** The final-stage task count of every Spark job `body` starts. A
    * listener keeps every job start; a marker job before and after
    * `body` fences its events (the listener bus is asynchronous), so all
    * of them have arrived when the count is read. Suites run one at a
    * time in the test JVM, so the jobs between the markers are `body`'s,
    * those of its [[Stages.overlap]] chains included. */
  def jobsOf(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put((String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull),
          e.stageInfos.maxBy(_.stageId).numTasks))
    }
    def fence(): Seq[Int] = {
      val marker = s"fence-${java.util.UUID.randomUUID}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val seen = Seq.newBuilder[Int]
      var e = events.poll(60, TimeUnit.SECONDS)
      while (e != null && e._1 != marker) {
        seen += e._2
        e = events.poll(60, TimeUnit.SECONDS)
      }
      assert(e != null, "the listener never saw the fence job")
      seen.result()
    }
    sc.addSparkListener(listener)
    try {
      fence()
      body
      fence()
    } finally sc.removeSparkListener(listener)
  }
}
