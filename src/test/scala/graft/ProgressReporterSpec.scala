package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class ProgressReporterSpec extends SparkSpec {
  import spark.implicits._

  test("reporter sees job start/end and stage record counts") {
    val buf = new ConcurrentLinkedQueue[String]()
    val rep = ProgressReporter.attach(spark, buf.add(_))
    try {
      // parquet-backed input: LocalTableScan reports no input records,
      // a file scan does.
      val n = Tables.lineitem(spark, sf0001)
        .groupBy($"l_returnflag").count().count()
      assert(n > 0)
      // listener bus is async — poll briefly for delivery
      val deadline = System.nanoTime() + 10e9.toLong
      def lines = buf.asScala.toSeq
      while (System.nanoTime() < deadline &&
        !(lines.exists(_.contains("started")) && lines.exists(_.contains("finished")))) {
        Thread.sleep(50)
      }
      assert(lines.exists(l => l.contains("[progress] job") && l.contains("started")))
      assert(lines.exists(l => l.contains("[progress] job") && l.contains("finished")))
      assert(lines.exists(l => l.contains("[progress] stage") && l.contains("tasks")))
      assert(rep.recordsSeen.get() >= 1000L, s"records=${rep.recordsSeen.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(rep)
    }
  }

  test("job lines carry the overlap chain's label and the job's duration") {
    val buf = new ConcurrentLinkedQueue[String]()
    val rep = ProgressReporter.attach(spark, buf.add(_))
    try {
      Stages.overlap("progress probe" -> (() => spark.range(100).count()))
      def lines = buf.asScala.toSeq
      def labelled = lines.exists(l => l.contains("'progress probe' finished in ") && l.contains(" ms: "))
      val deadline = System.nanoTime() + 10e9.toLong
      while (System.nanoTime() < deadline && !labelled) Thread.sleep(50)
      assert(lines.exists(l => l.contains("'progress probe' started")), lines.mkString("\n"))
      assert(labelled, lines.mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(rep)
    }
  }
}
