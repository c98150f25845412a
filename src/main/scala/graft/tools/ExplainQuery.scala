// Dev tool: print the formatted physical plan of registered queries.
// Usage: sbt -batch "runMain graft.tools.ExplainQuery <sfDir> <name> [name...]"
package graft.tools

import org.apache.spark.sql.execution.ExplainMode

object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val cpus = graft.Sessions.devCpus
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      println(s"===== $n =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
