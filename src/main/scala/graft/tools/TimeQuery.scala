// Dev tool: time specific queries at a given SF with the noop sink.
// Usage: sbt -batch "runMain graft.tools.TimeQuery <sfDir> <name> [name...]"
package graft.tools

object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val cpus = graft.Sessions.devCpus
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up
    graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      val t0 = System.nanoTime()
      if (n == "his_job_e2e") {
        val out = java.nio.file.Files.createTempDirectory("graft_time_job").toFile
        graft.his.TurnosJob.run(spark, sfDir, out.getAbsolutePath, "t")
      } else if (n == "llm_job_e2e") {
        val out = java.nio.file.Files.createTempDirectory("graft_time_job").toFile
        graft.llm.CorpusJob.run(spark, sfDir, out.getAbsolutePath, "t")
      } else {
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      println(f"TIMED $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
