package graft.his

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sinks.Publish

class TurnosJobSpec extends SparkSpec {

  private def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_job").toFile
    dir.deleteOnExit(); dir.getAbsolutePath
  }

  test("end-to-end: extract → transform → atomic 4-table publish") {
    val root = freshRoot()
    val res = TurnosJob.run(spark, sf0001, root, "001")
    assert(res.published.contains("v-001"))
    assert(res.counts.keySet ==
      Set("paciente", "turno", "prestacion", "prestacion_x_turno"))
    assert(res.counts.values.forall(_ > 0))
    // published tables are consistent: every turno FK resolves
    val pac = Publish.readTable(spark, root, "paciente")
    val turno = Publish.readTable(spark, root, "turno")
    assert(turno.join(pac, turno("paciente_id") === pac("id"), "left_anti").count() == 0)
  }

  test("published tables row-match the oracle-checked his_* queries (bench-entry parity)") {
    // his_job_e2e in Bench times THIS job; its outputs must be the same
    // rows the CORRECTNESS gate already hash-checks via the standalone
    // his_* queries.
    val root = freshRoot()
    TurnosJob.run(spark, sf0001, root, "001")
    val pairs = Seq(
      "paciente" -> "his_paciente",
      "turno" -> "his_turno",
      "prestacion" -> "his_prestacion",
      "prestacion_x_turno" -> "his_prestacion_x_turno")
    pairs.foreach { case (table, query) =>
      val published = Publish.readTable(spark, root, table)
      val oracle = graft.SparkEntry.queries(query)(spark, sf0001)
      val cols = oracle.columns.sorted.map(col)
      val a = published.select(cols: _*).collect().map(_.toSeq).toSet
      val b = oracle.select(cols: _*).collect().map(_.toSeq).toSet
      assert(a == b, s"published $table diverges from $query")
      // Published schema = oracle schema, plus EXACTLY the declared
      // partition column on the fact table — pin it so a layout change
      // can't silently alter the published contract (JDBC loaders and
      // fecha-filtering readers must know about fecha_mes).
      val extra = published.columns.toSet -- oracle.columns.toSet
      val expected = if (table == "turno") Set("fecha_mes") else Set.empty[String]
      assert(extra == expected,
        s"unexpected extra columns on published $table: $extra")
    }
  }

  test("empty extract short-circuits and leaves the previous version intact") {
    val root = freshRoot()
    TurnosJob.run(spark, sf0001, root, "001")
    val wide = TurnosPipeline.wideExtract(spark, sf0001).filter(lit(false))
    val res = TurnosJob.runFromWide(spark, wide, root, "002")
    assert(res.published.isEmpty)
    assert(Publish.currentVersion(spark, root).contains("v-001"))
    assert(Publish.readTable(spark, root, "turno").count() > 0)
  }

  test("a failing chain cancels its sibling: nothing runs on, nothing stays staged, v-001 stays current") {
    val root = freshRoot()
    TurnosJob.run(spark, sf0001, root, "001")
    // paciente needs the dropped column, so its chain fails at analysis
    // while the prestacion chain is still staging
    val wide = TurnosPipeline.wideExtract(spark, sf0001).drop("paciente_nombre_raw")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](TurnosJob.runFromWide(spark, wide, root, "002"))
    val active = sc.statusTracker.getActiveJobIds
    assert(active.isEmpty, s"jobs ${active.mkString(",")} still run after the job failed")
    assert(e.getMessage.contains("paciente_nombre_raw"), e.getMessage)
    // compare key sets, not sizes: the context cleaner may drop older
    // RDDs meanwhile, which is no leak of this call
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the failed job left ${added.size} persisted RDDs behind")
    assert(Publish.currentVersion(spark, root).contains("v-001"))
    assert(!new java.io.File(root, "v-002").exists())
  }
}
