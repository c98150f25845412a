package graft.his

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end pipeline invariants on the sf0.001 fixture (value-level
  * parity with the reference semantics is covered by the DuckDB oracle
  * gate; these pin the structural contracts). */
class TurnosPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wide = TurnosPipeline.wideExtract(spark, sf0001).cache()
  private lazy val pac = TurnosPipeline.paciente(wide).cache()

  test("wideExtract: one row per order, 12 + 11 slot columns") {
    val orders = graft.Tables.orders(spark, sf0001)
    assert(wide.count() == orders.count())
    assert(wide.columns.length == 12 + TurnosPipeline.nSlots)
    assert(wide.select("turno_id").distinct().count() == wide.count())
  }

  test("paciente: unique documento, dense ids 1..N, cleaned names") {
    val n = pac.count()
    assert(pac.select("documento").distinct().count() == n)
    assert(pac.agg(min("id"), max("id")).as[(Long, Long)].head() == (1L, n))
    val nombres = pac.filter(col("nombre").isNotNull).select("nombre").as[String].collect()
    assert(nombres.forall(s => s == s.trim && !s.contains("  ") && s == s.toUpperCase))
  }

  test("turno: FK integrity to paciente, dense ids") {
    val t = TurnosPipeline.turno(wide, pac)
    assert(t.count() == wide.count())
    assert(t.join(pac, t("paciente_id") === pac("id"), "left_anti").count() == 0)
  }

  test("prestacion_x_turno: FK integrity both ways, duplicates preserved") {
    val long = TurnosPipeline.prestacionLong(wide)
    val turnoDim = TurnosPipeline.turno(wide, pac)
    val prest = TurnosPipeline.prestacion(long)
    val pxt = TurnosPipeline.prestacionXTurno(long, turnoDim, prest)
    assert(pxt.count() == long.count()) // one row per non-empty slot
    assert(pxt.join(prest, pxt("prestacion_id") === prest("id"), "left_anti").count() == 0)
    assert(pxt.join(turnoDim, pxt("turno_id") === turnoDim("id"), "left_anti").count() == 0)
  }

  test("wideExtractStaged: memoized per (session, dir); evictStaged releases for re-staging") {
    val a = TurnosPipeline.wideExtractStaged(spark, sf0001)
    val b = TurnosPipeline.wideExtractStaged(spark, sf0001)
    assert(a eq b, "second call must reuse the staged extract, not re-checkpoint")
    // an evicted frame's blocks are gone, so read it before eviction
    val aCount = a.count()
    val stagedRdd = a.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(stagedRdd))
    TurnosPipeline.evictStaged(spark)
    assert(!spark.sparkContext.getPersistentRDDs.contains(stagedRdd),
      "eviction must release the staged checkpoint blocks")
    val c = TurnosPipeline.wideExtractStaged(spark, sf0001)
    assert(!(a eq c), "eviction must drop the memo so the next call re-stages")
    // values are bit-identical across staging generations
    assert(c.count() == aCount)
    TurnosPipeline.evictStaged(spark)
  }
}
