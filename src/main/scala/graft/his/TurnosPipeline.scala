package graft.his

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Stages, Tables}
import graft.functions.{Cleaning, Gender}
import graft.operators.{Dedup, Reshape}

/** The reference's full ETL pipeline (extract → clean → dedup → unpivot →
  * surrogate keys → 4 normalized tables), re-expressed over the driver's
  * star-schema fixtures so every stage is deterministic and
  * DuckDB-oracle-checkable.
  *
  * Mapping (reference: src/Command/EtlHisTurnosCommand.php):
  *  - orders            → turnos (one wide row per turno)
  *  - customer          → personas/pacientes (documento = c_name)
  *  - part names of the order's first ≤11 lineitems → prestacion0..10
  *    (the reference's 11 denormalized prestacion columns, :309-319)
  *  - o_orderdate       → FechaAlta (the `ORDER BY FechaAlta DESC` that
  *    drives first-wins dedup, :321)
  *
  * Synthetic messiness (padded whitespace, mixed case, nulls, duplicate
  * documento with differing spellings) is injected deterministically so
  * the cleaning / dedup operators are genuinely exercised — see
  * FIXTURES.md §2 for the required properties.
  *
  * Scale notes: dims (nation/region) are broadcast; the lineitem→slots
  * pivot is one hash shuffle on l_orderkey with map-side partial max;
  * every dense surrogate id comes from [[graft.operators.Dedup.denseId]]
  * (range-partition + zipWithIndex, no single-partition global sort).
  */
object TurnosPipeline {

  /** Deterministic given-name pool; 10 are in [[Gender.dict]], 2
    * (ANACLETO, FILOMENA) are not — they exercise unknown-name → null. */
  val givenNames: Seq[String] = Seq(
    "MARIA", "JOSE", "JUAN", "ANA", "CARLOS", "LUCIA",
    "PEDRO", "CARMEN", "DIEGO", "ROSA", "ANACLETO", "FILOMENA")

  val nSlots = 11

  private def givenName(custkey: Column): Column =
    element_at(typedLit(givenNames), (custkey % givenNames.size).cast("int") + 1)

  /** The wide HIS-extract analog — the reference's 24-join extraction
    * query shape (EtlHisTurnosCommand.php:254-322, SURVEY OP-05..13,
    * OP-18). One row per order/turno, prestaciones denormalized into 11
    * columns with deterministic whitespace padding on odd slots. */
  def wideExtract(spark: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)

    // Rank lineitems within each order by a total order (the full key is
    // unique in the fixtures) and pivot the first 11 part names into
    // prestacion0..10 — inverse of OP-20, synthesizing the reference's
    // denormalized shape.
    val ranked = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_orderkey")).orderBy(
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))))
      .filter(col("rn") <= nSlots)
      .withColumn("pad",
        when(col("rn") % 2 === 1, concat(lit(" "), col("p_name"), lit("  ")))
          .otherwise(col("p_name")))
    val slotAggs = (0 until nSlots).map { k =>
      max(when(col("rn") === k + 1, col("pad"))).as(s"prestacion$k")
    }
    val slots = ranked.groupBy(col("l_orderkey"))
      .agg(slotAggs.head, slotAggs.tail: _*)

    val sec = (o("o_orderkey") * 7919) % 86400
    val two = (x: Column) => lpad(x.cast("string"), 2, "0")
    val hora = concat(
      two((sec / 3600).cast("int")), lit(":"),
      two(((sec % 3600) / 60).cast("int")), lit(":"),
      two((sec % 60).cast("int")))

    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .join(slots, o("o_orderkey") === slots("l_orderkey"), "left_outer")
      .select(
        (Seq(
          o("o_orderkey").as("turno_id"),
          o("o_orderpriority").as("turno_tipo"),
          c("c_name").as("paciente_documento"),
          when(c("c_custkey") % 37 === 0, lit(null))
            .otherwise(concat(lit("  "), givenName(c("c_custkey")),
                              lit("  "), lower(c("c_mktsegment")), lit(" ")))
            .as("paciente_nombre_raw"),
          when(c("c_custkey") % 41 === 0, lit(null))
            .otherwise(concat(n("n_name"), lit("   "), r("r_name")))
            .as("paciente_apellido_raw"),
          to_date(o("o_orderdate")).as("fecha"),
          hora.as("hora"),
          (((o("o_orderkey") % 12) + 1) * 5).cast("int").as("duracion_minutos"),
          (o("o_orderkey") % 10 === 0).as("sobreturno"),
          o("o_orderstatus").as("estado"),
          o("o_orderdate").as("fecha_alta"),
          concat(lit("user"), (o("o_orderkey") % 7).cast("string")).as("usuario_alta"),
        ) ++ (0 until nSlots).map(k => col(s"prestacion$k"))): _*)
  }

  /** The wide extract, eagerly staged ONCE per (session, sf-dir) and
    * shared across every `his_*` registry entry: each standalone table
    * query used to recompute the full 6-table extract (~7 s each at
    * sf0.1 — the dominant his-family bench cost), which per-query
    * registration otherwise forces. [[Stages.stage]] computes the
    * extract on FIRST use and later queries reuse the materialized
    * blocks (the lazy `persist()` tried in round 3 MEASURED slower:
    * downstream stages raced to fill the cache). Values are
    * bit-identical to [[wideExtract]] (staging only truncates lineage),
    * so every oracle hash is unchanged. Keyed by (session, dir):
    * Verify/Bench/ScaleCheck each reuse within their own session; a new
    * session re-stages. Call it outside any [[Stages.scoped]] body: a
    * scope would release the memoized frame.
    *
    * The staging thunk runs under the memo lock: TrieMap's
    * getOrElseUpdate may evaluate a racing first call's thunk twice,
    * which here would eagerly checkpoint the extract twice and leak
    * the losing copy's blocks with no handle left to unpersist them.
    * The checkpoint is seconds-scale, so holding a JVM lock for it is
    * fine (harness processes stage once per session). Entries hold
    * staged blocks for the session's lifetime BY DESIGN (the registry
    * reuses them across queries); [[evictStaged]] is the eviction path
    * for long-lived sessions that are done with the his family. */
  def wideExtractStaged(spark: SparkSession, dir: String): DataFrame =
    wideMemo.synchronized {
      wideMemo.getOrElseUpdate((spark, dir),
        Stages.stage(wideExtract(spark, dir)))
    }

  /** Drop every staged extract belonging to `spark` and release its
    * checkpoint blocks ([[Stages.release]]; reclaim is async, callers
    * don't wait on the BlockManager). An evicted frame can no longer be
    * read. Safe to call between his-family workloads; the next
    * `wideExtractStaged` simply re-stages. */
  def evictStaged(spark: SparkSession): Unit = wideMemo.synchronized {
    wideMemo.keys.filter(_._1 eq spark).foreach { k =>
      wideMemo.remove(k).foreach(Stages.release)
    }
  }

  private val wideMemo =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), DataFrame]

  /** `paciente` dim: ordered first-wins dedup by documento (SURVEY OP-15:
    * winner = most recent fecha_alta, tiebreak turno_id — §7.4 decision),
    * cleaned names (OP-26), gender inference (OP-29), dense ids (OP-19). */
  def paciente(wide: DataFrame): DataFrame = {
    val cleaned = wide.select(
      col("paciente_documento").as("documento"),
      Cleaning.limpiarNombres(col("paciente_nombre_raw")).as("nombre"),
      Cleaning.limpiarNombres(col("paciente_apellido_raw")).as("apellido"),
      col("fecha_alta"), col("turno_id"))
    val first = Dedup.firstWins(cleaned, Seq("documento"),
      Seq(col("fecha_alta").desc, col("turno_id").asc))
    val withSexo = first.select(
      col("nombre"), col("apellido"), col("documento"),
      Gender.inferirSexo(Cleaning.firstToken(col("nombre"))).as("sexo_inferido"))
    Dedup.denseId(withSexo, Seq(col("documento")), "id")
      .select("id", "nombre", "apellido", "documento", "sexo_inferido")
  }

  /** `turno` fact: surrogate id in reference insertion order
    * (fecha_alta DESC, natural id tiebreak), paciente FK resolved by a
    * join on documento (SURVEY OP-21). The paciente dim is NOT force-
    * broadcast: its cardinality is the number of distinct patients, which
    * grows with the fact table — at 100 TB it is fact-like. AQE broadcasts
    * it when it is actually small (asserted at fixture scale in PlanSpec)
    * and falls back to a shuffled hash join when it is not. */
  def turno(wide: DataFrame, pacienteDim: DataFrame): DataFrame = {
    val withFk = wide.join(pacienteDim.select(col("id").as("paciente_id"), col("documento")),
      wide("paciente_documento") === col("documento"))
    val withId = Dedup.denseId(withFk,
      Seq(col("fecha_alta").desc, col("turno_id").asc), "id")
    withId.select(
      col("id"), col("turno_id").as("turno_natural_id"), col("paciente_id"),
      col("fecha"), col("hora"), col("duracion_minutos"), col("sobreturno"),
      col("estado"), col("fecha_alta"), col("usuario_alta"))
  }

  /** Long-form (turno, slot, nombre) — the reference's unpivot loop
    * (OP-20) with the non-empty gate and trim. */
  def prestacionLong(wide: DataFrame): DataFrame =
    Reshape.unpivotNonEmpty(wide, Seq("turno_id"),
      (0 until nSlots).map(k => s"prestacion$k"), "slot", "nombre")
      .withColumnRenamed("turno_id", "turno_natural_id")

  /** `prestacion` catalog: order-insensitive distinct of trimmed names
    * (OP-16) + dense ids by name (OP-19). */
  def prestacion(long: DataFrame): DataFrame =
    Dedup.denseId(long.select(col("nombre")).distinct(), Seq(col("nombre")), "id")
      .select("id", "nombre")

  /** `prestacion_x_turno` pivot table: natural keys → surrogate FKs
    * (OP-21), id in reference insertion order (turno id, prestacion id,
    * slot). Duplicate (turno, prestacion) pairs are kept — the reference
    * inserts one row per non-empty column, duplicates included. */
  def prestacionXTurno(long: DataFrame, turnoDim: DataFrame, prestacionDim: DataFrame): DataFrame = {
    val joined = long
      .join(turnoDim.select(col("id").as("t_id"), col("turno_natural_id")), Seq("turno_natural_id"))
      .join(broadcast(prestacionDim.select(col("id").as("prestacion_id"), col("nombre"))), Seq("nombre"))
    Dedup.denseId(joined, Seq(col("t_id"), col("prestacion_id"), col("slot")), "id")
      .select(col("id"), col("t_id").as("turno_id"), col("prestacion_id"))
  }
}
