package graft.queries

import org.apache.spark.sql.functions._
import graft.his.{TurnosOracle, TurnosPipeline}
import graft.operators.Reshape

/** The full reference pipeline, staged as oracle-checked queries:
  * wide extract (OP-05..13, OP-18) → paciente (OP-15/19/26/29) →
  * turno (OP-19/21) → prestacion (OP-16/20) → prestacion_x_turno
  * (OP-19/20/21). Together these cover the reference's entire
  * transform/load surface end-to-end. */
object HisQueries {
  val all: Seq[Q] = Seq(
    Q("his_extract_wide",
      (s, d) => TurnosPipeline.wideExtractStaged(s, d),
      Some(TurnosOracle.wideSql)),
    Q("his_paciente",
      (s, d) => TurnosPipeline.paciente(TurnosPipeline.wideExtractStaged(s, d)),
      Some(TurnosOracle.pacienteSql)),
    // NOTE on caching: wideExtract appears in several DAG branches of
    // the queries below AND across the standalone registry entries.
    // persist() was tried and MEASURED SLOWER at sf0.1 (68.6s ->
    // 112.4s total): parallel downstream stages raced to fill the lazy
    // cache. wideExtractStaged stages it once per (session, dir) and
    // every his_* entry reuses it (hashes unchanged).
    Q("his_turno",
      (s, d) => {
        val wide = TurnosPipeline.wideExtractStaged(s, d)
        TurnosPipeline.turno(wide, TurnosPipeline.paciente(wide))
      },
      Some(TurnosOracle.turnoSql)),
    Q("his_prestacion",
      (s, d) => TurnosPipeline.prestacion(
        TurnosPipeline.prestacionLong(TurnosPipeline.wideExtractStaged(s, d))),
      Some(TurnosOracle.prestacionSql)),
    // OP-20: the unpivot/melt stage in isolation (wide slots → long).
    Q("op20_unpivot",
      (s, d) => TurnosPipeline.prestacionLong(TurnosPipeline.wideExtractStaged(s, d)),
      Some(TurnosOracle.unpivotSql)),

    // OP-13: same dim joined once per denormalized FK column (11×),
    // broadcast once + reused; ≡ unpivot-then-join (ReshapeSpec).
    Q("op13_repeated_dim_join",
      (s, d) => {
        val wide = TurnosPipeline.wideExtractStaged(s, d)
        val dim = TurnosPipeline.prestacion(TurnosPipeline.prestacionLong(wide))
        val slots = (0 until TurnosPipeline.nSlots).map(k => s"prestacion$k")
        Reshape.repeatedDimJoin(wide, dim, "nombre", "id", slots, "p")
          .select(col("turno_id") +:
            (0 until TurnosPipeline.nSlots).map(k => col(s"p$k")): _*)
      },
      Some(TurnosOracle.repeatedDimJoinSql)),

    Q("his_prestacion_x_turno",
      (s, d) => {
        val wide = TurnosPipeline.wideExtractStaged(s, d)
        val long = TurnosPipeline.prestacionLong(wide)
        val turnoDim = TurnosPipeline.turno(wide, TurnosPipeline.paciente(wide))
        TurnosPipeline.prestacionXTurno(long, turnoDim, TurnosPipeline.prestacion(long))
      },
      Some(TurnosOracle.pxtSql)),
  )
}
