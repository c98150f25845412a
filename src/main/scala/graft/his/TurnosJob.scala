package graft.his

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import graft.Stages
import graft.sinks.Publish

/** The reference command's `execute()` analog (reference:
  * src/Command/EtlHisTurnosCommand.php:75-224): extract → transform →
  * all-or-nothing publish of the 4 normalized tables.
  *
  * The reference's pipeline-level invariants, mapped:
  *  - OP-31 all-or-nothing transaction  → [[Publish.publishTables]]
  *    stage-and-swap (readers see old or new version, never a mix; a
  *    failed publish leaves the old version current).
  *  - OP-33 empty-input short-circuit   → zero extracted rows returns
  *    WITHOUT touching the published target.
  *  - OP-34 load-failure detection      → any task failure aborts the
  *    staging write; the manifest never flips.
  */
object TurnosJob {

  /** Outcome: the published version (None when short-circuited) and
    * per-table row counts. */
  case class Result(published: Option[String], counts: Map[String, Long])

  def run(spark: SparkSession, sfDir: String, outRoot: String,
          version: String): Result =
    runFromWide(spark, TurnosPipeline.wideExtract(spark, sfDir), outRoot, version)

  /** Same, from an already-built wide extract (testing seam).
    *
    * Stage sharing: the wide extract feeds all four tables, and
    * paciente/turno/long each feed further tables — without staging,
    * every one of the four publish writes (plus every `denseId`
    * zipWithIndex pre-pass) RECOMPUTES the whole upstream join tree,
    * turning the job into ~sum-of-standalone-queries (measured
    * 19.5–26.5 s at sf0.1). Each shared frame is
    * staged exactly once ([[graft.Stages.stage]]) and the scope
    * releases all of them after publish, on success or failure. */
  def runFromWide(spark: SparkSession, wideIn: DataFrame, outRoot: String,
                  version: String): Result = Stages.scoped(spark) {
    val wide = Stages.stage(wideIn)
    // OP-33: never destroy the target on an empty/failed extract.
    if (wide.isEmpty) Result(None, Map.empty)
    else {
      // The dim chains fork after `wide`: paciente→turno and
      // long→prestacion are INDEPENDENT stage sequences, so they
      // overlap; only the pivot table needs all three. If one chain
      // fails, the other is cancelled before anything is published.
      val Seq((pac, turnoDim), (long, prest)) = Stages.overlap(
        "his paciente, turno" -> { () =>
          val pac = Stages.stage(TurnosPipeline.paciente(wide))
          (pac, Stages.stage(TurnosPipeline.turno(wide, pac)))
        },
        "his prestacion" -> { () =>
          val long = Stages.stage(TurnosPipeline.prestacionLong(wide))
          (long, Stages.stage(TurnosPipeline.prestacion(long)))
        })
      val pxt = Stages.stage(TurnosPipeline.prestacionXTurno(long, turnoDim, prest))

      // The fact table publishes partitioned by appointment MONTH — at
      // 100 TB readers prune whole time directories (PublishSpec proves
      // the pruning); the dims and the id-keyed pivot table stay flat.
      // Granularity is a file-size decision, not a semantic one: daily
      // dirs at this fixture scale mean ~60-row files and the write +
      // every subsequent listing is dominated by per-file overhead
      // (measured: day-partitioned publish 5.3 s, month 30× fewer
      // dirs); at production volume pick day — same mechanism.
      val tables = Map(
        "paciente" -> pac,
        "turno" -> turnoDim.withColumn("fecha_mes",
          date_format(col("fecha"), "yyyy-MM")),
        "prestacion" -> prest,
        "prestacion_x_turno" -> pxt)
      Publish.publishTables(spark, tables, outRoot, version,
        partitioning = Map("turno" -> Seq("fecha_mes")))

      // Counts come from the staged frames, not a re-read of the
      // just-written files: re-listing the partitioned table was
      // measured at ~6 s of pure FS overhead at sf0.1, and the publish
      // above either wrote every staged row or threw. Each count still
      // scans its staged blocks in two jobs (partial counts, then the
      // total), so the four run as one overlap and back-fill each
      // other's tails.
      val counts = Stages.overlap(Seq(
        "paciente" -> pac, "turno" -> turnoDim, "prestacion" -> prest,
        "prestacion_x_turno" -> pxt).map { case (name, df) =>
        s"his count $name" -> (() => name -> df.count())
      }: _*)
      Result(Some(s"v-$version"), counts.toMap)
    }
  }
}
