package graft.sinks

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import graft.Stages

/** Multi-table atomic publish — the engine-level replacement for the
  * reference's all-or-nothing load transaction (reference:
  * src/Command/EtlHisTurnosCommand.php:104,208,211-221 — SURVEY OP-31).
  *
  * Spark writes are atomic per table at best, so cross-table atomicity
  * is done stage-and-swap: every table of a version is written under
  * `<root>/v-<version>/<table>` first, and only after ALL writes
  * succeed is the `_CURRENT` manifest flipped to the new version with
  * ONE atomic rename (FileContext.rename OVERWRITE — atomic on HDFS
  * and POSIX; object stores need their own conditional-put primitive).
  * Readers resolve through the manifest, so they observe either the
  * complete old version or the complete new one — never a mix, and a
  * failed publish leaves the previous version current (the reference's
  * "never destroy the target on a failed load" invariant, OP-33/34).
  */
object Publish {

  private def fc(spark: SparkSession): FileContext =
    FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)

  /** Stage all tables under v-<version>, then atomically flip _CURRENT.
    * Throws (leaving the previous version current and intact) if any
    * table write fails; the partial staging dir is removed.
    *
    * `partitioning` maps a table name to its partition columns — at
    * 100 TB fact tables MUST be written partitioned (time/tenant) so
    * readers prune at the directory level; dims stay flat. Partitioned
    * tables ride the same stage-and-swap: the manifest flip publishes
    * all partitions of all tables at once.
    *
    * A partitioned table is hash-clustered on its partition columns
    * into [[writeTasks]] tasks before the write, so each directory
    * value's rows land in one task and one file. The count is pinned:
    * adaptive execution folds an unpinned `repartition(cols)` of a
    * small table into ONE task that writes every directory serially
    * (`turno`'s ~79 month files: 1.08–1.15 s on 4 cores, and
    * 0.69–0.71 s pinned to 4 tasks). There is no
    * salt (published tables have no id to salt on, and counting a
    * table's directories costs a job), so at scale a table still writes
    * one task per directory value: a single huge month is one task and
    * one file. */
  def publishTables(spark: SparkSession, tables: Map[String, DataFrame],
                    root: String, version: String,
                    partitioning: Map[String, Seq[String]] = Map.empty): Unit = {
    val ctx = fc(spark)
    val vdir = new Path(root, s"v-$version")
    try {
      // The per-table writes are INDEPENDENT jobs over already-staged
      // frames, so they overlap: each write's commit/file-I/O tail
      // frees executors the next table's tasks back-fill. Atomicity is
      // untouched — overlap returns only after EVERY write has settled
      // (a failure cancels the others first), so the staging dir below
      // is never deleted while a sibling write could still recreate
      // paths in it, and the manifest flips only after all succeeded.
      Stages.overlap(tables.toSeq.map { case (name, df) => s"publish $name" -> { () =>
        // Cluster partitioned tables by their partition columns before
        // the write: without it every upstream task opens a file in
        // every partition directory (tasks × values small files — the
        // writeBucketedCorpus lesson), bloating both the write and
        // every subsequent listing.
        val w = partitioning.get(name).filter(_.nonEmpty) match {
          case Some(cols) => df.repartition(writeTasks(df), cols.map(col): _*)
            .write.partitionBy(cols: _*)
          case None => df.write
        }
        w.mode("overwrite").parquet(new Path(vdir, name).toString)
      }}: _*)
    } catch {
      case e: Throwable =>
        try ctx.delete(vdir, true) catch { case _: Throwable => () }
        throw e
    }
    flipManifest(spark, root, version)
  }

  /** Tasks of a clustered partitioned write of `input` (a published
    * table here, a stored ANN index in [[graft.operators.Similarity]]):
    * max(defaultParallelism, ⌈input bytes / AQE's advisory partition
    * size⌉). Input bytes are summed over the sources the input reads:
    * the optimizer's size of files and local rows (a join's estimate
    * would multiply), and the stored blocks of a staged frame, whose
    * plan statistics are the estimate of the plan it was staged from
    * (~2.3e18 bytes for `TurnosJob`'s `turno`). A source of unknown
    * size counts as nothing. Per-file commit work is serial within a
    * task, so a small write wants every core and no more tasks than
    * that. The caller pins the count with `repartition(tasks, keys…)`,
    * which adaptive execution does not coalesce. */
  private[graft] def writeTasks(input: DataFrame): Int = {
    val spark = input.sparkSession
    val conf = spark.sessionState.conf
    val unknown = BigInt(conf.defaultSizeInBytes)
    lazy val stored = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> BigInt(i.memSize + i.diskSize)).toMap
    val bytes = input.queryExecution.optimizedPlan.collectLeaves().map {
      case r: LogicalRDD => stored.getOrElse(r.rdd.id, BigInt(0))
      case leaf => Some(leaf.stats.sizeInBytes).filter(_ < unknown).getOrElse(BigInt(0))
    }.sum
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    math.max(spark.sparkContext.defaultParallelism,
      ((bytes + advisory - 1) / advisory).min(Int.MaxValue).toInt)
  }

  /** Concurrency contract: the flip itself is a single atomic
    * rename-overwrite, so N racing publishers can never tear the
    * manifest — readers always resolve a complete version, and the
    * winner is simply the LAST rename (each publisher's staging dir is
    * private, so the losers' versions remain intact on disk, just not
    * current). Publishers that must not silently overwrite each other
    * use [[tryFlipManifest]]: compare-and-swap semantics via an
    * atomic-create lock file — the loser gets `false` and retries
    * against the new current version or fails clean. On object stores
    * replace the lock with the store's conditional-put primitive. */
  def tryFlipManifest(spark: SparkSession, root: String, version: String,
                      expectCurrent: Option[String]): Boolean = {
    val ctx = fc(spark)
    val lock = new Path(root, "_PUBLISH_LOCK")
    val lockStream =
      try ctx.create(lock, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      catch { case _: java.io.IOException => return false } // lock held: lose cleanly
    try {
      lockStream.close()
      if (currentVersion(spark, root) != expectCurrent) false // raced: stale expectation
      else { flipManifest(spark, root, version); true }
    } finally {
      try ctx.delete(lock, false) catch { case _: Throwable => () }
    }
  }

  /** Atomically point `_CURRENT` at `v-<version>` (write-temp +
    * rename-overwrite). The staged version dir must already be
    * complete — this is the publication instant. */
  def flipManifest(spark: SparkSession, root: String, version: String): Unit = {
    val ctx = fc(spark)
    val tmp = new Path(root, s"_CURRENT.$version.tmp")
    val out = ctx.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(s"v-$version".getBytes("UTF-8")) finally out.close()
    ctx.rename(tmp, new Path(root, "_CURRENT"), Options.Rename.OVERWRITE)
  }

  /** The currently-published version directory name, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[String] = {
    val ctx = fc(spark)
    val cur = new Path(root, "_CURRENT")
    if (!ctx.util.exists(cur)) None
    else {
      val in = ctx.open(cur)
      try {
        val bytes = new Array[Byte](256)
        val n = in.read(bytes)
        Some(new String(bytes, 0, math.max(n, 0), "UTF-8").trim)
      } finally in.close()
    }
  }

  /** Read a table of the currently-published version. */
  def readTable(spark: SparkSession, root: String, table: String): DataFrame = {
    val v = currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no published version under $root"))
    spark.read.parquet(new Path(new Path(root, v), table).toString)
  }

  /** Time travel: read `table` AS OF a specific retained version — the
    * rollback/debug/reproducibility read the stage-and-swap layout
    * gives for free until [[vacuum]] reclaims the version dir. Fails
    * loudly when the version was vacuumed or never published (a silent
    * empty read would be indistinguishable from data loss downstream).
    * Reading an old version costs nothing extra at 100 TB: it is the
    * same parquet scan, just resolved through a pinned directory
    * instead of `_CURRENT`. */
  def readTableAt(spark: SparkSession, root: String, table: String,
                  version: String): DataFrame = {
    val ctx = fc(spark)
    val vdir = new Path(root, s"v-$version")
    require(ctx.util.exists(vdir),
      s"version v-$version not present under $root (vacuumed or never published)")
    spark.read.parquet(new Path(vdir, table).toString)
  }

  /** Reconciliation diff between two retained versions of a table: one
    * row per CHANGED key, classified inserted / deleted / updated —
    * "what did this publish actually change", the audit read behind
    * CDC verification, rollback review, and incremental-consumer
    * catch-up. One full-outer join on the key (each side shuffles once;
    * with [[Bucketed]] layouts it would be exchange-free) and a
    * null-safe comparison over the shared non-key columns, so unchanged
    * rows drop out and the output is DELTA-sized — at 100 TB you read
    * two versions but only the churn comes back. Presence is tracked by
    * explicit marker columns, never by value-column nullness (a
    * legitimately all-null row is not an absent row). */
  def versionDiff(spark: SparkSession, root: String, table: String,
                  keyCols: Seq[String], vOld: String, vNew: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "versionDiff needs at least one key column")
    val o = readTableAt(spark, root, table, vOld)
    val n = readTableAt(spark, root, table, vNew)
    val valueCols = o.columns.filterNot(keyCols.contains)
      .filter(n.columns.contains).toSeq
    val ok = o.select(keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"__o_$c")): _*)
      .withColumn("__o_present", lit(true))
    val nk = n.select(keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"__n_$c")): _*)
      .withColumn("__n_present", lit(true))
    val changed = valueCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    ok.join(nk, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__o_present").isNull, "inserted")
          .when(col("__n_present").isNull, "deleted")
          .when(changed, "updated"))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type"): _*)
  }

  /** Retention for the stage-and-swap lake: every publish leaves its
    * full `v-<version>` directory behind, which at 100 TB is the
    * storage bill doubling with every run. `vacuum` deletes published
    * version dirs EXCEPT the current one and the `keepLast` most
    * recent others (time-travel/rollback window). The current version
    * is never deleted regardless of age — a concurrent reader resolves
    * through `_CURRENT` and must always find its data — and non-version
    * paths (manifest, temp files, foreign dirs) are never touched.
    * Returns the deleted version dir names.
    *
    * Only versions strictly OLDER than the current one (under
    * [[versionOrdering]]) are candidates: a concurrent publisher's
    * in-flight staging dir is always newer than `_CURRENT` (versions
    * increase monotonically), so the newer-or-equal guard means vacuum
    * can never delete a directory mid-stage and leave the subsequent
    * manifest flip pointing at nothing. The ordering compares the
    * DIGITS of `v-<digits>[-suffix]` names numerically — a plain
    * string compare breaks exactly at the padding rollover
    * (`v-1000000000` sorts lexicographically BEFORE `v-999999999`),
    * where a concurrent publisher's wider in-flight dir would become
    * vacuum-eligible. With no published version at all, nothing is
    * deleted — an unpublished staging dir is indistinguishable from
    * data. Callers using non-numeric version strings just get a more
    * conservative — still safe — retention choice, PROVIDED the root
    * sticks to one naming discipline: non-numeric names sort after
    * every numeric one, so under a numeric `_CURRENT` they are never
    * eligible, while a non-numeric `_CURRENT` over numeric staging
    * dirs (a mixed-discipline root, out of contract) could vacuum
    * them — same as before this ordering existed. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 0, s"keepLast must be >= 0: $keepLast")
    val ctx = fc(spark)
    val cur = currentVersion(spark, root)
    val versions = listVersions(spark, root)
      .filter(v => cur.exists(c => versionOrdering.lt(v, c)))
      .sorted(versionOrdering.reverse)
    val doomed = versions.drop(keepLast)
    doomed.foreach(v => ctx.delete(new Path(root, v), true))
    doomed
  }

  private val VersionDigits = """^v-(\d+)(-.*)?$""".r

  /** Total order on version dir names, numeric-aware: `v-<digits>`
    * (with an optional maintenance suffix, e.g. `-c3` from
    * [[Lake.compactPublished]]) compares by the digits' VALUE first,
    * then the suffix — so `v-999999999 < v-1000000000` holds even
    * though the padding width rolled over, and `v-000000123 <
    * v-000000123-c1` keeps a compaction republish newer than its
    * source batch. Names not in that shape compare as plain strings
    * and sort after every numeric name (a lawful total order: compare
    * on the tuple (is-non-numeric, digits, suffix/string)). */
  private[graft] val versionOrdering: Ordering[String] = new Ordering[String] {
    private def key(v: String): Option[(BigInt, String)] = v match {
      case VersionDigits(d, sfx) => Some((BigInt(d), if (sfx == null) "" else sfx))
      case _ => None
    }
    def compare(a: String, b: String): Int = (key(a), key(b)) match {
      case (Some((da, sa)), Some((db, sb))) =>
        val c = da.compare(db); if (c != 0) c else sa.compareTo(sb)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case (None, None)    => a.compareTo(b)
    }
  }

  /** All version dir names (`v-*`) under `root`, published or staged. */
  def listVersions(spark: SparkSession, root: String): Seq[String] = {
    val ctx = fc(spark)
    val p = new Path(root)
    if (!ctx.util.exists(p)) Seq.empty
    else ctx.util.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("v-"))
  }
}
