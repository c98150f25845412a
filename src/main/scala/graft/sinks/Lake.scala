package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.RuntimeFilter

/** File-level data skipping for a parquet lake table — the min/max
  * stats manifest that lakehouse formats (Delta/Iceberg/Hudi) keep per
  * file, implemented on plain parquet: one manifest row per data file
  * with the min/max of chosen columns, written under a `_`-prefixed
  * subdirectory (invisible to `spark.read.parquet` — same convention as
  * `_SUCCESS`). A predicate-bounded read then prunes files BEFORE the
  * scan plan is even built, so a 100 TB table with a tight clustering
  * layout answers a selective query by reading a handful of files.
  *
  * Row-group stats inside parquet footers already serve the same role
  * WITHIN a file; the manifest works ACROSS files, where the planner
  * otherwise has to list and open every footer. Skipping is
  * conservative: a file survives if its [min,max] interval intersects
  * the queried range, and the caller re-applies the exact predicate —
  * results are identical to a full scan by construction (the oracle
  * row checks exactly that).
  *
  * Skipping is only as good as the layout: [[writeClustered]] range-
  * partitions + sorts so each file owns a narrow range of the cluster
  * key; [[zorderValue]] interleaves two keys' bits so BOTH dimensions
  * stay narrow per file (the multi-dimensional clustering the Z-order
  * literature and Delta's OPTIMIZE ZORDER BY implement).
  */
object Lake {

  val StatsDir = "_stats_manifest"

  /** Per-file bloom geometry. 3 hashes × 1024 bits ≈ 1.2% FP at 100
    * distinct keys/file; FP only costs an extra file read, never a
    * wrong result (the exact predicate re-applies). */
  val BloomHashes = 3
  val BloomBits = 1024

  /** Range-cluster `df` by `clusterCols` into `numFiles` files and
    * write parquet + stats manifest for `statsCols`. Each output file
    * covers a contiguous range of the cluster key (range repartition
    * picks boundaries by sampling; sortWithinPartitions keeps parquet
    * row groups tight). `numFiles` is EXPLICIT — AQE would otherwise
    * coalesce a small shuffle into one file and no layout survives;
    * size it as table_bytes / target_file_bytes (128–512 MB files at
    * 100 TB). */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[Column],
                     statsCols: Seq[String], numFiles: Int = 16,
                     bloomCols: Seq[String] = Nil): Unit = {
    df.repartitionByRange(numFiles, clusterCols: _*)
      .sortWithinPartitions(clusterCols: _*)
      .write.mode("overwrite").parquet(path)
    writeStats(df.sparkSession, path, statsCols, bloomCols)
  }

  /** (Re)build the stats manifest: one distributed pass grouped by
    * `input_file_name()` — no driver-side data. The manifest itself is
    * file-count-sized (tiny), coalesced to one file.
    *
    * `bloomCols` get a per-file bloom filter for POINT lookups on
    * non-cluster columns (min/max is useless when the column is
    * uncorrelated with the layout — the Delta "bloom filter index"
    * case). The bloom is stored as the sorted array of set bit
    * positions, built from the same split-one-md5 hash family as
    * [[graft.operators.RuntimeFilter]] — each collect_set is bounded
    * by [[BloomBits]] per file regardless of row count. Integral and
    * string key columns only (the hash is over the string form). */
  def writeStats(spark: SparkSession, path: String, statsCols: Seq[String],
                 bloomCols: Seq[String] = Nil): Unit = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "writeStats needs at least one stats or bloom column — a manifest " +
        "with no per-file summaries cannot prune anything")
    val data = spark.read.parquet(path)
    val withPos = bloomCols.foldLeft(data) { (df, c) =>
      RuntimeFilter.bloomPositions(col(c), BloomHashes, BloomBits).zipWithIndex
        .foldLeft(df) { case (d, (p, i)) => d.withColumn(s"__pos_${c}_$i", p) }
    }
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      bloomCols.map(c => array_sort(array_distinct(concat(
        (0 until BloomHashes).map(i => collect_set(col(s"__pos_${c}_$i"))): _*)))
        .as(s"bloom_$c"))
    withPos.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$StatsDir")
  }

  /** The stats manifest of the table at `path`, read from its part
    * files. Spark's path filter classes the `_`-prefixed manifest root
    * itself as hidden and reads it only through its fallback to the
    * unfiltered path list (logging "All paths were ignored"); the part
    * files, listed on the driver, are ordinary paths. */
  private def readManifest(spark: SparkSession, path: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/$StatsDir")
    val parts = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath).filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    spark.read.parquet(parts.map(_.toString).toSeq: _*)
  }

  /** Driver-side mirror of [[RuntimeFilter.bloomPositions]] (same md5
    * slicing), for probing the manifest with a literal key. */
  private[sinks] def bloomPositionsLocal(value: String): Seq[Long] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until BloomHashes).map(i =>
      java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) % BloomBits)
  }

  /** Point-lookup file pruning via the per-file blooms: keep only
    * files whose bloom has ALL the key's bit positions set. The caller
    * re-applies the exact equality (bloom FPs read extra files, never
    * return wrong rows). */
  def readPrunedEq(spark: SparkSession, path: String, column: String,
                   value: Any, maxFiles: Int = MaxPrunedFiles): DataFrame = {
    val pos = bloomPositionsLocal(String.valueOf(value))
    val stats = readManifest(spark, path)
    val files = collectFilesBounded(stats
      .filter(pos.map(p => array_contains(col(s"bloom_$column"), p)).reduce(_ && _)),
      maxFiles, path)
    if (files.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.parquet(files.toSeq: _*)
  }

  /** Hard ceiling on the driver-side surviving-file list the pruned
    * readers collect. A manifest prune that keeps more paths than this
    * is no longer a prune — it is a full-table read routed through
    * driver memory (at 100 TB with small files, millions of ~100-byte
    * path strings), so the readers fail loudly instead of OOMing the
    * driver mid-collect. 2^20 paths ≈ 100 MB of strings — generous for
    * a genuinely selective prune, far below driver-heap risk. */
  val MaxPrunedFiles: Int = 1 << 20

  /** Collect the surviving file list with the cap enforced BY THE
    * PLAN: `limit(max+1)` bounds what can ever reach the driver to
    * max+1 rows, and the +1 row distinguishes "exactly at the cap"
    * from "over it". Over the cap → fail loudly with the remedies (a
    * wider-selectivity read belongs on the plain path; too many small
    * files wants [[compactPublished]]). */
  private def collectFilesBounded(kept: DataFrame, maxFiles: Int,
                                  path: String): Seq[String] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    val files = kept.select(col("file")).limit(maxFiles + 1)
      .collect().map(_.getString(0)).toSeq
    if (files.size > maxFiles) throw new IllegalStateException(
      s"manifest prune under $path keeps > $maxFiles files — not a prune " +
        "anymore; read the table directly (spark.read.parquet(path) + " +
        "predicate) or compact the layout (Lake.compactPublished) first")
    files
  }

  /** Files the bloom prune keeps for `column = value` vs total. */
  def pruneStatsEq(spark: SparkSession, path: String, column: String,
                   value: Any): (Long, Long) = {
    val pos = bloomPositionsLocal(String.valueOf(value))
    val stats = readManifest(spark, path)
    val kept = stats
      .filter(pos.map(p => array_contains(col(s"bloom_$column"), p)).reduce(_ && _))
      .count()
    (kept, stats.count())
  }

  /** Read only the files whose [min,max] can intersect [lo, hi] on
    * `column`. The manifest collect is driver work bounded by
    * `maxFiles` ([[MaxPrunedFiles]] default) — enforced in the plan
    * via `limit`, so an unselective prune fails loudly BEFORE paths
    * flood driver memory instead of OOMing at 100 TB small-file
    * layouts. The result is a conservative SUPERSET of the matching
    * rows: the caller applies the exact predicate on top (Catalyst
    * additionally pushes it into the surviving files' row-group
    * stats). */
  def readPruned(spark: SparkSession, path: String, column: String,
                 lo: Long, hi: Long, maxFiles: Int = MaxPrunedFiles): DataFrame = {
    val stats = readManifest(spark, path)
    val files = collectFilesBounded(stats
      .filter(col(s"max_$column") >= lo && col(s"min_$column") <= hi),
      maxFiles, path)
    if (files.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.parquet(files.toSeq: _*)
  }

  /** Files the manifest would read for [lo, hi] vs total — the skipping
    * ratio, for specs and ops visibility. */
  def pruneStats(spark: SparkSession, path: String, column: String,
                 lo: Long, hi: Long): (Long, Long) = {
    val stats = readManifest(spark, path)
    val kept = stats.filter(col(s"max_$column") >= lo && col(s"min_$column") <= hi).count()
    (kept, stats.count())
  }

  /** Compact + re-cluster the current published version of a
    * single-table lake root into a NEW atomic version: read through the
    * manifest, rewrite as `numFiles` range-clustered files with a fresh
    * stats manifest, flip `_CURRENT`. Readers see the old complete
    * layout until the flip (stage-and-swap, same protocol as
    * [[Publish]]); the old version stays for time travel until
    * [[Publish.vacuum]]. This is the OPTIMIZE/compaction maintenance
    * op every streaming ingest needs at 100 TB — micro-batches write
    * many small files, and scan cost is per-file.
    *
    * Scope: the root's versions hold ONE table (the snapshot-publish
    * shape of [[graft.streaming.StreamingOps.publishSnapshots]]);
    * multi-table versions would need untouched tables copied or
    * per-table manifests. */
  def compactPublished(spark: SparkSession, root: String, table: String,
                       clusterCols: Seq[Column], statsCols: Seq[String],
                       newVersion: String, numFiles: Int = 16,
                       bloomCols: Seq[String] = Nil): Unit = {
    val cur = Publish.currentVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no published version under $root"))
    require(Publish.versionOrdering.gt(s"v-$newVersion", cur),
      s"newVersion v-$newVersion must sort after current $cur (monotonic versions)")
    try {
      writeClustered(Publish.readTable(spark, root, table),
        s"$root/v-$newVersion/$table", clusterCols, statsCols, numFiles, bloomCols)
    } catch {
      // mirror publishTables: a failed compaction must not leave a
      // staged dir that sorts newer than current (vacuum only reclaims
      // versions OLDER than current, so it would linger forever)
      case e: Throwable =>
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(root, s"v-$newVersion"), true)
        } catch { case _: Throwable => () }
        throw e
    }
    Publish.flipManifest(spark, root, newVersion)
  }

  /** The maintenance version name to use when compacting a STREAMING
    * ingest root ([[graft.streaming.StreamingOps]] dedup/SCD2/CDC
    * ingests): keeps the current version's 9 batch digits — so the
    * ingest replay guard still sees the true last-folded batch — and
    * appends/increments a `-c<k>` suffix to stay lexicographically
    * newer. Using an arbitrary newer version instead would make the
    * guard skip live batches (it would read the compaction's digits as
    * an already-folded batch id). */
  def ingestCompactVersion(currentVersion: String): String = {
    // \d{9,}: matches the ingest side's widened-padding tolerance for
    // batch ids >= 1e9 (a fixed {9} would REJECT such a version here
    // and fail compaction of a perfectly healthy ingest root).
    val m = """^v-(\d{9,})(?:-c(\d+))?$""".r
    currentVersion match {
      case m(digits, k) =>
        s"$digits-c${Option(k).map(_.toInt + 1).getOrElse(1)}"
      case other => throw new IllegalArgumentException(
        s"not an ingest-formatted version: $other")
    }
  }

  /** Z-order (Morton) value of two non-negative integer columns: the
    * low `bits` bits of each, interleaved (x in even positions, y in
    * odd). Pure arithmetic inside codegen — shifts, masks, adds — and
    * reproducible in any engine, which keeps layouts oracle-checkable.
    * Clustering by this value keeps BOTH x and y ranges narrow in every
    * file, so single-column predicates on either dimension skip files;
    * bits beyond `bits` are ignored (clustering quality degrades
    * gracefully, correctness is the caller's re-applied predicate). */
  def zorderValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(x.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
}
