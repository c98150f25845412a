package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Stages

/** Key-based deduplication and surrogate-key assignment.
  *
  * Reproduces the reference's first-wins dedup caches (reference:
  * src/Command/EtlHisTurnosCommand.php:113,125-151 — SURVEY OP-15) and
  * SERIAL surrogate keys (PostgresSchemaBuilder.php:62,75,96,105 — SURVEY
  * OP-19) as deterministic, distributed operators.
  *
  * Determinism note (SURVEY §7.4): the reference's "first" row depends on
  * `ORDER BY FechaAlta DESC` with unspecified tie order; here the caller
  * MUST pass a total order (tiebreakers included). `dropDuplicates` is
  * deliberately not used — it is non-deterministic under shuffle.
  */
object Dedup {

  /** Keep exactly one row per key: the first under `order` (which must be
    * a total order within each key group for determinism).
    *
    * Scale: one hash-shuffle on `keys`; the per-key sort is local to each
    * partition after shuffle — no global sort. Skewed keys are handled by
    * AQE; for pathological single-key skew pre-aggregate with max_by-style
    * struct ordering instead.
    */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** [[firstWins]] as a pure hash aggregation: min_by over a composite
    * sort key — identical result for a total order, but NO per-key sort:
    * one shuffle with map-side partial aggregation, constant state per
    * key. At fact scale this beats the window form (which sorts every
    * group); it is also the skew-robust choice (partial aggs shrink hot
    * keys before the shuffle). Restriction: `order` columns must be
    * expressible as a struct sort key — ascending columns only here;
    * wrap descending columns with [[desc]] (negation / reversal) at the
    * call site. */
  def firstWinsAgg(df: DataFrame, keys: Seq[String], orderAsc: Seq[Column]): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains)
    val sortKey = struct(orderAsc: _*)
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(payload, sortKey).as("__row"))
      .select(keys.map(k => col(s"__row.$k")) ++ valueCols.map(c => col(s"__row.$c")): _*)
  }

  /** Dense sequential ids 1..N in the given total order — the
    * reference's SERIAL 1..N semantics (SURVEY OP-19), needed for oracle
    * hash-matching. Range-repartition by the order columns (so partition
    * p holds a contiguous key range), sort within partitions, then
    * zipWithIndex (one extra count job to learn partition offsets when
    * there is more than one partition — O(partitions) driver work). No
    * single-partition sort at any input size. */
  def denseId(df: DataFrame, order: Seq[Column], name: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = StructType(sorted.schema.fields :+ StructField(name, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Per-group row_number WITHOUT a per-group sort task: the grouped
    * counterpart of [[denseId]], for when the partition key has LOW
    * cardinality and huge groups — a window's partitionBy would funnel
    * each group through one sort task. Range-repartition on (group,
    * order) puts contiguous runs of each group in order across
    * partitions, zipWithIndex numbers them globally (one O(partitions)
    * offsets pass), and subtracting each group's minimum global index
    * (one hash agg + one broadcastable null-safe join, so a null group
    * is ranked like any other) yields the 1-based per-group rank.
    * Identical to `row_number().over(partitionBy(group).orderBy(order))`
    * for a total order; every stage is distributed regardless of group
    * count or size. */
  def groupedRank(df: DataFrame, grpCol: String, order: Seq[Column],
                  name: String): DataFrame = {
    val withIdx = denseId(df, col(grpCol) +: order, "__gidx")
    val offsets = withIdx.groupBy(col(grpCol).as("__grp"))
      .agg(min(col("__gidx")).as("__goff"))
    withIdx.join(offsets, col(grpCol) <=> col("__grp"))
      .withColumn(name, (col("__gidx") - col("__goff") + 1L).cast(LongType))
      .drop("__gidx", "__grp", "__goff")
  }

  /** Incremental find-or-insert (SURVEY OP-22, incremental mode): keep
    * every existing dim row with its id; append incoming keys not yet
    * present, assigning ids above the current maximum in `order` of
    * their key. One left-anti join + one dim-sized max lookup — the
    * batch equivalent of the reference's per-row SELECT-then-INSERT
    * (EtlHisTurnosCommand.php:130-147) without the N round trips.
    *
    * Scale: the anti-join shuffles on the natural key (or broadcasts
    * when the dim is small); the max(id) is a single scalar agg; the new
    * keys are numbered by [[denseId]]. */
  def findOrInsert(existing: DataFrame, incoming: DataFrame, key: String,
                   idCol: String): DataFrame = {
    // Contract: `existing` is exactly the (key, id) catalog. Extra
    // columns would otherwise fail later at analysis time with an
    // opaque unionByName error.
    require(existing.columns.toSet == Set(key, idCol),
      s"findOrInsert expects existing to have exactly ($key, $idCol), " +
        s"got (${existing.columns.mkString(", ")})")
    val maxId = existing.agg(max(col(idCol))).head().get(0) match {
      case null => 0L
      case v: Number => v.longValue()
    }
    val newKeys = incoming.select(trim(col(key)).as(key))
      .where(col(key).isNotNull && col(key) =!= "")
      .distinct()
      // Compare against the TRIMMED existing key: an untrimmed catalog
      // row must still suppress insertion of its trimmed spelling
      // (first-wins cache semantics), not yield a duplicate entry.
      .join(existing.select(trim(col(key)).as(key)), Seq(key), "left_anti")
    val withIds = denseId(newKeys, Seq(col(key)), idCol)
      .withColumn(idCol, col(idCol) + lit(maxId))
    existing.unionByName(withIds.select(existing.columns.map(col): _*))
  }

  /** Order-insensitive distinct of a single (trimmed) column — the
    * reference's prestacion catalog build (EtlHisTurnosCommand.php:114,
    * 179-193, SURVEY OP-16). Map-side partial aggregation makes this one
    * shuffle of pre-deduped partitions. */
  def distinctTrimmed(df: DataFrame, column: String, as: String): DataFrame =
    df.select(trim(col(column)).as(as)).where(col(as).isNotNull).distinct()

  /** Blocked fuzzy string matching — entity-resolution reconciliation of
    * a dirty name column against a clean catalog (the fuzzy extension of
    * the reference's exact find-or-insert catalog lookup,
    * EtlHisTurnosCommand.php:130-147): each dirty row is matched to the
    * catalog name with the smallest Levenshtein distance ≤ `maxDist`
    * (ties broken by name ascending); rows with no catalog name within
    * `maxDist` are dropped.
    *
    * NEVER all-pairs: candidates come from multi-pass BLOCKING — a
    * 2-char-prefix pass unioned with a 2-char-suffix pass — so each
    * dirty row only meets catalog names sharing a block key. Any single
    * edit (insert/delete/substitute) on a string of length ≥ 5 preserves
    * the first two OR the last two characters, so single-edit variants
    * are never lost to blocking; the classic multi-key blocking tradeoff
    * (recall vs candidate count) is the tuning lever at 100 TB, where
    * each pass is a hash equi-join on the block key (catalog side
    * broadcast when small). Levenshtein runs inside codegen (native
    * Spark function), only on blocked candidates. */
  def fuzzyMatch(dirty: DataFrame, catalog: DataFrame, dirtyId: String,
                 dirtyName: String, catName: String, maxDist: Int): DataFrame = {
    val d = dirty.select(col(dirtyId), col(dirtyName))
    val c = catalog.select(col(catName)).where(col(catName).isNotNull).distinct()
    def pass(keyOf: Column => Column): DataFrame =
      d.withColumn("__bk", keyOf(col(dirtyName)))
        .join(c.withColumn("__bk", keyOf(col(catName))), Seq("__bk"))
        .drop("__bk")
    val candidates = pass(n => substring(n, 1, 2))
      .unionByName(pass(n => substring(n, -2, 2)))
      .distinct()
    candidates
      .withColumn("__dist", levenshtein(col(dirtyName), col(catName)).cast(LongType))
      .filter(col("__dist") <= maxDist)
      .groupBy(col(dirtyId), col(dirtyName))
      .agg(min_by(struct(col(catName), col("__dist")),
        struct(col("__dist"), col(catName))).as("__m"))
      .select(col(dirtyId), col(dirtyName),
        col(s"__m.$catName").as(catName), col("__m.__dist").as("dist"))
  }

  /** Sorted-neighborhood (SNM) entity-resolution candidates +
    * verification (Hernández & Stolfo, SIGMOD'95) — the third blocking
    * paradigm in the engine next to key-equality blocks
    * ([[fuzzyMatch]]'s prefix/suffix passes) and content hashing
    * (NearDup's LSH / prefix filter): sort all records by a fuzzy key,
    * declare any two records within `window` positions candidates, and
    * verify with Levenshtein ≤ `maxDist`. SNM finds matches
    * key-equality blocking misses (typos anywhere in the block key
    * still usually leave the records' sort positions close).
    *
    * Scale shape: the global rank comes from [[denseId]], and the
    * sliding window becomes an EQUI-join on the rank block
    * `floor(rn / window)`: two records within `window` positions are
    * either in the same block or in adjacent blocks, so a same-block
    * join plus a blk+1 join cover every pair — no range theta-join, no
    * nested loop, each block is `window`-sized so the join fan-out is
    * O(n·window). Sort order is pinned by (key, id) — total, so both
    * engines rank identically.
    * Output: (id_a, id_b, key_a, key_b, dist), id_a = the lower-RANK
    * record of the pair. */
  def sortedNeighborhood(df: DataFrame, idCol: String, keyCol: String,
                         window: Int, maxDist: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val ranked = Stages.stage(denseId(
      df.select(col(idCol), col(keyCol)).where(col(keyCol).isNotNull),
      Seq(col(keyCol), col(idCol)), "__rn")
      .withColumn("__blk", floor(col("__rn") / window)))
    val a = ranked.select(col(idCol).as("id_a"), col(keyCol).as("key_a"),
      col("__rn").as("__ra"), col("__blk").as("__ba"))
    val b = ranked.select(col(idCol).as("id_b"), col(keyCol).as("key_b"),
      col("__rn").as("__rb"), col("__blk").as("__bb"))
    val same = a.join(b, col("__ba") === col("__bb") && col("__ra") < col("__rb"))
    val adj = a.join(b, (col("__ba") + 1) === col("__bb"))
    same.unionByName(adj)
      .filter(col("__rb") - col("__ra") < window)
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"), col("dist"))
  }

  /** Grouped top-k — [[firstWins]] generalized to "keep the k best per
    * key": top `k` (id, score) rows per group under (score desc, id
    * asc), with a 1-based `rnk`. Runs through the bounded-state
    * [[TopKByScore]] Aggregator: ≤ k rows per group at every stage,
    * map-side partials shrink hot keys BEFORE the shuffle, and no
    * per-group sort ever executes — the fact-scale/skew-robust form of
    * the row_number-window top-k (which sorts every group member). */
  def topKPerGroup(df: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // The casts below are non-ANSI: a string key would silently become
    // null — collapsing every group (or id) into one — instead of
    // failing. Refuse non-numeric columns up front.
    import org.apache.spark.sql.types._
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def numeric(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType | _: DecimalType => true
      case dt => integral(dt)
    }
    Seq(groupCol -> "groupCol", idCol -> "idCol").foreach { case (c, role) =>
      require(integral(df.schema(c).dataType),
        s"topKPerGroup: $role '$c' must be an integral type, got " +
          s"${df.schema(c).dataType.simpleString} — a lossy cast would " +
          s"null it out and merge groups silently")
    }
    require(numeric(df.schema(scoreCol).dataType),
      s"topKPerGroup: scoreCol '$scoreCol' must be numeric, got " +
        s"${df.schema(scoreCol).dataType.simpleString}")
    df.select(col(groupCol).cast("long"), col(scoreCol).cast("double"),
        col(idCol).cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, s, i) => TopKRow(s, i) }
      .agg(new TopKByScore(k).toColumn.name("topk"))
      .toDF(groupCol, "topk")
      .select(col(groupCol), posexplode(col("topk.rows")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as(idCol), col("col.score").as(scoreCol))
  }
}
