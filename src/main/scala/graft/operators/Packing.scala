package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing for LLM pretraining: concatenate documents in a
  * deterministic order and cut the stream into fixed token-budget
  * chunks ("concat-and-chunk" packing). The core primitive is a
  * GLOBAL running total that never funnels the data through one
  * partition — the naive empty-partition running-sum window is a
  * single-task sort at fact scale (the same hazard [[Dedup.denseId]]
  * avoids).
  */
object Packing {

  /** Global running total of integral `value` in the total order
    * `order`, with exactly ONE shuffle: range-repartition on the order
    * columns (partition p holds a contiguous key range), sort within
    * partitions, then a per-partition streaming accumulation offset by
    * the preceding partitions' totals. The totals are one
    * O(partitions)-row collect — the same bounded driver work
    * [[Dedup.denseId]]'s zipWithIndex does.
    *
    * Deliberately RDD-based past the shuffle: the DataFrame
    * formulation (window partitioned by `spark_partition_id()`) plans
    * a SECOND full hash exchange, because Catalyst cannot know the
    * range partitioning already co-locates the window's partition key
    * (measured on tx16's plan). The per-partition totals pass reuses
    * the shuffle files (skipped map stage), so the data moves once.
    *
    * `order` must be a total order for a deterministic result (add a
    * unique tiebreaker). `value` must be non-null integral. Adds
    * `name` as the INCLUSIVE running total (callers wanting the
    * exclusive prefix subtract `value`). */
  def runningTotal(df: DataFrame, order: Seq[Column], value: Column,
                   name: String): DataFrame =
    runningTotalAndSum(df, order, value, name)._1

  /** [[runningTotal]] and the grand total of `value`, summed from the
    * per-partition totals it collects anyway. */
  private def runningTotalAndSum(df: DataFrame, order: Seq[Column], value: Column,
                                 name: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val prepared = df.withColumn("__rt_v", value.cast(LongType))
      .repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val vIdx = prepared.schema.fieldIndex("__rt_v")
    val rdd = prepared.rdd
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(vIdx))
      Iterator(pid -> s)
    }.collect().sortBy(_._1)
    val offsets: Map[Int, Long] = sums
      .scanLeft(0 -> 0L) { case ((_, acc), (pid, s)) => pid -> (acc + s) }
      .sliding(2).collect { case Array((_, acc), (pid, _)) => pid -> acc }
      .toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(prepared.schema.fields :+
      StructField(name, LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value.getOrElse(pid, 0L)
      it.map { r => acc += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ acc) }
    }
    (spark.createDataFrame(out, schema).drop("__rt_v"), sums.map(_._2).sum)
  }

  /** Deterministic pseudo-random shard assignment — the LAST mile of a
    * training-data pipeline: after curation/mixing, the corpus must
    * land in `numShards` shards of ~equal TOKEN mass, in an order that
    * is (a) decorrelated from any upstream clustering (source, time,
    * near-dup groups) and (b) exactly reproducible run-over-run.
    *
    * Order = (md5(seed:id), id) — a keyed permutation any engine can
    * recompute; no RNG state, no Date.now. The exclusive token prefix
    * comes from [[runningTotal]] (ONE range shuffle, per-partition
    * offsets — never a single-task global window), and shard k spans
    * the token interval [k·total/N, (k+1)·total/N): `shard =
    * (prefix·N) div total`, exact integer arithmetic both engines
    * reproduce bit-for-bit (prefix < total ≤ ~2.5e13 tokens at 100 TB
    * and N ≤ ~10⁵ keep the product far under 2⁶³). Zero-token corpora
    * all land in shard 0. Adds `shard`; keeps every input column.
    *
    * `total` is the sum of the per-partition totals [[runningTotal]]
    * collects, so the input is computed once: a separate aggregate
    * would re-run the whole unstaged chain under it (`CorpusJob`'s
    * token-budget mix: 7 jobs). */
  def shardAssignments(df: DataFrame, idCol: String, tokens: Column,
                       numShards: Int, seed: String): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    val keyed = df
      .withColumn("__sh_t", tokens.cast(LongType))
      .withColumn("__sh_rk",
        md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
    val (cum, total) = runningTotalAndSum(keyed, Seq(col("__sh_rk"), col(idCol)),
      col("__sh_t"), "__sh_cum")
    val assigned =
      if (total <= 0L) cum.withColumn("shard", lit(0))
      else cum.withColumn("shard",
        least(lit(numShards - 1).cast(LongType),
          expr(s"(__sh_cum - __sh_t) * ${numShards}L div ${total}L"))
          .cast("int"))
    assigned.drop("__sh_cum")
  }

  /** Terminal shard WRITER: [[shardAssignments]] → hash-repartition on
    * the shard id (deterministic, no sampling — byte-stable re-runs) →
    * sort within partitions by (shard, permutation key) → one parquet
    * directory per shard (`shard=k/`), each holding exactly one part
    * file per writing task. A `_manifest` parquet beside the shard
    * dirs records (shard, n_docs, tokens, digest) where digest is the
    * order-independent 60-bit md5 bit_xor of the shard's doc ids (the
    * dq02 convention) — the receipt a training launch checks before
    * touching 100 TB of shards. The manifest is computed from the
    * ASSIGNMENTS frame; callers wanting write-certification recompute
    * it from the read-back shards (tx41 does, and PackingSpec pins
    * re-runs byte-identical). Returns the manifest. */
  def exportShards(df: DataFrame, idCol: String, tokens: Column,
                   numShards: Int, seed: String, outDir: String): DataFrame = {
    val assigned = shardAssignments(df, idCol, tokens, numShards, seed)
    assigned
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__sh_rk"), col(idCol))
      .drop("__sh_rk", "__sh_t")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards")
    val manifest = shardManifest(assigned, idCol)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$outDir/_manifest")
    manifest
  }

  /** The per-shard receipt over an assignments frame: doc count, token
    * sum, and the order-independent doc-id digest (60-bit md5 slice,
    * bit_xor — [[graft.operators.Quality.tableDigest]]'s convention). */
  def shardManifest(assigned: DataFrame, idCol: String): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__sh_t")).as("tokens"),
        bit_xor(conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
          .cast(LongType)).as("digest"))

  /** Contiguous-fill packing: docs are laid out in `order` as one
    * token stream cut into `budget`-sized chunks; each doc gets its
    * stream `start_offset` and the `chunk` its first token lands in —
    * the standard GPT-style packing layout (docs may straddle chunk
    * boundaries; the trainer's loader handles the split). One range
    * shuffle end-to-end; no global sort task. */
  def packSequences(df: DataFrame, order: Seq[Column], tokens: Column,
                    budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    runningTotal(df.withColumn("__pk_t", tokens), order, col("__pk_t"), "__cum")
      .withColumn("start_offset", (col("__cum") - col("__pk_t")).cast(LongType))
      .withColumn("chunk", floor(col("start_offset") / lit(budget)).cast(LongType))
      .drop("__cum", "__pk_t")
  }
}
