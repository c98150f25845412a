package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, RDDScanExec, SparkPlan, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.Stages
import graft.functions.TextAnalysis

/** Document deduplication family for training-data pipelines:
  * exact (hash groupBy), MinHash+LSH (shingle→minhash→band→bucket join),
  * SimHash, and exact n-gram Jaccard on LSH candidates.
  *
  * Hash scheme (oracle-checkable AND cheap): ONE md5 per shingle, of
  * which the first 8 hex chars become a 32-bit base value; the k seeded
  * hashes are affine transforms `(A_k·base + B_k) mod P` over that base
  * (P prime < 2^32, products bounded by 2^53 — safe in 64-bit signed
  * arithmetic in Spark, DuckDB, and even doubles). MinHash = min of the
  * seeded values per document.
  *
  * Shape (the 100 TB design): shingles are built as ONE array
  * projection per document ([[shingleArray]] — aligned slices zipped,
  * no window, no shuffle), each shingle md5-hashed once, and the k
  * seeded minimums fold in a single array aggregate with a struct
  * accumulator — the whole MinHash signature is a per-row projection
  * with ZERO exchanges. The HOF discipline that keeps this linear:
  * a lambda body may only reference its bound variables — an outer
  * column inside a lambda is re-evaluated per ELEMENT (Catalyst
  * inlines it into every element access; measured 147 s vs ~2 s at
  * sf0.1 on this very pipeline when tokenization leaked into a
  * lambda). Until round 17 this used explode → lead() window → one
  * doc-keyed hash shuffle; the projection form removes that full
  * token-stream exchange (guide §2.4).
  *
  * Bucket skew: a hot LSH bucket (boilerplate docs) produces quadratic
  * candidate pairs; [[minhashCandidates]] takes `maxBucketSize` to drop
  * oversized buckets (bounded recall loss, bounded cost) — off by
  * default to keep exact oracle parity on test data.
  */
object NearDup {

  /** Largest prime below 2^32 — modulus of the seeded hash family. */
  val HashP: Long = 4294967291L
  def hashA(seed: Int): Long = 1000003L + 1009L * seed
  def hashB(seed: Int): Long = 133331L + 97L * seed

  /** Seeded hash of a 32-bit base column (affine family, mod P). */
  def seededHash(seed: Int, base: Column): Column =
    (lit(hashA(seed)) * base + lit(hashB(seed))) % lit(HashP)

  /** Scale-adaptive parallelism floor for CPU-heavy per-row work
    * (md5-per-shingle chains): when the input plans FEWER partitions
    * than the session's parallelism — the one-small-unsplittable-file
    * shape (guide §2.5), which is exactly the bench fixture (one
    * single-row-group parquet per table) — fan out with one
    * round-robin repartition so the hash work uses every core. At
    * production scale a corpus scan has orders of magnitude more
    * splits than cores, the condition is false, and NO shuffle is
    * added — this is a floor, not a tuned constant. (The pre-round-18
    * operators paid an unconditional full token-stream window shuffle
    * that incidentally provided this parallelism; the projection
    * rewrites removed that shuffle, so the floor keeps small-input
    * parallelism without reintroducing it.)
    *
    * The partition count is read off the planned (pre-adaptive)
    * physical plan ([[plannedPartitions]]), so deciding runs no Spark
    * job: counting through `df.rdd` runs every adaptive query stage
    * under the frame and throws the results away for the next action to
    * recompute. Fallback: where the plan leaves the count to adaptive
    * execution (an exchange without an explicit count, a shuffled join)
    * or has a leaf other than a file scan or a staged frame, the count
    * still comes from `df.rdd`. No call of the sf0.01 registry (120
    * calls) falls back: the one input that did, [[pairOverlapCounts]]'
    * candidate docs (docs ⋈ candidate ids, a left-semi sort-merge
    * join), is staged before its fan-out, as it is read once anyway, so
    * the count comes off the stored RDD. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => plannedPartitions(a.initialPlan)
      case p => plannedPartitions(p)
    }
    if (planned.getOrElse(df.rdd.getNumPartitions) >= target) df else df.repartition(target)
  }

  /** The partitions a physical plan produces, where the plan alone fixes
    * them: an explicit-count repartition (which adaptive execution never
    * coalesces) gives its count; a broadcast hash join its streamed
    * side's; a narrow node its child's; a union that does not keep its
    * children's partitioning the sum of their counts; a file scan its
    * splits and a staged frame its RDD's
    * partitions, both known on the driver. None otherwise. */
  private def plannedPartitions(plan: SparkPlan): Option[Int] = plan match {
    case s: ShuffleExchangeExec =>
      // (`numPartitions` would build the shuffle, executing the child)
      Option.when(s.shuffleOrigin == REPARTITION_BY_NUM)(s.outputPartitioning.numPartitions)
    case j: BroadcastHashJoinExec =>
      plannedPartitions(if (j.buildSide == BuildRight) j.left else j.right)
    case u: UnionExec if u.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
      u.children.map(plannedPartitions)
        .reduceOption((a, b) => a.zip(b).map { case (x, y) => x + y }).flatten
    // a dynamic partition filter would run its subquery to list the splits
    case s: FileSourceScanExec
      if !s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) =>
      Some(s.inputRDD.getNumPartitions)
    case r: RDDScanExec => Some(r.rdd.getNumPartitions)
    case _: Exchange | _: CoalesceExec => None
    case n: UnaryExecNode => plannedPartitions(n.child)
    case _ => None
  }

  /** Exact dedup by normalized-content fingerprint: canonical doc =
    * min(doc_id) per fingerprint group (deterministic). `caseFold =
    * false` keys on the case-PRESERVING fingerprint instead — required
    * when the collapse must be lossless for case-sensitive downstream
    * consumers (see [[TextAnalysis.fingerprint]]). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String,
                 caseFold: Boolean = true): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol), caseFold).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Array of all complete `shingleSize`-token shingles of a token
    * ARRAY column: shingle i = toks[i..i+s-1] joined by " ", built from
    * `s` aligned `slice`s zipped together. Every subexpression here is
    * evaluated O(s) times per ROW and never inside a lambda body — an
    * outer column referenced inside a HOF lambda is re-evaluated per
    * ELEMENT, the quadratic trap measured at 147 s vs ~2 s on this
    * pipeline. The zip result is the only HOF input, so the transform
    * touches each element once. */
  def shingleArray(toks: Column, shingleSize: Int): Column = {
    val len = greatest(size(toks) - (shingleSize - 1), lit(0))
    val zipped = arrays_zip(
      (0 until shingleSize).map(k => slice(toks, lit(k + 1), len).as(s"t$k")): _*)
    transform(zipped, x =>
      concat_ws(" ", (0 until shingleSize).map(k => x.getField(s"t$k")): _*))
  }

  /** One row per (doc, pos, shingle): the [[shingleArray]] projection
    * exploded with its index. `pos` is the 0-based shingle start
    * position (consumers needing order — e.g. winnowing — use it;
    * set-oriented consumers ignore it).
    *
    * This replaced the round-2 lead()-window form (explode tokens →
    * per-doc window) in round 18: identical rows, but the window
    * shuffled and SORTED the entire token stream before the first
    * aggregation could run — one full exchange of O(corpus tokens)
    * that the array projection simply does not have (guide §2.4:
    * remove shuffles outright). Downstream aggregations keyed on
    * `idCol` now own the only doc-keyed exchange. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  shingleSize: Int): DataFrame =
    // fanOut: the shingle+md5 work runs where the docs are — on a
    // narrow small-file scan that is one serial task (see [[fanOut]]).
    fanOut(docs).select(col(idCol),
      posexplode(shingleArray(TextAnalysis.tokens(col(textCol)), shingleSize))
        .as(Seq("pos", "shingle")))

  /** 32-bit base hash of a shingle: first 8 hex chars of its md5. */
  def baseHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 8), 16, 10).cast("long")

  /** Cross-doc duplicated-span audit (the measurement half of exact
    * substring dedup, Lee et al. 2022, arXiv:2107.06499): for every
    * doc, how many of its tokens sit inside an `n`-gram that also
    * appears in ANOTHER doc. Pipeline: [[shingleRows]] positions →
    * md5 per gram → grams seen in >1 distinct doc (one hash agg) →
    * hits back-join → per-doc interval merge of the [start, start+n-1]
    * windows (island detection: running max of prior window ends, a
    * window keyed by doc_id — per-doc history, parallel at any scale)
    * → covered-token counts. Docs with no duplicated grams report 0.
    *
    * At 100 TB the gram table is the big intermediate (one row per
    * token); the dup-gram filter is a map-side-combinable count
    * distinct ≤ 2 (capped via the >1 test), and everything downstream
    * is hit-sized, not corpus-sized. */
  def duplicatedSpanCoverage(docs0: DataFrame, idCol: String, textCol: String,
                             n: Int): DataFrame = {
    val docs = fanOut(docs0)
    val base = docs.select(col(idCol),
      size(TextAnalysis.tokens(col(textCol))).as("n_tokens"))
    val grams = shingleRows(docs, idCol, textCol, n)
      .select(col(idCol), col("pos"), md5(col("shingle")).as("gh"))
    // "Gram seen in >1 distinct doc" as ONE gh-keyed window pass
    // (round 19): min(id) ≠ max(id) over the gram's rows ⇔ ≥2 distinct
    // holders — the old groupBy(gh) → back-join form shuffled the
    // token-scale gram table by gh TWICE (agg + join probe) and, since
    // grams is an unstaged projection, recomputed the tokenize+shingle
    // +md5 chain once per branch; the window computes it once and
    // shuffles once (guide §2.4 — two operations keyed the same way
    // share one exchange). Keyed by the high-cardinality gram hash, so
    // it scales — never a global window.
    val wg = Window.partitionBy(col("gh"))
    val hits = grams
      .withColumn("__mn", min(col(idCol)).over(wg))
      .withColumn("__mx", max(col(idCol)).over(wg))
      .filter(col("__mn") =!= col("__mx"))
      .select(col(idCol), col("pos").as("s"), (col("pos") + n - 1).as("e"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("s"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val covered = hits
      .withColumn("__pmax", max(col("e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("s") > col("__pmax"), 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wOrd))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("s")).as("__s"), max(col("e")).as("__e"),
        count(lit(1)).as("__ng"))
      .groupBy(col(idCol))
      .agg(sum(col("__e") - col("__s") + 1).as("covered_tokens"),
        sum(col("__ng")).as("n_dup_grams"))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(when(col("n_tokens") > 0,
            coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))
  }

  /** Exact substring-strip dedup (the rewrite half of Lee et al. 2022,
    * arXiv:2107.06499, adapted to a deterministic keep rule): every
    * `n`-gram shared across docs keeps its occurrences ONLY in the
    * minimum-doc_id holder; in every other doc the tokens covered by a
    * shared gram are removed and the survivors reassembled in order.
    * Compared to whole-doc dedup this preserves the unique remainder
    * of partially-duplicated docs — the boilerplate/quote case.
    *
    * Shape: gram table (one row per token) → winner-per-gram hash agg
    * → foreign-hit spans (hit-sized) exploded to per-doc CUT-POSITION
    * SETS (one hit-keyed agg) → joined back to the docs and applied as
    * an in-row indexed `filter` over the token array. The round-18
    * form anti-joined the FULL token stream on (doc, pos) and
    * reassembled per doc (collect_list + array_sort) — two
    * token-stream-sized exchanges; now the only doc-keyed exchanges
    * carry the hit-sized cut sets (guide §2.3/§2.4: shuffle keys and
    * positions, not payloads — the survivors never leave their rows). */
  def stripDuplicatedSpans(docs0: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    val docs = fanOut(docs0)
    val grams = shingleRows(docs, idCol, textCol, n)
      .select(col(idCol), col("pos"), md5(col("shingle")).as("gh"))
    // Winner-per-gram as ONE gh-keyed window pass (round 19, the
    // [[duplicatedSpanCoverage]] rewrite): min(id) over the gram's
    // rows is the winner, min ≠ max ⇔ shared across docs — replaces
    // the groupBy(gh) → back-join pair that shuffled the gram table
    // twice and recomputed the unstaged tokenize+shingle+md5 chain
    // once per branch. High-cardinality key, scales.
    val wg = Window.partitionBy(col("gh"))
    val cuts = grams
      .withColumn("__win", min(col(idCol)).over(wg))
      // id > winner already implies the gram is shared (a smaller
      // holder exists), so no distinct-holder test is needed here.
      .filter(col(idCol) > col("__win"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + n - 1)).as("pos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__cuts"))
    val toks = TextAnalysis.tokens(col(textCol))
    val cutsA = coalesce(col("__cuts"), typedlit(Seq.empty[Int]))
    val kept = filter(toks, (_, i) => !array_contains(cutsA, i))
    docs.join(cuts, Seq(idCol), "left")
      .select(col(idCol), kept.as("__kept"), size(toks).as("__nt"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_dedup"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__nt") - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Content-defined chunking + chunk-level dedup stats — the STORAGE
    * dedup primitive (LBFS/FastCDC family, Muthitacharoen et al. SOSP
    * 2001): a chunk boundary falls after token p wherever the hash of
    * the k-gram ending at p ≡ 0 (mod divisor), so boundaries are a
    * function of CONTENT, not offsets — an insertion early in a doc
    * shifts only the chunk it lands in, and every identical passage
    * re-chunks identically corpus-wide (the property fixed-size
    * blocking lacks). Expected chunk length = `divisor` tokens.
    *
    * Differs from [[duplicatedSpanCoverage]]/[[stripDuplicatedSpans]]
    * (every shared n-gram, token-granular): chunking partitions each
    * doc ONCE and dedups at chunk granularity — the unit a content-
    * addressed store would actually persist.
    *
    * Shape: one doc-keyed window pass assigns boundaries and chunk ids
    * (per-row state is the k-token lag buffer), chunks reassemble in
    * ONE hash agg with per-DOC bounded state (the repo-wide per-doc
    * bound), then two hash aggs roll (source, chunk-hash) up to
    * per-source totals: chunks, distinct chunks, duplicated tokens
    * (what a dedup store saves), duplicate fraction. Every shuffle is
    * keyed by doc id, chunk hash, or source — never all-pairs. */
  def contentChunkStats(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, k: Int = 3,
                        divisor: Int = 8): DataFrame = {
    require(k >= 2, s"gram size k must be >= 2, got $k")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val toks = docs.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val gramParts = ((k - 1) to 1 by -1).map(j => lag(col("tok"), j).over(w)) :+
      col("tok")
    val withChunk = toks
      .withColumn("__b",
        when(col("pos") >= k - 1 &&
            pmod(baseHash(concat_ws(" ", gramParts: _*)),
              lit(divisor.toLong)) === 0, 1).otherwise(0))
      .withColumn("__cid",
        coalesce(sum(col("__b"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
    val chunks = withChunk.groupBy(col(idCol), col("__cid"))
      .agg(
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ")).as("__h"),
        count(lit(1)).as("__ntoks"))
    val per = chunks
      .join(docs.select(col(idCol), col(sourceCol).as("source")), Seq(idCol))
      .groupBy(col("source"), col("__h"))
      .agg(count(lit(1)).as("__cnt"), min(col("__ntoks")).as("__ntoks"))
    per.groupBy(col("source"))
      .agg(sum(col("__cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum((col("__cnt") - 1) * col("__ntoks")).as("dup_tokens"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("__cnt")), 6)
          .as("dup_frac"))
  }

  /** MinHash signature: columns mh0..mh{n-1} (BIGINT), min seeded hash
    * over the document's shingles. Docs with fewer tokens than
    * `shingleSize` are kept with null signatures (left join). */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int, shingleSize: Int): DataFrame = {
    // PURE PROJECTION (round 18): one md5 per shingle via a transform
    // over [[shingleArray]], then ONE array fold carrying all
    // `numHashes` running minimums in a struct accumulator — the
    // affine hashes read the fold's bound variable, so the md5 is
    // never re-evaluated per seed. The previous form (explode →
    // groupBy(id) with 16 min aggs) shuffled one row per shingle;
    // this computes the signature where the document already is —
    // zero exchanges at any corpus scale. Rows are identical: docs
    // with no complete shingle fold over an empty array and keep the
    // null signature the old left join gave them (least() skips the
    // null init fields).
    val bases = transform(
      shingleArray(TextAnalysis.tokens(col(textCol)), shingleSize),
      sh => baseHash(sh))
    val init = struct((0 until numHashes).map(i =>
      lit(null).cast("long").as(s"mh$i")): _*)
    val folded = aggregate(bases, init, (acc, b) =>
      struct((0 until numHashes).map(i =>
        least(acc.getField(s"mh$i"), seededHash(i, b)).as(s"mh$i")): _*))
    // Two selects: `folded` is referenced once here, then its fields
    // are fanned out — CollapseProject keeps the expensive producer
    // un-inlined (SPARK-36718), so the fold runs once per row.
    docs.select(col(idCol), folded.as("__mh"))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        col("__mh").getField(s"mh$i").as(s"mh$i")): _*)
  }

  /** LSH banding: split the signature into bands of `rowsPerBand`
    * hashes; a pair agreeing on ALL hashes of any band is a candidate.
    * Returns (id, band, band_key). Null-signature docs are excluded —
    * they have no shingles to agree on. */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_",
          (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i")): _*).as("band_key"))
    }
    sig.filter(col("mh0").isNotNull)
      .select(col(idCol), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.band_key"))
  }

  /** Candidate near-dup pairs (a < b) from LSH buckets — the scalable
    * alternative to the O(n²) all-pairs join. `maxBucketSize` (off by
    * default) drops buckets above the cap before the self-join: a hot
    * bucket of k docs costs k²/2 pairs, so boilerplate-heavy corpora
    * need the cap (recall loss is bounded — docs agreeing in a dropped
    * bucket usually agree in another band). */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, shingleSize: Int = 3,
                        rowsPerBand: Int = 2,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    // The signature is STAGED before banding (round 18): as a pure
    // projection it carries no exchange, so without staging (a) the
    // bucket self-join below would recompute the whole md5+fold chain
    // on BOTH join sides (ReuseExchange has nothing to reuse), and
    // (b) lshBands' null filter would be pushed below the projection
    // and evaluate the fold a second time per row in the filter
    // condition. The staged frame is doc-scale (id + numHashes longs
    // — ~130 B/doc at the defaults), orders of magnitude smaller than
    // the text it summarizes.
    val sig = Stages.stage(minhashSignature(fanOut(docs), idCol, textCol, numHashes, shingleSize))
    val banded0 = lshBands(sig, idCol, numHashes, rowsPerBand)
    val banded = maxBucketSize.fold(banded0) { cap =>
      val sizes = banded0.groupBy(col("band"), col("band_key"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= cap)
        .drop("__bsz")
      banded0.join(sizes, Seq("band", "band_key"))
    }
    val a = banded.select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val b = banded.select(col("band"), col("band_key"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs
    * (verification stage after LSH). Shingle sets are long-form rows —
    * |A∩B| via a shingle-equality join, |A∪B| = |A|+|B|−|A∩B| — so no
    * per-row array materialization; similarity rounded to 6 decimals. */
  def jaccardOnPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                     textCol: String, shingleSize: Int,
                     shinglesOpt: Option[DataFrame] = None): DataFrame =
    pairOverlapCounts(docs, pairs, idCol, textCol, shingleSize, shinglesOpt)
      .select(col("id_a"), col("id_b"),
        round(col("ni").cast("double") /
              (col("na") + col("nb") - col("ni")), 6).as("jaccard"))

  /** Exact shingle CONTAINMENT for given candidate pairs — the
    * asymmetric companion of [[jaccardOnPairs]]: C(A⊆B) = |A∩B| / |A|.
    * A short document quoted wholesale inside a long one has
    * containment ≈ 1 while its Jaccard collapses toward |A|/|B| — the
    * inclusion-duplicate class a symmetric threshold misses (the
    * "Broder containment" side of the resemblance/containment pair,
    * Broder 1997). Same candidate-restricted cost profile as the
    * Jaccard verify stage; all three scores are exact-integer ratios
    * rounded to 6. Output: (id_a, id_b, na, nb, cont_a_in_b,
    * cont_b_in_a, jaccard). */
  def containmentOnPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int): DataFrame =
    pairOverlapCounts(docs, pairs, idCol, textCol, shingleSize)
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        round(col("ni").cast("double") / col("na"), 6).as("cont_a_in_b"),
        round(col("ni").cast("double") / col("nb"), 6).as("cont_b_in_a"),
        round(col("ni").cast("double") /
              (col("na") + col("nb") - col("ni")), 6).as("jaccard"))

  /** Shared verify-stage core: per candidate pair the exact shingle-set
    * sizes and intersection — (id_a, id_b, na, nb, ni). Both the
    * Jaccard and containment scorers are one projection over this. */
  private def pairOverlapCounts(docs: DataFrame, pairs: DataFrame,
                                idCol: String, textCol: String,
                                shingleSize: Int,
                                shinglesOpt: Option[DataFrame] = None): DataFrame = {
    // `pairs` is consumed four times below (id restriction, A-side,
    // B-side sizes, final assembly) and is typically the output of a
    // multi-stage LSH chain — stage it so that chain runs once.
    val p = Stages.stage(pairs)
    // Only candidate docs need shingle sets — restrict BEFORE tokenizing
    // (at corpus scale candidates are a tiny fraction of the corpus),
    // then stage the sets so the three consumers (sizes, A-side, B-side)
    // read one materialization instead of re-running tokenize→shingle
    // per branch (AQE exchange reuse does not cover this multi-stage
    // subtree — measured as the dd04/dd07 recompute pathology).
    val ids = p.select(col("id_a").as(idCol))
      .unionAll(p.select(col("id_b").as(idCol))).distinct()
    // shinglesOpt: an already-staged DISTINCT (idCol, shingle) frame
    // covering at least the candidate docs (prefixFilterJoin builds
    // exactly this for its prefix stage) — reusing it skips a second
    // tokenize+shingle pass over the candidates.
    val shd = shinglesOpt match {
      case Some(sh) => Stages.stage(sh.join(ids, Seq(idCol), "left_semi")
        .select(col(idCol).as("jid"), col("shingle")))
      // the candidate docs are staged too: read once either way, and
      // staged, shingleRows' fanOut reads their partition count off the
      // stored RDD instead of running the semi-join (a sort-merge join,
      // whose width adaptive execution decides) just to count it
      case None => Stages.stage(
        shingleRows(Stages.stage(docs.join(ids, Seq(idCol), "left_semi")),
          idCol, textCol, shingleSize)
          .select(col(idCol).as("jid"), col("shingle")).distinct())
    }
    val sizes = shd.groupBy(col("jid")).agg(count(lit(1)).as("ns"))
    val withA = p
      .join(shd.select(col("jid").as("id_a"), col("shingle")), Seq("id_a"))
    val inter = withA
      // shingle equality is part of the JOIN KEY (hash join on
      // (doc, shingle)), not a post-join filter — otherwise each pair
      // fans out to |A|×|B| rows before filtering.
      .join(shd.select(col("jid").as("__idb"), col("shingle").as("__shb")),
        col("id_b") === col("__idb") && col("shingle") === col("__shb"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    p
      .join(sizes.select(col("jid").as("id_a"), col("ns").as("na")), Seq("id_a"))
      .join(sizes.select(col("jid").as("id_b"), col("ns").as("nb")), Seq("id_b"))
      .join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        coalesce(col("ni"), lit(0L)).as("ni"))
  }

  /** EXACT all-pairs Jaccard ground truth: every (id_a < id_b) pair
    * with shingle-Jaccard ≥ `minJaccard`. Pairs enumerate only through
    * shared shingles (docs sharing none cannot clear a positive
    * threshold), but the hottest shingle still pairs quadratically —
    * this is the measurement BASELINE that grades
    * [[minhashCandidates]] (dd13's recall/precision report), meant for
    * a fixture or sampled audit slice; at corpus scale the LSH
    * candidates are the production path and this oracle is run on the
    * sample that audits them. */
  def jaccardGroundTruth(docs: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int, minJaccard: Double,
                         shinglesOpt: Option[DataFrame] = None): DataFrame = {
    // shinglesOpt: an already-staged DISTINCT (idCol, shingle) frame
    // over `docs` (the jaccardOnPairs convention) — audit queries that
    // grade LSH candidates against this ground truth build the shingle
    // sets once and share them across both legs (round 19, dd13).
    val shd = shinglesOpt match {
      case Some(sh) => sh.select(col(idCol).as("jid"), col("shingle"))
      case None => Stages.stage(shingleRows(docs, idCol, textCol, shingleSize)
        .select(col(idCol).as("jid"), col("shingle")).distinct())
    }
    val sizes = shd.groupBy(col("jid")).agg(count(lit(1)).as("ns"))
    val inter = shd.select(col("jid").as("id_a"), col("shingle"))
      .join(shd.select(col("jid").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select(col("jid").as("id_a"), col("ns").as("na")), Seq("id_a"))
      .join(sizes.select(col("jid").as("id_b"), col("ns").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("ni").cast("double") /
          (col("na") + col("nb") - col("ni")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** EXACT set-similarity self-join via positional prefix filtering
    * (the AllPairs / PPJoin family — Bayardo et al., WWW'07; Xiao et
    * al., VLDB'08): every (id_a < id_b) pair with shingle-set Jaccard
    * ≥ `minJaccard` — the same contract as [[jaccardGroundTruth]] —
    * but candidate generation joins only on each document's RAREST
    * shingles instead of all of them.
    *
    * Global shingle order = (document frequency ASC, shingle ASC). A
    * doc with |x| distinct shingles indexes only its first
    * p = |x| − ⌈t·|x|⌉ + 1 shingles in that order. Lossless: if
    * J(x,y) ≥ t then the pair shares o ≥ ⌈t·|x|⌉ shingles, and its
    * MINIMAL common shingle w bounds every common shingle from below
    * in the global order — were w outside x's prefix, all o common
    * shingles would sit in x's last ⌈t·|x|⌉ − 1 slots, a
    * contradiction; symmetrically w sits in y's prefix, so the
    * prefix⋈prefix equi-join surfaces the pair. A two-sided length
    * filter (t·|x| ≤ |y| ∧ t·|y| ≤ |x|, a necessary condition of
    * J ≥ t) prunes the survivors, and [[jaccardOnPairs]] verifies
    * exactly, so the OUTPUT is threshold-exact regardless of how
    * generous the candidate set is — which is why the prefix length
    * and length filter deliberately use floor/epsilon slack instead
    * of trusting `ceil` over binary-inexact t·|x| products.
    *
    * The 100 TB shape — and the reason this exists next to the
    * LSH-banded [[minhashCandidates]]: the candidate join key is by
    * construction the LOW-frequency end of the shingle distribution
    * (hot boilerplate shingles sort LAST and fall out of every
    * prefix), so the shuffle is skew-free — the exact opposite of the
    * naive shared-shingle join of [[jaccardGroundTruth]], whose
    * hottest shingle pairs quadratically and which therefore only
    * grades audit samples. Cost: one df aggregation (map-side
    * combinable), one doc_id shuffle to assemble sorted sets, a
    * prefix-sized self-join, and candidate-sized verification —
    * with an exactness guarantee LSH cannot give. */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, minJaccard: Double): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val shd = Stages.stage(shingleRows(docs, idCol, textCol, shingleSize)
      .select(col(idCol), col("shingle")).distinct())
    jaccardOnPairs(docs, prefixFilterCandidates(shd, idCol, minJaccard),
        idCol, textCol, shingleSize, shinglesOpt = Some(shd))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[prefixFilterJoin]]'s candidate generator over a STAGED distinct
    * (idCol, shingle) frame — factored out so the spec can pin the
    * positional-filter pruning directly (the final output can't show
    * it: the exact verifier masks any candidate-set difference). */
  private[graft] def prefixFilterCandidates(shd: DataFrame, idCol: String,
                                            minJaccard: Double): DataFrame = {
    val dfreq = shd.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // Per-doc shingle set sorted by (df, shingle): the (df, shingle)
    // struct IS the global order — no integer rank (and no vocab-wide
    // global sort) needed. One doc_id shuffle builds the arrays.
    val sorted = shd.join(dfreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("ns"))
    // Prefix length with floor-slack: ns − floor(t·ns) + 1 ≥ the
    // required ns − ⌈t·ns⌉ + 1, immune to 0.6·5 = 3.0000000000000004
    // style float-ceil overshoot (a SHORT prefix would silently drop
    // true pairs; a long one only adds candidates the verifier kills).
    // The prefix is exploded WITH its 0-based position in the doc's
    // global order — the positional half of PPJoin (Xiao et al.,
    // VLDB'08 §3.2): a shared prefix shingle at positions (pa, pb)
    // bounds the pair's total overlap from above by
    // 1 + min(ns_a − (pa+1), ns_b − (pb+1)) = min(na − pa, nb − pb),
    // because every common shingle of a J ≥ t pair is ≥ the shared one
    // in the global order, i.e. confined to both suffixes.
    val pref = sorted
      .withColumn("__plen",
        (col("ns") - floor(lit(minJaccard) * col("ns")) + 1)
          .cast("int"))
      .select(col(idCol), col("ns"),
        posexplode(slice(col("__toks"), lit(1), col("__plen")))
          .as(Seq("__pp", "__pt")))
      .select(col(idCol), col("ns"), col("__pp"),
        col("__pt.shingle").as("shingle"))
    val p = Stages.stage(pref)
    val eps = 1e-9
    // Positional filter (round 19): per candidate pair, the TIGHTEST
    // upper bound over its shared prefix shingles is attained at the
    // pair's MINIMAL common shingle (positions grow together along the
    // global order, so min(na − pa, nb − pb) is maximal there), and a
    // true J ≥ t pair needs overlap o ≥ t·(na+nb)/(1+t) (from
    // o/(na+nb−o) ≥ t). Keeping pairs with max-over-shared-shingles
    // bound ≥ that requirement (with float slack DOWNWARD — a loose
    // bound only admits candidates the exact verifier kills; a tight
    // one would drop true pairs) is therefore LOSSLESS, and it prunes
    // the candidates the old bare `.distinct()` kept: the aggregation
    // below replaces that distinct — same (id_a, id_b) shuffle, no new
    // exchange — so the verify stage downstream reads strictly fewer
    // pairs. Output-identical by the verifier's exactness; the
    // NearDupSpec ppjoin≡ground-truth pin re-proves it per run.
    val cand = p.select(col(idCol).as("id_a"), col("ns").as("na"),
        col("__pp").as("__pa"), col("shingle"))
      .join(p.select(col(idCol).as("id_b"), col("ns").as("nb"),
        col("__pp").as("__pb"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        col("nb").cast("double") >= lit(minJaccard) * col("na") - lit(eps) &&
        col("na").cast("double") >= lit(minJaccard) * col("nb") - lit(eps))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(least(col("na") - col("__pa"), col("nb") - col("__pb")))
        .as("__ub"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(col("__ub").cast("double") >=
        lit(minJaccard / (1 + minJaccard)) * (col("na") + col("nb")) - lit(eps))
      .select(col("id_a"), col("id_b"))
    cand
  }

  /** SimHash near-dup pairs via the byte-band pigeonhole trick: split
    * the 32-bit simhash into `numBands` equal bands; any pair within
    * hamming distance < numBands must agree exactly on at least one
    * band (pigeonhole), so banding finds ALL pairs with distance ≤
    * numBands-1 — exact, not approximate — while the self-join stays
    * bucket-local instead of O(n²).
    *
    * AUDIT-ONLY form: bands at ROW level, so a corpus with k copies of a
    * document pays k²/2 pairs per agreeing bucket — quadratic on
    * duplicated corpora (the worst 10× ScaleCheck ratio in round 13).
    * Production consumers use [[simhashNearDupDistinct]], which
    * exact-shrinks identical hashes to one multiplicity-carrying node
    * first; this form remains as the doc-level ground truth the audit
    * queries (dd13-style) compare against, optionally bounded by
    * `maxBucketSize`. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, numBands: Int = 4,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    require(maxHamming < numBands, "pigeonhole exactness needs maxHamming < numBands")
    val bandBits = 32 / numBands
    val sh = simhash(docs, idCol, textCol)
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("band_key"))
    }
    val banded0 = sh
      .select(col(idCol), col("simhash"), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.band_key"))
    // Same hot-bucket economics as minhash LSH: k identical boilerplate
    // docs put k²/2 pairs in every band bucket. The cap bounds the cost;
    // with it, "exact for hamming < bands" holds only for pairs whose
    // agreeing bucket survives (off by default for oracle parity).
    val banded = maxBucketSize.fold(banded0) { cap =>
      val sizes = banded0.groupBy(col("band"), col("band_key"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= cap)
        .drop("__bsz")
      banded0.join(sizes, Seq("band", "band_key"))
    }
    val a = banded.select(col("band"), col("band_key"),
      col(idCol).as("id_a"), col("simhash").as("__sha"))
    val b = banded.select(col("band"), col("band_key"),
      col(idCol).as("id_b"), col("simhash").as("__shb"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sha").bitwiseXOR(col("__shb"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** PRODUCTION form of SimHash near-dup: exact-shrink FIRST (the dd18 /
    * [[bitstringNearDup]] doctrine) — identical simhashes collapse to ONE
    * distinct-hash node carrying a multiplicity and a representative id
    * BEFORE the band self-join, so k boilerplate near-identical docs
    * contribute one node, never k²/2 pairs per band bucket. The banded
    * join and the output are sized by the DISTINCT simhash set,
    * independent of corpus duplication — the shape that holds at 100 TB,
    * where [[simhashNearDup]]'s uncapped row-level banding (kept as the
    * audit/ground-truth form) grows quadratically on duplicated corpora.
    * Pigeonhole exactness over distinct pairs is unchanged: maxHamming <
    * numBands ⇒ recall 1.0. Output: one row per unordered distinct-hash
    * pair within the radius — (hash_a, hash_b, n_a, n_b, rep_a, rep_b,
    * hamming); expanding to doc-level pairs is a double join back on
    * simhash, done only when a consumer truly needs the quadratic set. */
  def simhashNearDupDistinct(docs: DataFrame, idCol: String, textCol: String,
                             maxHamming: Int = 3, numBands: Int = 4): DataFrame =
    simhashNearDupDistinctFromHashes(simhash(docs, idCol, textCol), idCol,
      maxHamming, numBands)

  /** [[simhashNearDupDistinct]] over a PRECOMPUTED (idCol, simhash)
    * frame — consumers that also need the hash table for membership
    * edges (mm13's cross-modality groups) stage ONE simhash pass and
    * share it instead of re-running the tokenize+md5 chain per
    * consumer (round 19). */
  def simhashNearDupDistinctFromHashes(hashes: DataFrame, idCol: String,
                                       maxHamming: Int = 3,
                                       numBands: Int = 4): DataFrame = {
    require(maxHamming < numBands, "pigeonhole exactness needs maxHamming < numBands")
    val bandBits = 32 / numBands
    val u = hashes
      .groupBy(col("simhash").as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("rep"))
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("h"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("band_key"))
    }
    val banded = u.select(col("h"), col("n"), col("rep"),
      explode(array(bands: _*)).as("bk"))
      .select(col("h"), col("n"), col("rep"), col("bk.band"), col("bk.band_key"))
    val a = banded.select(col("band"), col("band_key"), col("h").as("hash_a"),
      col("n").as("n_a"), col("rep").as("rep_a"))
    val b = banded.select(col("band"), col("band_key"), col("h").as("hash_b"),
      col("n").as("n_b"), col("rep").as("rep_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("hash_a") < col("hash_b"))
      .select(col("hash_a"), col("hash_b"), col("n_a"), col("n_b"),
        col("rep_a"), col("rep_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("hash_a").bitwiseXOR(col("hash_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming-radius near-dup pairs over an arbitrary '0'/'1'-bitstring
    * hash column (perceptual hashes — aHash, audio fingerprints —
    * arrive as fixed-width bitstrings) — [[simhashNearDup]]'s byte-band
    * pigeonhole generalized to any width, with the exact-shrink
    * doctrine applied FIRST: identical hashes collapse to one
    * representative row with a multiplicity (k duplicate rasters
    * contribute ONE distinct-hash node, never k²/2 pairs — the dd18
    * lesson), so the banded self-join and the output are sized by the
    * DISTINCT hash set, independent of corpus duplication. Pigeonhole
    * exactness: maxHamming < numBands guarantees ≤ maxHamming
    * differing bits leave at least one band equal, so recall over
    * distinct pairs is 1.0, not probabilistic. Hamming is computed on
    * 32-bit chunks (conv → XOR → bit_count, pure codegen). Output: one
    * row per unordered distinct-hash pair within the radius, with both
    * multiplicities and representative ids. */
  def bitstringNearDup(hashes: DataFrame, idCol: String, hashCol: String,
                       bits: Int, maxHamming: Int,
                       numBands: Int): DataFrame = {
    require(maxHamming < numBands, "pigeonhole exactness needs maxHamming < numBands")
    require(bits % numBands == 0, s"bits=$bits must divide into numBands=$numBands")
    val bandLen = bits / numBands
    val u = hashes.groupBy(col(hashCol).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("rep"))
      // Fail LOUDLY on a malformed hash instead of silently mis-pairing:
      // a short hash yields empty band keys (every such row collides in
      // those bands — a quadratic candidate join) and a truncated
      // popcount. assert_true returns NULL when the predicate holds, so
      // the filter keeps every valid row and raises on the first bad one
      // — checked on the DISTINCT-hash set, not per input row.
      .filter(assert_true(
        length(col("h")) === bits && col("h").rlike("^[01]+$"),
        concat(lit(s"bitstringNearDup: hash must be $bits chars of 0/1, got "),
          col("h"))).isNull)
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        substring(col("h"), b * bandLen + 1, bandLen).as("band_key"))
    }
    val banded = u.select(col("h"), col("n"), col("rep"),
      explode(array(bands: _*)).as("bk"))
      .select(col("h"), col("n"), col("rep"), col("bk.band"), col("bk.band_key"))
    val a = banded.select(col("band"), col("band_key"), col("h").as("hash_a"),
      col("n").as("n_a"), col("rep").as("rep_a"))
    val b = banded.select(col("band"), col("band_key"), col("h").as("hash_b"),
      col("n").as("n_b"), col("rep").as("rep_b"))
    val hamming = (0 until bits by 32).map { i =>
      bit_count(conv(substring(col("hash_a"), i + 1, math.min(32, bits - i)), 2, 10)
        .cast("long")
        .bitwiseXOR(conv(substring(col("hash_b"), i + 1, math.min(32, bits - i)), 2, 10)
          .cast("long")))
    }.reduce(_ + _)
    a.join(b, Seq("band", "band_key"))
      .filter(col("hash_a") < col("hash_b"))
      .select(col("hash_a"), col("hash_b"), col("n_a"), col("n_b"),
        col("rep_a"), col("rep_b"))
      .distinct()
      .withColumn("hamming", hamming.cast("int"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[Stages.stage]] under its old name, for callers outside the
    * engine; engine code calls [[Stages.stage]]. */
  def stage(df: DataFrame): DataFrame = Stages.stage(df)

  /** One-step canonical assignment from verified near-dup pairs: each
    * doc's canonical id = min over itself and its neighbors with
    * similarity ≥ threshold. (One label-propagation step — the common
    * dedup policy when clusters are shallow; use [[neardupComponents]]
    * for full connected components over transitive chains.) */
  def neardupGroups(docs: DataFrame, jaccardPairs: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    val strong = jaccardPairs.filter(col("jaccard") >= threshold)
    val nbr = strong.select(col("id_a").as(idCol), col("id_b").as("nbr"))
      .unionAll(strong.select(col("id_b").as(idCol), col("id_a").as("nbr")))
    docs.select(col(idCol)).join(nbr, Seq(idCol), "left")
      .groupBy(col(idCol)).agg(min(col("nbr")).as("__mn"))
      .select(col(idCol),
        least(col(idCol), coalesce(col("__mn"), col(idCol))).as("canonical_id"))
  }

  /** Embedding-free near-dup over signed hashed-TF vectors
    * ([[TextAnalysis.hashedTf]]): LSH-bucket blocking + cosine, with
    * EVERY sign test and dot product in exact integer arithmetic —
    * md5-derived rational hyperplanes land exactly on zero against
    * integer tf values, where a float Σv·w's summation order flips the
    * bucket bit between engines (caught at sf0.1). The only floats are
    * the final sqrt/division on exact integer inputs (correctly
    * rounded, hence engine-identical). Same blocked-self-join cost
    * profile as the embedding near-dup; all-zero docs drop out with
    * the sparse tf filter.
    *
    * `maxBucketSize` is the hot-bucket guard (the [[minhashCandidates]]
    * contract): a (band, bucket) over the cap is dropped ENTIRELY —
    * bounded recall loss, bounded cost, and deterministic (bucket sizes
    * are exact integers), so the oracle mirrors it. With the cap, cost
    * per band is ≤ cap × corpus — LINEAR in the corpus, not Σ bucket².
    *
    * `bands` splits the signature minhash-style (numPlanes must divide
    * evenly): band b keys on planes [b·r, (b+1)·r); a pair colliding in
    * ANY band is a candidate (OR across bands restores the recall a
    * single wider signature loses on borderline pairs). Sizing lesson
    * (round 9): 8 planes = a 256-bucket space where one bucket held 23%
    * of the sf0.1 corpus — the unguarded 10× ScaleCheck measured 122×,
    * the quadratic made real. Measured on the same fixture, 32 planes
    * as 2×16 cuts the max bucket 1162 → 874 and Σ bucket² by 32%, and
    * the cap (2000 in the registered query — above every base-fixture
    * bucket, so base results keep full recall) turns the 10× replica's
    * grown hot buckets into dropped buckets instead of quadratic
    * pair fan-out. Size the cap a few × the expected bucket size
    * (corpus / 2^rowsPerBand), NOT proportional to corpus — a
    * corpus-proportional cap re-admits Σ bucket² ∝ n². */
  def hashedTfNearDup(docs: DataFrame, idCol: String, textCol: String,
                      dim: Int = 16, numPlanes: Int = 32,
                      threshold: Double = 0.9,
                      maxBucketSize: Option[Int] = None,
                      bands: Int = 2): DataFrame = {
    require(numPlanes % bands == 0, s"bands=$bands must divide numPlanes=$numPlanes")
    val rowsPerBand = numPlanes / bands
    // Bucket ids are built as Σ 2^(p % rowsPerBand) in a LONG — beyond
    // 62 bits the pow(2.0, _) cast saturates and distinct signatures
    // silently collapse into one bucket (bogus candidate sets).
    require(rowsPerBand <= 62,
      s"numPlanes/bands = $rowsPerBand exceeds the 62-bit long bucket " +
        "id; use more bands or fewer planes")
    val spark = docs.sparkSession
    import spark.implicits._
    // STAGED (round 19): the signed-tf frame has FOUR consumers below
    // (bucket signatures, norms, both verify sides) and is ≤ dim rows
    // of three ints per doc — unstaged, each consumer re-ran the
    // tokenize+md5+agg chain (guide §5: reused + expensive ⇒ stage).
    val tf = Stages.stage(TextAnalysis.hashedTf(docs, idCol, textCol, dim)
      .filter(col("tf") =!= 0))
    val planes = (0 until numPlanes).flatMap(p => (0 until dim).map(dI =>
        (p, dI.toLong, Similarity.planeWeightInt(p, dI))))
      .toDF("p", "dim_idx", "w")
    val bk = tf.join(broadcast(planes), Seq("dim_idx"))
      .groupBy(col(idCol), col("p"))
      .agg(sum(col("tf") * col("w")).as("__dp"))
      .groupBy(col(idCol), (col("p") / lit(rowsPerBand)).cast("int").as("band"))
      .agg(sum(when(col("__dp") >= 0,
          pow(lit(2.0), col("p") % lit(rowsPerBand)).cast("long"))
        .otherwise(lit(0L))).as("bucket"))
    // staged: the (doc, band, bucket) signature frame feeds both sides
    // of the self-join (and the cap filter when set) — two rows per doc.
    val bkCapped = Stages.stage(maxBucketSize match {
      case Some(cap) =>
        val sizes = bk.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__bc"))
          .filter(col("__bc") <= cap).select(col("band"), col("bucket"))
        bk.join(sizes, Seq("band", "bucket"))
      case None => bk
    })
    val a = bkCapped.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = bkCapped.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    val pairs0 = a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // multi-band OR: the same pair can collide in several bands — dedup
    // BEFORE the dot-product verify so each pair is verified once
    val pairs = if (bands > 1) pairs0.distinct() else pairs0
    val n2 = tf.groupBy(col(idCol)).agg(sum(col("tf") * col("tf")).as("__n2"))
    val ta = tf.select(col(idCol).as("id_a"), col("dim_idx"), col("tf").as("__ta"))
    val tb = tf.select(col(idCol).as("id_b"), col("dim_idx"), col("tf").as("__tb"))
    // candidate-restricted: fan tf rows out to PAIRS, never dim-wide
    // across the corpus (a bare ta⋈tb on dim_idx is corpus-quadratic)
    val dots = pairs
      .join(ta, Seq("id_a"))
      .join(tb, Seq("id_b", "dim_idx"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__ta") * col("__tb")).as("__dp"))
    dots
      .join(n2.select(col(idCol).as("id_a"), col("__n2").as("__na")), Seq("id_a"))
      .join(n2.select(col(idCol).as("id_b"), col("__n2").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("__dp") / (sqrt(col("__na")) * sqrt(col("__nb"))), 6).as("cos_sim"))
      .filter(col("cos_sim") > threshold)
  }

  /** Quality-aware representative selection over near-dup groups: the
    * production keep rule — each group keeps its HIGHEST-scoring member
    * (length, quality gate score, freshness…), not the arbitrary
    * min-id. `labels` is (idCol, canonical_id) from [[neardupGroups]] /
    * [[neardupComponents]]; `scored` is (idCol, scoreCol). One equi-
    * join + one max_by hash agg (map-side combinable — no per-group
    * sort, no window); ties break to the smaller id deterministically. */
  def qualityRepresentatives(labels: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame =
    labels.join(scored, Seq(idCol))
      .groupBy(col("canonical_id"))
      .agg(
        max_by(col(idCol), struct(col(scoreCol), (-col(idCol)).as("__t"))).as("rep_id"),
        max(col(scoreCol)).as("rep_score"),
        count(lit(1)).as("n_members"))

  /** Connected-components canonical assignment: every member of a
    * transitive near-dup chain (A~B~C with A≁C) gets the one
    * component-minimum id — [[neardupGroups]]' single step mislabels any
    * cluster of diameter > 2. Computed via [[starComponents]]
    * (alternating large-star/small-star), which converges in
    * O(log) rounds rather than the O(component diameter) of plain
    * one-hop min-label propagation — the difference between ~10 and
    * ~1000 Spark stages when a 100 TB corpus's boilerplate mega-cluster
    * chains. */
  def neardupComponents(docs: DataFrame, jaccardPairs: DataFrame, idCol: String,
                        threshold: Double, maxIter: Int = 50): DataFrame = {
    val strong = jaccardPairs.filter(col("jaccard") >= threshold)
    starComponents(docs.select(col(idCol)),
      strong.select(col("id_a").as("src"), col("id_b").as("dst")),
      idCol, maxIter)._1
  }

  /** Connected components over an explicit edge list via ALTERNATING
    * LARGE-STAR / SMALL-STAR rounds (the MapReduce CC algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm, re-derived here as DataFrame ops):
    *
    *  - large-star(u): with m = min(N(u) ∪ {u}), attach every neighbor
    *    v > u directly to m. Long chains collapse multiplicatively —
    *    labels hop through the current star centers, not one edge per
    *    round.
    *  - small-star(u): with m = min(N⁻(u) ∪ {u}) over the smaller
    *    neighbors, attach them and u to m.
    *
    * Each round is two hash-agg + join passes over the EDGE list (pair
    * scale, tiny next to the corpus), staged so the plan stays flat.
    * Convergence is O(log) rounds vs O(diameter) for one-hop label
    * propagation (CCSpec pins a 1000-node path to single-digit rounds;
    * one-hop needs ~1000). At the fixpoint the edge set is a star per
    * component centered on the component minimum, so labels read off as
    * one `min` aggregation; isolated nodes label themselves.
    *
    * Small graphs take a driver fast path: when the deduped edge list
    * fits under `localEdgeLimit` rows (a HARD bound — the collect is
    * never unbounded, the same guarded-collect class as
    * [[graft.operators.Reshape.repeatedDimJoin]] and Packing's offsets
    * pass), union-find runs driver-side in O(E·α) and only the
    * component-min labeling runs as Spark aggregations. Near-dup edge
    * sets are pair-scale — orders of magnitude smaller than the
    * corpus — so this is the common case; a corpus whose candidate
    * pairs exceed the cap falls back to the distributed star rounds.
    * Both paths produce identical labels (spec-pinned); the fast path
    * reports 0 rounds.
    *
    * Returns (labels = (idCol, canonical_id), rounds). Edges may arrive
    * in any orientation; self-loops and duplicates are normalized away.
    */
  def starComponents(nodes: DataFrame, edges0: DataFrame, idCol: String,
                     maxIter: Int = 50,
                     localEdgeLimit: Long = 2000000L): (DataFrame, Int) = {
    // Canonical orientation big→small: src > dst, deduped.
    val edgesNorm = edges0.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    // Bounded probe for the driver fast path in ONE job: collect at
    // most limit+1 rows — if the limit spills, the subset is discarded
    // and the distributed rounds run on the full (staged) edge set, so
    // limit()'s arbitrary row choice never reaches a result. This
    // replaces the old stage→count→collect sequence (three jobs) on
    // the common pair-scale path. An empty edge set flows through the
    // union-find trivially (no components → every node labels itself).
    val probe = edgesNorm.limit(localEdgeLimit.toInt + 1).collect()
    var rounds = 0
    if (probe.length <= localEdgeLimit) {
      // Driver union-find on node INDICES (endpoint values stay opaque —
      // they may be structs); the component MINIMUM is then computed by
      // Spark's own min aggregation, so value ordering is identical to
      // the distributed path's.
      val spark = nodes.sparkSession
      val collected = probe
      val index = new java.util.HashMap[Any, Integer](collected.length * 2)
      val parent = new scala.collection.mutable.ArrayBuffer[Int]()
      def idxOf(v: Any): Int = {
        val got = index.get(v)
        if (got != null) got.intValue()
        else { val i = parent.length; index.put(v, Integer.valueOf(i)); parent += i; i }
      }
      def find(i: Int): Int = {
        var r = i
        while (parent(r) != r) r = parent(r)
        var c = i
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      collected.foreach { row =>
        val a = find(idxOf(row.get(0)))
        val b = find(idxOf(row.get(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val nodeType = edgesNorm.schema("src").dataType
      val compRows: java.util.List[org.apache.spark.sql.Row] = {
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](index.size)
        index.forEach { (v, i) =>
          out.add(org.apache.spark.sql.Row(v, find(i)))
        }
        out
      }
      val compDf = spark.createDataFrame(compRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__node", nodeType),
          org.apache.spark.sql.types.StructField("__comp",
            org.apache.spark.sql.types.IntegerType))))
      val compMin = compDf.groupBy(col("__comp")).agg(min(col("__node")).as("__m"))
      val lbl = compDf.join(compMin, Seq("__comp"))
        .select(col("__node").as(idCol), col("__m"))
      val labels = nodes.select(col(idCol))
        .join(lbl, Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__m"), col(idCol)).as("canonical_id"))
      return (labels, 0)
    }
    var edges = Stages.stage(edgesNorm)
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    while (!converged && rounds < maxIter) {
      // Large-star over the symmetrized adjacency: m = min(N(u) ∪ {u}),
      // emit (v, m) for v > u. Output stays big→small (v > u ≥ m).
      // No distinct here — duplicates don't change small-star's min
      // aggregation and the final distinct absorbs them; skipping it
      // saves one shuffle per round.
      val sym = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val minsL = sym.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      val large = sym.join(minsL, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"),
          least(col("src"), col("__mn")).as("dst"))
        .filter(col("src") =!= col("dst"))
      // Small-star over big→small edges: m = min of u's smaller
      // neighbors; attach those neighbors and u itself to m.
      val minsS = large.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      val withM = large.join(minsS, Seq("src"))
      val reattached = withM.filter(col("dst") =!= col("__mn"))
        .select(col("dst").as("src"), col("__mn").as("dst"))
      val selfEdge = withM.select(col("src"), col("__mn").as("dst"))
      val small = Stages.stage(
        reattached.unionAll(selfEdge)
          .filter(col("src") =!= col("dst"))
          .distinct())
      // Fixpoint = edge set unchanged. Counts first (a staged-frame
      // count is nearly free); only when they match does the one-sided
      // exceptAll run — equal cardinalities plus an empty A∖B imply
      // multiset equality, so the second except is never needed.
      val smallCount = small.count()
      converged = smallCount == edgeCount && small.exceptAll(edges).isEmpty
      edges = small
      edgeCount = smallCount
      rounds += 1
    }
    val centers = edges.groupBy(col("src")).agg(min(col("dst")).as("__m"))
    val labels = nodes.select(col(idCol))
      .join(centers.select(col("src").as(idCol), col("__m")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__m"), col(idCol)).as("canonical_id"))
    (labels, rounds)
  }

  /** End-to-end corpus canonicalization — the production dedup order a
    * training-data pipeline runs:
    *  1. EXACT dedup first: one cheap fingerprint groupBy collapses
    *     byte-identical docs and shrinks the corpus BEFORE anything
    *     superlinear runs (web corpora are exact-dup-heavy);
    *  2. MinHash LSH candidates + exact-Jaccard verification over the
    *     surviving representatives only;
    *  3. [[neardupComponents]] fixpoint: one canonical id per
    *     transitive near-dup cluster;
    *  4. every input doc maps through its exact group to its cluster's
    *     canonical id.
    * Returns (idCol, canonical_id) for EVERY input doc. Corpus-scale
    * data is never staged (the fingerprint chain is a linear scan);
    * only pair/label-scale intermediates are ([[jaccardOnPairs]] /
    * [[neardupComponents]] internals). */
  def canonicalize(docs0: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, shingleSize: Int = 3,
                   rowsPerBand: Int = 2, threshold: Double = 0.5,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    val docs = fanOut(docs0)
    // Exact-dup mapping in ONE corpus pass: min(id) over a window
    // partitioned by fingerprint (the groupBy+self-join alternative
    // scans+hashes the corpus twice), then STAGED — the mapping is
    // doc-scale (id + exact id, no text) and has three consumers
    // (rep-id filter, final join, and the caller's plan), each of
    // which would otherwise re-run the fingerprint scan. The window
    // shuffle carries only (id, 16-char fp): doc-scale, not text-scale.
    val mapping = Stages.stage(
      docs.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("__fp"))
        .select(col(idCol),
          min(col(idCol)).over(Window.partitionBy(col("__fp"))).as("__exact")))
    // Representatives re-read the input via a semi-join against the
    // staged rep ids — a plain scan, no re-fingerprinting.
    val reps = docs.join(
      mapping.filter(col(idCol) === col("__exact")).select(col(idCol)),
      Seq(idCol), "left_semi")
    val pairs = minhashCandidates(reps, idCol, textCol,
      numHashes, shingleSize, rowsPerBand, maxBucketSize)
    val jac = jaccardOnPairs(reps, pairs, idCol, textCol, shingleSize)
    val cc = neardupComponents(reps, jac, idCol, threshold)
    mapping
      .join(cc.select(col(idCol).as("__exact"), col("canonical_id")), Seq("__exact"))
      .select(col(idCol), col("canonical_id"))
  }

  /** Incremental [[canonicalize]] — the OP-22 find-or-insert analog for
    * near-dup dedup: INCOMING docs join existing canonical clusters
    * where a verified near-dup link to a cluster REPRESENTATIVE exists;
    * unlinked incoming docs cluster among themselves (new clusters take
    * incoming ids). The existing mapping is never relabeled — the
    * incremental contract — enforced by two-tier labels: a
    * representative's canonical id always beats any incoming id in the
    * min-propagation, even a numerically smaller one. An incoming
    * component linked to several reps takes the minimum rep canonical
    * (merging established clusters is a batch-recompute decision, not
    * an incremental one).
    *
    * Matching is against representatives only (sufficient in practice —
    * members are near-dups of their rep; a member-only match is a
    * recall loss this operator accepts for state that stays
    * rep-sized). Returns the UNION of the unchanged existing mapping
    * and the incoming assignments. `existing` must be
    * (idCol, canonical_id, textCol). */
  def canonicalizeIncremental(existing: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 16, shingleSize: Int = 3,
                              rowsPerBand: Int = 2, threshold: Double = 0.5,
                              maxIter: Int = 50): DataFrame = {
    val reps = existing.filter(col(idCol) === col("canonical_id"))
      .select(col(idCol), col(textCol))
    val inc = incoming.select(col(idCol), col(textCol))
    val all = fanOut(reps.unionByName(inc))
    val tiers = Stages.stage(
      reps.select(col(idCol), lit(0).as("__tier"))
        .unionByName(inc.select(col(idCol), lit(1).as("__tier"))))
    val pairs = minhashCandidates(all, idCol, textCol, numHashes, shingleSize, rowsPerBand)
    // Rep↔rep candidate pairs are dropped BEFORE the exact verify
    // (round 19): under the incremental contract `existing` is a
    // [[canonicalize]] output at the SAME (numHashes, shingleSize,
    // rowsPerBand, threshold), and LSH band keys are a function of the
    // document alone — corpus-independent — so any rep pair colliding
    // here collided in the batch run too, was verified there, and a
    // verified-strong rep pair would have merged into one cluster
    // (leaving only one of them a rep). Hence no surviving rep↔rep
    // candidate can clear the threshold and skipping its verification
    // is result-IDENTICAL — it only removes the re-verification of the
    // batch corpus against itself, which dominated dd11 (the existing
    // side is the whole prior corpus; the incoming batch is small).
    // The oracle's closed form never consumed rep↔rep edges either
    // (incoming-only components + min directly-adjacent rep).
    val cand = pairs
      .join(tiers.select(col(idCol).as("id_a"), col("__tier").as("__ca")), Seq("id_a"))
      .join(tiers.select(col(idCol).as("id_b"), col("__tier").as("__cb")), Seq("id_b"))
      .filter(col("__ca") === 1 || col("__cb") === 1)
      .select(col("id_a"), col("id_b"))
    val strong = jaccardOnPairs(all, cand, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
    // Two-tier SORT KEY (tier 0 = pinned rep, tier 1 = incoming) as the
    // node identity for [[starComponents]]: struct ordering is
    // lexicographic, so a component's MINIMUM node is exactly the
    // incremental contract — the smallest linked rep canonical when one
    // exists, else the smallest incoming id. Running the O(log) star
    // rounds on the surrogate replaces the old one-hop pinned
    // propagation (O(longest incoming chain) rounds — the same
    // diameter trap neardupComponents had). Labels are then applied to
    // INCOMING nodes only, so existing rows never relabel even when a
    // component contains several reps.
    def surro(id: Column, tier: Column): Column =
      struct(tier.as("tier"), id.as("lid"))
    val nodes = tiers.select(surro(col(idCol), col("__tier")).as("node"))
    val sEdges = strong
      .join(tiers.select(col(idCol).as("id_a"), col("__tier").as("__ta")), Seq("id_a"))
      .join(tiers.select(col(idCol).as("id_b"), col("__tier").as("__tb")), Seq("id_b"))
      .select(surro(col("id_a"), col("__ta")).as("src"),
        surro(col("id_b"), col("__tb")).as("dst"))
    val (labels, _) = starComponents(nodes, sEdges, "node", maxIter)
    val incAssigned = labels.filter(col("node").getField("tier") === 1)
      .select(col("node").getField("lid").as(idCol),
        col("canonical_id").getField("lid").as("canonical_id"))
    existing.select(col(idCol), col("canonical_id")).unionByName(incAssigned)
  }

  /** 32-bit SimHash over whitespace tokens: per-bit majority vote of
    * token hashes (bit set when strictly more weighted-ones than zeros).
    * Computed via explode + 32 conditional sums — one shuffle. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = fanOut(docs).select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    val h = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
    val withH = toks.withColumn("h", h)
    val bitSums = (0 until 32).map { b =>
      sum((shiftright(col("h"), b).bitwiseAND(1) * 2 - 1)).as(s"s$b")
    }
    val sums = withH.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), sim.cast("long").as("simhash"))
  }
}
