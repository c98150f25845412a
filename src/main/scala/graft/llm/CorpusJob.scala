package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Html, LangId, TextAnalysis, Url}
import graft.operators.{NearDup, Packing, Sampling}
import graft.Stages
import graft.sinks.Publish

/** The end-to-end LLM corpus-build job (round-17 verdict item 1) — the
  * composition the four mandated operator families exist for, run as
  * ONE staged pipeline with an atomic publish (the
  * [[graft.his.TurnosJob]] treatment applied to the LLM surface):
  *
  *   1. HTML → text extraction ([[Html.extractBlocks]], tx43's
  *      operator) — the crawl landing format in front of everything;
  *   2. URL canonicalization → registered-domain provenance key
  *      ([[Url.registeredDomain]], tx45);
  *   3. trained language ID with 'und' abstention routing
  *      ([[LangId.train]] on the driver, [[LangId.withPrediction]] as one
  *      per-row expression over the literal model; tx44/tx44c) —
  *      low-confidence docs leave the corpus instead of mis-keying it;
  *   4. quality gate (tx06's thresholds) → exact-shrink + MinHash-LSH
  *      connected-components dedup keeping canonical representatives
  *      ([[NearDup.canonicalize]], dd10) → cross-doc duplicated-span
  *      STRIP over the survivors ([[NearDup.stripDuplicatedSpans]],
  *      dd15);
  *   5. per-domain token-budget mixing ([[Sampling.tokenBudgetMix]],
  *      tx31's rule keyed by the REGISTERED DOMAIN — the provenance
  *      key governance policy is actually written against);
  *   6. deterministic shard assignment + manifest
  *      ([[Packing.shardAssignments]]/[[Packing.shardManifest]], tx41)
  *      and an all-or-nothing publish ([[Publish.publishTables]]).
  *
  * Stage sharing is the TurnosJob doctrine: every frame with multiple
  * consumers (the lexified corpus, the classified and quality-gated
  * docs, the dedup survivors, the final assignments) is staged exactly
  * once ([[graft.Stages.stage]]) — without it each downstream stage re-runs
  * the whole extract→train→dedup tree, turning the job into
  * sum-of-standalone-queries (the wideExtract lesson, measured ~2× per
  * re-read). [[run]]'s scope releases every one of them, the
  * operators' internal stages included, once the publish settles.
  *
  * Scale shape: every stage is the oracle-proven scale-safe form —
  * codegen expression chains for extract/URL (no UDFs), a langs×dim
  * literal model scored per row, banded LSH (never all-pairs),
  * star-contracted CC, one range shuffle for the shard prefix (never a
  * global window). The oracle-checked composition query
  * (tx46_corpus_e2e) hashes the per-shard manifest of the SAME chain,
  * so membership drift anywhere in the six stages is a correctness
  * failure, not a silent skew.
  *
  * The fixture carries plain text and no URLs, so the QUERY layer
  * synthesizes the hostile HTML page and the URL per doc (the tx43 /
  * tx45 synthesis, passed in as columns) and lexifies the extracted
  * text per the fixture `lang` (the tx44 treatment) — the pipeline
  * itself is fixture-agnostic. */
object CorpusJob {

  /** Published version (None when the input was empty — OP-33's
    * short-circuit) and the per-stage survivor ledger. */
  case class Result(published: Option[String], counts: Map[String, Long])

  private val Dim = 64
  private val NumShards = 8
  private val ShardSeed = "tx46"

  /** The curated shard-assignment frame — the SHARED chain of the
    * oracle-checked query and the publishing job. Input `docs` must
    * carry (doc_id, lang, source, text); `htmlCol`/`urlCol` are the
    * page and URL for each doc (synthesized from the fixture at the
    * query layer, real columns in production).
    * Output: (doc_id, lang, lang_pred, domain, n_tokens, shard) plus
    * the internal `__sh_*` columns [[Packing.shardManifest]] consumes. */
  def curatedAssignments(docs: DataFrame, htmlCol: Column,
                         urlCol: Column): DataFrame = {
    // 1+2: extract text from HTML; registered-domain provenance key.
    // One projection pass — both are codegen expression chains.
    val extracted = NearDup.fanOut(docs)
      .select(col("doc_id"), col("lang"), col("source"),
      array_join(Html.extractBlocks(htmlCol), " ").as("text"),
      Url.registeredDomain(Url.host(urlCol)).as("domain"))
    // Lexified corpus staged ONCE (tx44's doctrine): it feeds NB
    // training, classification, the quality gate, and dedup.
    val lex = Stages.stage(extracted.select(col("doc_id"), col("lang"),
      col("domain"), LangId.lexify(col("text"), col("lang")).as("text")))
    // 3: train on the deterministic 80% split (one bounded aggregation
    // collected to the driver) and classify with abstention as one
    // per-row expression over the literal model; a doc with null text
    // gets no prediction and leaves the corpus.
    val split = TextAnalysis.deterministicSplit(col("doc_id"), 80, 10)
    val model = LangId.train(lex.filter(split === "train"), "text", "lang", Dim)
    val classified = LangId.withPrediction(lex, model, "text", abstain = true)
    // 4a: quality gate (tx06's thresholds).
    val metrics = classified.select(
      (Seq(col("doc_id"), col("lang"), col("lang_pred"), col("domain"),
        col("text")) ++ TextAnalysis.qualityMetrics(col("text"))): _*)
    // staged: feeds canonicalize (which reads it ~4 times), the
    // survivor semi-join, and the strip below — unstaged each re-ran
    // the classify + metrics chain (round 18). 'und' is routed out of
    // the corpus over the staged rows: a filter on lang_pred ahead of
    // the stage would be pushed below the scoring projection and score
    // every doc twice.
    val kept = Stages.stage(metrics.filter(
      col("n_tokens").between(20, 2000) && col("ttr") >= 0.3 &&
        col("mean_token_len").between(2.0, 12.0))
      .select("doc_id", "lang", "lang_pred", "domain", "text"))
      .filter(col("lang_pred") =!= "und")
    // 4b: exact shrink + LSH CC; keep each component's canonical rep.
    val labels = NearDup.canonicalize(kept, "doc_id", "text")
    val survivors = Stages.stage(kept.join(
      labels.filter(col("canonical_id") === col("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    // 4c: strip cross-doc duplicated 5-gram spans from the survivors;
    // the post-strip token count is the corpus-mass currency downstream.
    // STAGED (round 19): the budget mix reads it twice (per-domain
    // token aggregate + the rate join-back) and shardAssignments reads
    // ITS input twice more (total aggregate + running-total window) —
    // unstaged, the whole strip chain re-ran per consumer. Doc-scale
    // rows (ids + counts, no text).
    val stripped = Stages.stage(
      NearDup.stripDuplicatedSpans(survivors, "doc_id", "text", 5)
        .select(col("doc_id"), col("n_kept"))
        .join(survivors.select("doc_id", "lang", "lang_pred", "domain"),
          Seq("doc_id")))
    // 5: token-budget mix keyed by the registered domain.
    val mixed = Sampling.tokenBudgetMix(stripped, "doc_id", "domain",
      col("n_kept"), budgetFrac = 0.6, alpha = 0.5)
    // 6: deterministic shard assignment over the selected docs.
    Packing.shardAssignments(
      mixed.select(col("doc_id"), col("lang"), col("lang_pred"),
        col("domain"), col("n_kept").as("n_tokens")),
      "doc_id", col("n_tokens"), NumShards, ShardSeed)
  }

  /** Per-shard receipt of an assignments frame (tx41's contract). */
  def manifest(assigned: DataFrame): DataFrame =
    Packing.shardManifest(assigned, "doc_id")

  /** Stage → atomically publish. Published tables:
    *  - `corpus_shards` (doc_id, lang, lang_pred, domain, n_tokens,
    *    shard), partitioned by shard — what a training run reads;
    *  - `shard_manifest` — the per-shard receipt;
    *  - `domain_ledger` — per-domain doc/token rollup of the published
    *    corpus (the governance artifact).
    * All-or-nothing through [[Publish.publishTables]]: readers see the
    * old version or the new one, never a mix; a failed write leaves
    * the current version untouched. Empty input short-circuits without
    * touching the target (OP-33's rule). */
  def run(spark: SparkSession, sfDir: String, outRoot: String,
          version: String): Result = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text")
    if (docs.isEmpty) Result(None, Map.empty)
    else Stages.scoped(spark) {
      val assigned = Stages.stage(curatedAssignments(docs,
        graft.queries.TextQueries.fixtureHtmlCol,
        graft.queries.TextQueries.fixtureUrlCol))
      val shards = assigned.drop("__sh_rk", "__sh_t")
      val ledger = assigned.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      Publish.publishTables(spark,
        Map("corpus_shards" -> shards,
          "shard_manifest" -> manifest(assigned),
          "domain_ledger" -> ledger),
        outRoot, version,
        partitioning = Map("corpus_shards" -> Seq("shard")))
      // two jobs per count, overlapped like TurnosJob's
      val Seq(docsIn, published) = Stages.overlap(
        "llm count docs_in" -> (() => docs.count()),
        "llm count published" -> (() => assigned.count()))
      Result(Some(s"v-$version"), Map("docs_in" -> docsIn, "published" -> published))
    }
  }
}
