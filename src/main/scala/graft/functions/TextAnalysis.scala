package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Stages

/** Text-analysis kit for training-data pipelines: tokenization, language
  * ID (stopword heuristic), quality scoring, fingerprinting. All pure
  * Catalyst column expressions over arrays — no UDFs, no shuffles; each
  * scales linearly with the scan.
  */
object TextAnalysis {

  /** Whitespace tokenization (null-safe). Blank/whitespace-only docs
    * yield a truly empty array — `split` on "" would otherwise produce
    * [""], a phantom token inflating n_tokens.
    *
    * Codegen note: this is THE hot expression of the text family (every
    * minhash/simhash/lang-id/quality path tokenizes through it), so it
    * must stay inside whole-stage codegen. The empty guard is a `when`
    * on the normalized length, NOT a `filter` higher-order function —
    * HOFs are interpreted per element and would put an interpreter in
    * front of every downstream explode. Collapse-whitespace-then-trim
    * first (SQL trim strips only ASCII spaces — a lone tab would
    * otherwise split into phantom empty tokens), then splitting the
    * non-blank normalized text on single spaces produces no empty
    * tokens (equality with the old filter form is spec-pinned). */
  def tokens(c: Column): Column = {
    val norm = trim(regexp_replace(c, "\\s+", " "))
    when(length(norm) === 0, typedLit(Seq.empty[String]))
      .otherwise(split(norm, " "))
  }

  /** Subword token count — real [[Bpe]] tokenization (fixed learned
    * merge table applied as column expressions), replacing the earlier
    * words-plus-symbols regex proxy; packing budgets and quality gates
    * keyed on "tokens" now count actual subwords. */
  def tokenCountBpeIsh(c: Column): Column = Bpe.tokenCount(c)

  /** Stopword sets for the n-gram language-ID heuristic (tiny,
    * deterministic samples of public stopword lists). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ein", "mit", "von"),
  )

  /** Count of tokens that belong to `set`. */
  def stopwordHits(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(set), t)))

  /** Argmax-with-priority decision rule shared by both lang-id forms. */
  private[graft] def langDecision(en: Column, es: Column, de: Column): Column =
    when(en >= es && en >= de && en > 0, lit("en"))
      .when(es >= de && es > 0, lit("es"))
      .when(de > 0, lit("de"))
      .otherwise(lit("und"))

  /** Language ID: argmax of stopword hit counts with deterministic
    * priority en > es > de; "und" (unknown) when no set matches.
    *
    * Array-expression form — convenient for single-column use, but the
    * three `stopwordHits` each re-evaluate `tokens(c)` (Catalyst
    * inlines the alias) and HOFs are interpreted. For corpus-scale
    * scans use [[langIdAgg]]. */
  def langIdHeuristic(c: Column): Column = {
    val t = tokens(c)
    langDecision(
      stopwordHits(t, stopwords("en")),
      stopwordHits(t, stopwords("es")),
      stopwordHits(t, stopwords("de")))
  }

  /** Corpus-scale language ID: explode tokens once, count stopword hits
    * per language with codegen'd conditional sums (one hash shuffle on
    * the doc id, map-side partial aggregation), decide with the same
    * rule. Keeps token-less docs via the left join ("und"). Identical
    * output to [[langIdHeuristic]] (TextAnalysisSpec asserts it). */
  def langIdAgg(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame = {
    def hit(lang: String): Column =
      sum(when(col("tok").isInCollection(stopwords(lang)), 1).otherwise(0))
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol))
      .agg(hit("en").as("__en"), hit("es").as("__es"), hit("de").as("__de"))
    docs.join(counts, Seq(idCol), "left")
      .withColumn("lang_guess", langDecision(
        coalesce(col("__en"), lit(0)),
        coalesce(col("__es"), lit(0)),
        coalesce(col("__de"), lit(0))))
      .drop("__en", "__es", "__de")
  }

  /** Quality metrics: token count, distinct-token count, type-token
    * ratio (lexical diversity), mean token length. Ratios rounded to 6
    * decimals for cross-engine float stability. Total token chars =
    * length of the separator-less array_join — one codegen expression,
    * not an interpreted per-element `aggregate` HOF (this runs over
    * every document of the corpus). */
  def qualityMetrics(c: Column): Seq[Column] = {
    val t = tokens(c)
    val n = size(t)
    val uniq = size(array_distinct(t))
    val charSum = length(array_join(t, ""))
    Seq(
      n.cast("int").as("n_tokens"),
      uniq.cast("int").as("n_uniq_tokens"),
      round(uniq.cast("double") / n, 6).as("ttr"),
      round(charSum.cast("double") / n, 6).as("mean_token_len"),
    )
  }

  /** Feature-hashed (hashing-trick) term-frequency vectors in LONG form
    * (doc, dim_idx, tf): each token lands in md5(token) mod `dim` with
    * a ±1 sign from an independent md5 nibble (the signed hashing
    * trick — collisions cancel in expectation instead of biasing up).
    * Model-free document vectors that feed the ANN/cosine family
    * without an embedding service, and INTEGER-exact end to end: no
    * normalization, no floats, so the output hash-checks bit-for-bit.
    * One explode + one (doc, dim) hash agg + a per-doc dim fan-out for
    * dense long-form output; every shuffle keyed by the doc id. */
  def hashedTf(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    val toks = graft.operators.NearDup.fanOut(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val hashed = toks.select(col(idCol),
      (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % dim).as("dim_idx"),
      when(conv(substring(md5(col("tok")), 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
        .otherwise(-1L).as("__sign"))
    val sums = hashed.groupBy(col(idCol), col("dim_idx"))
      .agg(sum(col("__sign")).as("tf"))
    val dims = docs
      .select(col(idCol), explode(sequence(lit(0), lit(dim - 1))).as("__d"))
      .select(col(idCol), col("__d").cast("long").as("dim_idx"))
    dims.join(sums, Seq(idCol, "dim_idx"), "left")
      .select(col(idCol), col("dim_idx"), coalesce(col("tf"), lit(0L)).as("tf"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text,
    * truncated to 16 hex chars — the exact-dedup key. Collapse-then-trim
    * so edge tabs/newlines normalize away (SQL trim strips spaces only). */
  def fingerprint(c: Column): Column = fingerprint(c, caseFold = true)

  /** `caseFold = false` gives the CASE-PRESERVING fingerprint: md5 of
    * the whitespace-normalized text with the original casing. Two docs
    * share it iff they have the IDENTICAL token sequence (tokens split
    * on the same normalized whitespace), so a collapse keyed on it is
    * provably lossless for any token/shingle-based downstream — the
    * shrink key an exact similarity join needs (dd18), where the
    * case-folded default would merge case-variant docs whose shingle
    * sets differ. */
  def fingerprint(c: Column, caseFold: Boolean): Column = {
    val norm = trim(regexp_replace(c, "\\s+", " "))
    substring(md5(if (caseFold) lower(norm) else norm), 1, 16)
  }

  /** Winnowing fingerprints (the MOSS document-fingerprinting scheme):
    * hash every `shingleSize`-gram, slide a window of `windowSize`
    * consecutive hashes, keep the minimum of each window, emit the
    * distinct selected hashes per document. Guarantees any shared run
    * of ≥ windowSize+shingleSize-1 tokens between two documents shares
    * at least one fingerprint — the standard local-similarity sketch
    * for plagiarism / near-dup detection.
    *
    * Shape: shingle explode + one rows-frame window over (doc, pos) +
    * distinct — all partitioned by the doc id, one shuffle end-to-end.
    * Docs with fewer than windowSize shingles yield no fingerprints. */
  def winnowingFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String,
                            textCol: String, shingleSize: Int,
                            windowSize: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.NearDup
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val frame = byPos.rowsBetween(0, windowSize - 1)
    NearDup.shingleRows(docs, idCol, textCol, shingleSize)
      .withColumn("__h", NearDup.baseHash(col("shingle")))
      .withColumn("__wmin", min(col("__h")).over(frame))
      // only full windows select a fingerprint
      .withColumn("__full", lead(col("__h"), windowSize - 1).over(byPos).isNotNull)
      .filter(col("__full"))
      .select(col(idCol), col("__wmin").as("fingerprint"))
      .distinct()
  }

  /** Corpus bigram-frequency quality score — a cheap perplexity proxy
    * for gibberish filtering: each doc scores the MEAN natural log of
    * its bigrams' corpus frequencies. Gibberish bigrams are corpus-rare
    * (freq ≈ 1 → ln ≈ 0), fluent text reuses common bigrams, so a low
    * score flags low-quality docs without any model artifact — the
    * corpus is its own language model.
    *
    * Shape: bigram explode (reuses [[graft.operators.NearDup.shingleRows]]'
    * doc-partitioned stream) → one hash agg for corpus counts (map-side
    * partials absorb hot keys there) → frequency lookup → per-doc avg
    * on the doc id. Docs with fewer than 2 tokens get a null score
    * (kept, left join). Rounded to 6 decimals for cross-engine
    * summation-order tolerance.
    *
    * Zipfian-head hardening: bigram frequency is zipfian — a plain
    * bg⋈freq equi-join funnels every "of the"-class row into a few
    * shuffle partitions. Instead the top-`headK` bigrams (the hot mass,
    * K rows — driver-bounded) are BROADCAST, so hot rows resolve their
    * count map-side and never shuffle; only the long tail — which has
    * no hot keys by construction — takes the shuffled equi-join. Any
    * head/tail split returns the identical result (each row just
    * fetches its global count), so `headK` is purely a performance
    * knob.
    *
    * The frequency table is staged ONCE (vocab-scale — an aggregation
    * output, orders of magnitude under the corpus) and head + tail
    * both derive from it, so the corpus explode runs exactly twice
    * (hot branch, cold branch) — the same scan count as the un-split
    * form, minus its skewed shuffle. Note stage() is eager: building
    * this DataFrame runs the frequency job. */
  def bigramLogFreqScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String,
                         headK: Int = 1024): org.apache.spark.sql.DataFrame = {
    import graft.operators.NearDup
    val bg = NearDup.shingleRows(docs, idCol, textCol, 2)
      .select(col(idCol), col("shingle").as("bigram"))
    val freq = Stages.stage(bg.groupBy(col("bigram")).agg(count(lit(1)).as("n")))
    // deterministic top-K head (tiebreak only pins the split, not the
    // result) — a TakeOrdered over the staged freq, not a recompute.
    val head = freq.orderBy(col("n").desc, col("bigram").asc).limit(headK)
    val tagged = bg.join(broadcast(head), Seq("bigram"), "left")
    val hot = tagged.filter(col("n").isNotNull)
    val tail = freq.join(broadcast(head.select(col("bigram"))), Seq("bigram"), "left_anti")
    val cold = tagged.filter(col("n").isNull).drop("n").join(tail, Seq("bigram"))
    val scored = hot.unionByName(cold)
      .groupBy(col(idCol))
      .agg(round(avg(log(col("n").cast("double"))), 6).as("bigram_logfreq"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
  }

  /** Add-one-smoothed bigram language-model cross-entropy per document —
    * the CCNet/Gopher-style perplexity filter, self-trained on the
    * corpus so it needs no external model: P(w₂|w₁) = (c(w₁w₂)+1) /
    * (c(w₁·)+V), per-doc ce = avg(−ln P) over its bigrams, ppl =
    * exp(ce). Unlike [[bigramLogFreqScore]] (unnormalized ln-frequency)
    * this is a proper conditional LM score: boilerplate-heavy docs sit
    * at low perplexity, lexically incoherent ones at high — the
    * standard cut points for pretraining curation.
    *
    * Shape at 100 TB: the model IS two hash aggregations (bigram and
    * context counts, map-side combined, vocabulary-sized outputs), V is
    * one scalar row broadcast-crossed into the vocab-sized prob table
    * (PlanSpec-whitelisted scalar fan-out), and scoring splits the
    * zipfian bigram key into a broadcast top-K head plus a shuffled
    * long tail (the [[bigramLogFreqScore]] skew shape) — no windows,
    * no sorts, no hot-key shuffle partitions. The staged (one-pass)
    * shingle explode feeds both branches.
    * Determinism: every probability is a ratio of exact integers
    * (identical in any engine) through one correctly-rounded ln; only
    * the per-doc avg is summation-order-sensitive, and it is rounded to
    * the repo-wide 6 decimals. Docs with < 2 tokens surface with null
    * metrics (no bigrams to score).
    * Output: (idCol, n_bigrams, ce, ppl). */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    headK: Int = 1024): org.apache.spark.sql.DataFrame = {
    import graft.operators.NearDup
    // The shingle explode feeds BOTH the count branch and the scoring
    // join — stage it once so the corpus is
    // tokenized/exploded a single time, not recomputed per branch.
    val bg = Stages.stage(NearDup.shingleRows(docs, idCol, textCol, 2)
      .select(col(idCol), col("shingle").as("bigram")))
    val c12 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("__n"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
    val c1 = c12.groupBy(col("__w1")).agg(sum(col("__n")).as("__cn"))
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("__v"))
    val probs = Stages.stage(c12.join(c1, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bigram"), col("__n"),
        log((col("__n") + lit(1)).cast("double") /
          (col("__cn") + col("__v"))).as("__lp")))
    // Zipfian-key shuffle split (the bigramLogFreqScore shape): corpus
    // bigrams are power-law distributed, so joining them all by key
    // would funnel the hot head through a few skewed shuffle
    // partitions at 100 TB. Broadcast the deterministic top-K head
    // (tiebreak only pins the split, not the result) and shuffle only
    // the long tail.
    val head = probs.orderBy(col("__n").desc, col("bigram").asc).limit(headK)
    val tagged = bg.join(broadcast(head.select(col("bigram"), col("__lp"))),
      Seq("bigram"), "left")
    val hot = tagged.filter(col("__lp").isNotNull)
    val tail = probs.join(broadcast(head.select(col("bigram"))),
      Seq("bigram"), "left_anti")
    val cold = tagged.filter(col("__lp").isNull).drop("__lp")
      .join(tail.select(col("bigram"), col("__lp")), Seq("bigram"))
    val scored = hot.unionByName(cold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-col("__lp")), 6).as("ce"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), col("n_bigrams"), col("ce"),
        round(exp(col("ce")), 6).as("ppl"))
  }

  /** Deterministic dataset split — the reproducible train/val/test
    * assignment every training pipeline needs: bucket = first 8 md5 hex
    * chars of the id, mod 100; ranges [0,trainPct), [trainPct,
    * trainPct+valPct), rest. Pure projection (no shuffle, no state, no
    * RNG): the same doc lands in the same split in any engine, any run,
    * any partitioning — which also makes it oracle-checkable. */
  def deterministicSplit(id: Column, trainPct: Int, valPct: Int): Column = {
    val bucket = conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 100
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Boilerplate-line removal (the CCNet-style pre-dedup cleanup a web
    * training corpus needs): a LINE that appears in more than
    * `maxDocFrac` of all docs (headers, footers, cookie banners,
    * navigation) is dropped from every doc; the remaining lines are
    * reassembled in original order. Returns
    * (idCol, clean_text, n_removed) for EVERY input doc (docs whose
    * lines were all boilerplate keep an empty clean_text).
    *
    * Shape: line explode → one countDistinct hash agg over the line
    * text → join lines against the (small, boilerplate-only) frequency
    * table — AQE broadcasts it — → per-doc ordered reassembly, one
    * shuffle on the doc id. The corpus size is one scalar agg job.
    * Spec-gated (the driver fixture's docs are single-line, so an
    * oracle query would be degenerate). */
  /** Global exact paragraph dedup (the Dolma/RefinedWeb span-level
    * pass): every occurrence of a paragraph except the corpus-FIRST —
    * minimum (doc, position), a pinned total order — is removed, and
    * documents are reassembled in original order (docs left with
    * nothing keep an empty text). Complements
    * [[removeBoilerplateLines]]: that one drops lines by corpus
    * FREQUENCY (boilerplate), this one drops exact REPEATS wherever
    * they appear, first occurrence wins.
    *
    * Scale shape: paragraphs shuffle by their md5 (16 bytes), never by
    * content — one hash agg picks winners, one join back, one doc-keyed
    * reassembly agg. No windows over the corpus. */
  def dedupParagraphs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val paras = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "para")))
      .withColumn("__k", md5(col("para")))
    val winners = paras.groupBy(col("__k"))
      .agg(min(struct(col(idCol).as("wid"), col("pos").as("wpos"))).as("w"))
    val kept = paras.join(winners, Seq("__k"))
      .filter(col(idCol) === col("w.wid") && col("pos") === col("w.wpos"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
        s => s.getField("para")), "\n").as("text_dedup"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Sliding-window document chunking (the RAG / long-context
    * splitter): fixed `window` chars per chunk, `overlap` chars shared
    * between consecutive chunks (stride = window − overlap). Chunk i
    * covers chars [i·stride, i·stride + window); n_chunks =
    * 1 + ⌈max(len − window, 0) / stride⌉, so every doc (including an
    * empty one) yields ≥ 1 chunk and the tail is never dropped. Exact
    * char provenance (doc id, chunk index, char_start) travels with
    * every chunk — retrieval and span-level dedup need the mapping
    * back to the source to be exact, which is why the split is pure
    * character arithmetic, not a search for "nice" boundaries (a
    * boundary-snapping chunker is content-dependent and breaks the
    * fixed-cost contract; overlap is the standard remedy for mid-word
    * cuts). A null text yields no chunks.
    *
    * Scale shape: pure projection + one Generate whose per-row width
    * is len/stride — linear, shuffle-free, whole-stage codegen. At
    * 100 TB this is a map-only pass over the corpus. */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, window: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    // integer ceil(max(len-window,0)/stride); doc lengths ≪ 2^52 so
    // the double round-trip under floor() is exact. The isNotNull gate
    // is load-bearing: greatest() IGNORES nulls (greatest(null, 0) =
    // 0), so without it a null text would yield one null chunk instead
    // of propagating to an empty sequence (no chunks).
    val n = when(col(textCol).isNotNull,
      (lit(1) + floor((greatest(length(col(textCol)) - window, lit(0))
        + lit(stride - 1)) / stride)).cast("long"))
    docs.select(col(idCol), col(textCol),
        explode(sequence(lit(0L), n - 1)).as("chunk_idx"))
      .withColumn("char_start", col("chunk_idx") * stride)
      .select(col(idCol), col("chunk_idx"), col("char_start"),
        col(textCol).substr(col("char_start") + 1, lit(window)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the classic lexical retrieval scorer (Robertson/Sparck Jones; the
    * +1-inside-ln idf variant keeps every term's contribution
    * positive). One tokens explode filtered to the query terms BEFORE
    * any shuffle (per-doc state is |query| counts, not |vocab|), doc
    * lengths from a separate size() projection (no explode), and the
    * three scalar stats (N, avgdl, per-term df) broadcast — the corpus
    * shuffles only (doc, query-term) hit counts. Deterministic given
    * the corpus; the product/division association below is mirrored
    * EXACTLY in the tx23 oracle (float non-associativity would
    * otherwise flip the 6th decimal). Docs with no query term are
    * absent (score 0). */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val lens = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("__len"))
    val stats = lens.agg(count(lit(1)).cast("long").as("__n"),
      avg(col("__len")).as("__avgl"))
    val tf = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).cast("long").as("__tf"))
    val dfs = tf.groupBy(col("__t")).agg(count(lit(1)).cast("long").as("__df"))
    val idf = log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + 1)
    val term = idf * ((col("__tf") * lit(k1 + 1)) /
      (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__len") / col("__avgl"))))
    tf.join(broadcast(dfs), Seq("__t"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(sum(term), 6).as("bm25"))
  }

  def removeBoilerplateLines(docs: org.apache.spark.sql.DataFrame, idCol: String,
                             textCol: String,
                             maxDocFrac: Double): org.apache.spark.sql.DataFrame = {
    val total = docs.count()
    val cap = math.max(1L, (maxDocFrac * total).toLong)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
    val boiler = lines.filter(trim(col("line")) =!= "")
      .groupBy(col("line")).agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > cap)
      .select(col("line"), lit(true).as("__boiler"))
    val flagged = lines.join(boiler, Seq("line"), "left")
    val rebuilt = flagged.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__boiler").isNull, struct(col("line_no"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"),
        sum(when(col("__boiler").isNotNull, 1L).otherwise(0L)).as("n_removed"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** PII scrubbing — the redaction pass a training corpus runs before
    * anything else sees the text: emails, IPv4 addresses, and phone-like
    * digit runs replaced by typed placeholders. A chain of codegen'd
    * global `regexp_replace`s (no UDF, linear scan); patterns are
    * RE2-compatible (no backrefs/lookahead) so any engine applies the
    * identical rule. Order matters and is fixed: emails first (else the
    * phone rule eats their digit runs), then IPs, then phones.
    *
    * Recall-first by design: the phone rule redacts ANY 9+-char digit
    * run with spaces/dashes, which catches some numeric timestamps and
    * ranges too — the standard posture for training-corpus PII (a
    * missed number is worse than a redacted date). Tighten per-corpus
    * by swapping the pattern, not the chain. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"

  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Benchmark decontamination — the n-gram-overlap rule an LLM
    * training pipeline applies against its eval sets: a corpus doc is
    * CONTAMINATED when it shares any `n`-gram with any eval doc.
    * Returns (idCol, contaminated) for every corpus doc.
    *
    * Shape: both sides tokenize once through [[graft.operators.NearDup
    * .shingleRows]]; the eval shingle set is distinct'd (eval suites
    * are dim-scale next to the corpus — AQE broadcasts it) and the
    * overlap is ONE left-semi equi-join on the shingle, then a distinct
    * on the doc id. No per-pair work, no similarity math — contamination
    * is membership, not nearness. */
  def contaminatedDocs(corpus: org.apache.spark.sql.DataFrame,
                       eval: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String,
                       n: Int): org.apache.spark.sql.DataFrame = {
    import graft.operators.NearDup
    val evalSh = NearDup.shingleRows(eval, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val hits = NearDup.shingleRows(corpus, idCol, textCol, n)
      .select(col(idCol), col("shingle"))
      .join(evalSh, Seq("shingle"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("contaminated", lit(true))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Within-document repetition metrics (the Gopher-class quality
    * rules): `top_bigram_frac` = share of the doc's bigram occurrences
    * taken by its single most frequent bigram, `dup_5gram_frac` = share
    * of 5-gram occurrences whose 5-gram repeats within the doc. High
    * values flag looping/boilerplate text that length and TTR gates
    * miss. One doc-keyed shingle explode per n, two hash aggs — all on
    * the doc id, so the shuffles collapse. Docs too short for an n-gram
    * get null for that metric (kept, left join); rounded to 6 decimals. */
  def repetitionMetrics(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.NearDup
    def fracs(n: Int, top: Boolean, as: String) = {
      val counts = NearDup.shingleRows(docs, idCol, textCol, n)
        .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
      val agg =
        if (top) round(max(col("c")).cast("double") / sum(col("c")), 6)
        else round(sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") /
          sum(col("c")), 6)
      counts.groupBy(col(idCol)).agg(agg.as(as))
    }
    docs.select(col(idCol))
      .join(fracs(2, top = true, "top_bigram_frac"), Seq(idCol), "left")
      .join(fracs(5, top = false, "dup_5gram_frac"), Seq(idCol), "left")
  }

  /** Per-document character-level Shannon entropy (nats) — the
    * C4/Gopher-class gibberish gate length and TTR miss: natural text
    * sits in a stable entropy band, while repeated-character spam
    * scores low and random byte soup scores high. −Σ (c/n)·ln(c/n)
    * over the doc's character frequencies; rounded to 6 decimals.
    * Shape: one char explode → two doc-keyed hash aggs (the
    * [[repetitionMetrics]] shuffle shape — both aggs share the doc-id
    * partitioning). Empty docs get null (kept, left join). */
  def charEntropy(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Segment per CODE POINT, not per UTF-16 code unit: `split(text,"")`
    // halves any non-BMP char (emoji, rare CJK) into two surrogate
    // rows, diverging from character-based oracles (DuckDB `substr`).
    // Java regex `.` matches one code point, surrogate pairs included.
    val chars = docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit("(?s)."), lit(0))).as("ch"))
    val counts = chars.groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
    val p = counts
      .withColumn("__p",
        col("c") / sum(col("c")).over(Window.partitionBy(col(idCol))))
    val ent = p.groupBy(col(idCol))
      .agg(round(-sum(col("__p") * log(col("__p"))), 6).as("char_entropy"))
    docs.select(col(idCol)).join(ent, Seq(idCol), "left")
  }

  /** Per-document top-k TF-IDF terms — the keyword-extraction /
    * feature-weighting pass of a text pipeline: tf = term count in the
    * doc, idf = ln(N / df) with df = number of docs containing the
    * term, N = corpus size; top `k` terms per doc by (tfidf desc, term
    * asc) — ROUNDED to 6 decimals BEFORE ranking so the rank is
    * float-stable across engines.
    *
    * Shape: one token explode → (doc, term) hash agg for tf → vocab-
    * scale df agg, STAGED once. Term frequency is zipfian, so the
    * tf⋈df lookup takes the [[bigramLogFreqScore]] split: the top-
    * `headK` terms are BROADCAST (hot rows resolve map-side, never
    * shuffle) and only the unskewed tail takes the shuffled equi-join;
    * any split returns the identical result. The final top-k window
    * partitions on the doc id. N is one column-pruned count scan
    * (driver scalar, same trade as [[removeBoilerplateLines]]). Docs
    * with no tokens have no terms and are absent, matching any SQL
    * formulation. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int,
                    headK: Int = 1024): org.apache.spark.sql.DataFrame = {
    import graft.operators.NearDup
    import org.apache.spark.sql.expressions.Window
    val n = docs.count()
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = Stages.stage(tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val head = dfreq.orderBy(col("df").desc, col("term").asc).limit(headK)
    val tagged = tf.join(broadcast(head), Seq("term"), "left")
    val hot = tagged.filter(col("df").isNotNull)
    val tail = dfreq.join(broadcast(head.select(col("term"))), Seq("term"), "left_anti")
    val cold = tagged.filter(col("df").isNull).drop("df").join(tail, Seq("term"))
    val scored = hot.unionByName(cold).withColumn("tfidf",
      round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"),
        col("rank").cast("int").as("rank"))
  }

  /** Word n-gram shingles (0-based Spark array indexing), for MinHash /
    * Jaccard. Documents shorter than n yield an empty array. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
    .otherwise(typedLit(Seq.empty[String]))
}
