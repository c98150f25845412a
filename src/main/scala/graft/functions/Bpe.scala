package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Stages

/** Deterministic mini-BPE tokenizer (the real subword algorithm, not a
  * regex proxy): merges are LEARNED once, in plain Scala, from a fixed
  * seed text embedded below (classic byte-pair-encoding merge learning —
  * Sennrich, Haddow & Birch, "Neural Machine Translation of Rare Words
  * with Subword Units", ACL 2016, a public algorithm), and APPLIED as a
  * chain of `replace` column expressions, one per merge in learned
  * order — which is exactly standard BPE inference ("apply the merges
  * in the order they were learned").
  *
  * Why a replace chain: encoding needs per-word iteration, which Spark
  * cannot express natively without a UDF (interpreted, per-row JVM
  * calls) — but a merge applied everywhere-at-once IS a string replace,
  * and both Spark and DuckDB have the same sequential non-overlapping
  * `replace`, so the whole tokenizer is oracle-checkable by generating
  * the identical SQL chain from the same merge constants
  * ([[sqlEncoded]]).
  *
  * Representation invariant that makes a flat replace correct: a doc is
  * rendered with each word's characters separated by TWO spaces, words
  * separated by FOUR spaces, and the whole string wrapped in ONE space.
  * A merge (a, b) rewrites " a  b " → " ab ": the pattern needs exactly
  * two interior spaces, so it can never fire across a word boundary
  * (four spaces) or inside a token (zero spaces), and the replacement
  * restores the invariant (each match consumes one space of each
  * neighbouring double gap and puts it back). Tokens never contain
  * whitespace, so matches are always token-aligned.
  *
  * Scale shape: pure per-row column expressions — no shuffle, no UDF,
  * no driver data path; the ~`numMerges` passes per document are a
  * constant factor. A production tokenizer would fold the merge table
  * into a single codegen trie pass; the merge TABLE and semantics here
  * are the contract, the chain is the simplest engine-portable apply.
  */
object Bpe {

  /** Target number of learned merges (the table may be shorter if the
    * seed pair supply runs dry first). */
  val numMerges: Int = 200

  /** Fixed seed corpus for merge learning — neutral English prose
    * written for this repository; sanitized to [a-z ] before learning
    * so every merge token is a plain lowercase ASCII string (safe to
    * embed verbatim in generated SQL literals). */
  val seedText: String =
    """the engine reads the table and writes the result to the store
      |every query plans the scan and prunes the columns it does not need
      |the data lives in partitions and each partition holds many rows
      |a join shuffles the rows unless one side is small enough to send
      |to every worker the group by step counts the rows for each key
      |and the window step ranks them the text of a document is split
      |into tokens and the tokens are counted scored and packed into
      |sequences for training the model learns from the tokens and the
      |quality of the data decides the quality of the model so the
      |pipeline filters the noise removes the copies and keeps the clean
      |text the stream arrives in batches and each batch is folded into
      |the state then published the reader always sees a complete
      |version never a partial one the cost of a plan depends on the
      |shuffles it takes and the bytes it moves so the best plan moves
      |the least data the least distance with the fewest passes over
      |the corpus and the same answer every single time""".stripMargin

  /** Greedy left-to-right single-pair merge over a token list. */
  private def mergeOnce(toks: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toList
  }

  /** Classic BPE merge learning: count adjacent symbol pairs over the
    * word-frequency table, merge the most frequent pair (ties broken
    * lexicographically for determinism), repeat. */
  def learn(text: String, n: Int): Seq[(String, String)] = {
    val words = text.toLowerCase.replaceAll("[^a-z\\s]", " ")
      .split("\\s+").filter(_.nonEmpty)
    var vocab: Map[List[String], Int] =
      words.groupMapReduce(_.map(_.toString).toList)(_ => 1)(_ + _)
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (merges.length < n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Int]()
      vocab.foreach { case (toks, c) =>
        toks.zip(toks.tail).foreach(p => counts(p) = counts.getOrElse(p, 0) + c)
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
        merges += best
        vocab = vocab.map { case (toks, c) =>
          mergeOnce(toks, best._1, best._2) -> c
        }
      }
    }
    merges.toSeq
  }

  /** The fixed merge table, in learned order. */
  lazy val merges: Seq[(String, String)] = learn(seedText, numMerges)

  /** The delimited character representation of a text column (see the
    * invariant in the object scaladoc). Lower-cases first — the merge
    * alphabet is lowercase. */
  private def repr(c: Column): Column = {
    val words = filter(split(lower(trim(c)), "\\s+"), w => length(w) > 0)
    val chars = transform(words, w =>
      array_join(regexp_extract_all(w, lit("."), lit(0)), "  "))
    concat(lit(" "), array_join(chars, "    "), lit(" "))
  }

  /** The encoded representation after all merges (still delimited). */
  private def foldedRepr(c: Column): Column =
    merges.foldLeft(repr(c)) { case (acc, (a, b)) =>
      call_function("replace", acc, lit(s" $a  $b "), lit(s" $a$b "))
    }

  /** Subword tokens via the REPLACE-CHAIN form — ~numMerges whole-string
    * passes per document. Kept as the executable spec of the encoding
    * semantics (BpeSpec pins [[tokens]] to it); production paths use
    * the native [[graft.plans.BpeEncode]] expression below (~20×). */
  def chainTokens(c: Column): Column =
    filter(split(trim(foldedRepr(c)), " +"), t => length(t) > 0)

  /** Single-space-joined encoding — the native codegen expression
    * (`graft_bpe_encode`, registered by GraftExtensions): one tight
    * per-word merge loop instead of the replace chain's ~numMerges
    * whole-string scans; identical output by construction (BpeSpec). */
  def encoded(c: Column): Column = call_function("graft_bpe_encode", c)

  /** Subword tokens of a text column, in order. */
  def tokens(c: Column): Column =
    filter(split(encoded(c), " "), t => length(t) > 0)

  /** BPE token count of a text column. */
  def tokenCount(c: Column): Column = size(tokens(c))

  // ---- DuckDB mirrors, generated from the same constants ----------
  //
  // DuckDB's binder caps expression nesting at 128, so the ~200-deep
  // replace chain cannot be a single expression. Instead the merge
  // chain is staged through CTE LAYERS of `sqlChunkSize` merges each
  // (`SELECT * REPLACE (…chain… AS __bpe)`), keeping every layer's
  // expression ~55 deep. Consumers prepend [[sqlCtes]] to their WITH
  // list and read `__bpe` from [[sqlFinalCte]] via the *FromCte
  // helpers.

  /** Merges folded per CTE layer — bounded well under the 128-deep
    * binder limit (chain + repr wrapping ≈ 55). */
  private val sqlChunkSize = 50

  // ---- Distributed merge training (corpus-scale tokenizer induction)

  /** Corpus → (word, freq, syms) vocabulary table with the SAME
    * normalization as [[learn]] (lowercase, [^a-z\s] → space). THE
    * scale move of BPE training: the first aggregation shrinks the
    * corpus to its vocabulary, and every subsequent training round
    * operates on that vocab table — pair statistics are weighted by
    * `freq`, so a 100 TB corpus trains over a few million vocab rows. */
  def corpusVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(filter(
        split(regexp_replace(lower(col(textCol)), "[^a-z\\s]", " "), "\\s+"),
        w => length(w) > 0)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", regexp_extract_all(col("word"), lit("."), lit(0)))

  /** Freq-weighted adjacent-symbol pair counts over the vocab's current
    * segmentation — one explode + one hash agg per training round. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("a"),
          element_at(col("syms"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Re-segment every vocab word under merge (a, b): a left fold over
    * the symbol array — merge when the tail of the accumulator is `a`
    * and the current symbol is `b`. Equivalent to [[mergeOnce]]'s
    * greedy left-to-right scan: a just-merged tail equals a+b, which
    * can never equal `a` (b is non-empty), so a merge output is never
    * re-consumed within the same round. */
  def applyMergeToVocab(vocab: DataFrame, a: String, b: String): DataFrame =
    vocab.withColumn("syms",
      aggregate(col("syms"), array().cast("array<string>"),
        (acc, x) => when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x)))))

  /** Distributed BPE merge learning — [[learn]]'s loop re-expressed on
    * DataFrames: per round, ONE vocab-sized pair count + a 1-row argmax
    * collect + a map-only re-segmentation (staged so n rounds do not
    * stack n HOF plans; every round's stage is released on return).
    * Deterministic (ties break (count desc, a, b) like [[learn]]);
    * BpeSpec pins exact merge-table equality with the in-memory learner
    * on the same text. The per-round collect is ONE row — the training
    * loop's driver traffic is O(n) pairs. */
  def trainDistributed(docs: DataFrame, textCol: String,
                       n: Int): Seq[(String, String)] = Stages.scoped(docs.sparkSession) {
    var vocab = Stages.stage(corpusVocab(docs, textCol))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (merges.length < n && !done) {
      val best = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getAs[String]("a"), best(0).getAs[String]("b"))
        merges += ((a, b))
        vocab = Stages.stage(applyMergeToVocab(vocab, a, b))
      }
    }
    merges.toSeq
  }

  /** DuckDB SQL for the delimited representation of expression `e`. */
  private def sqlRepr(e: String): String =
    s"' ' || array_to_string(list_transform(" +
      s"list_filter(string_split_regex(lower(trim($e)), '\\s+'), w -> len(w) > 0), " +
      s"w -> array_to_string(regexp_extract_all(w, '.'), '  ')), '    ') || ' '"

  /** CTE chain applying the full merge table to `textExpr` of `src`,
    * carrying all of `src`'s columns plus the running `__bpe`
    * representation. Splice into a WITH list, then select from
    * [[sqlFinalCte]]. */
  def sqlCtes(src: String, textExpr: String = "text"): String = {
    val init = s"__bpe0 AS (SELECT *, ${sqlRepr(textExpr)} AS __bpe FROM $src)"
    val layers = merges.grouped(sqlChunkSize).toSeq.zipWithIndex.map {
      case (group, i) =>
        val folded = group.foldLeft("__bpe") { case (acc, (a, b)) =>
          s"replace($acc, ' $a  $b ', ' $a$b ')"
        }
        s"__bpe${i + 1} AS (SELECT * REPLACE ($folded AS __bpe) FROM __bpe$i)"
    }
    (init +: layers).mkString(",\n")
  }

  /** Name of the final CTE produced by [[sqlCtes]]. */
  def sqlFinalCte: String =
    s"__bpe${(merges.size + sqlChunkSize - 1) / sqlChunkSize}"

  /** Token list from the staged `__bpe` column of [[sqlFinalCte]]. */
  def sqlTokensFromCte: String =
    "list_filter(string_split_regex(trim(__bpe), ' +'), t -> len(t) > 0)"

  /** Space-joined encoding from the staged `__bpe` column. */
  def sqlEncodedFromCte: String = s"array_to_string($sqlTokensFromCte, ' ')"

  /** BPE token count from the staged `__bpe` column. */
  def sqlTokenCountFromCte: String = s"len($sqlTokensFromCte)"
}
