package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup of 1
    (4L, "completely different content about spark engines here"),
    (5L, "ab"),                                            // < shingleSize tokens
  ).toDF("doc_id", "text")

  test("exactDedup groups identical normalized content") {
    val out = NearDup.exactDedup(docs, "doc_id", "text")
      .orderBy("canonical_id").collect()
    assert(out.length == 4)
    val dup = out.find(_.getLong(1) == 1L).get
    assert(dup.getLong(2) == 2L) // docs 1 and 2 share a fingerprint
  }

  test("minhashSignature: identical docs share signatures; short docs null") {
    val sig = NearDup.minhashSignature(docs, "doc_id", "text", 8, 3)
    assert(sig.count() == 5) // every doc kept, even the shingle-less one
    val rows = sig.collect().map(r => r.getLong(0) -> r).toMap
    (1 to 8).foreach { i =>
      assert(rows(1L).get(i) == rows(2L).get(i), s"mh${i - 1} differs for exact dups")
    }
    assert(rows(5L).isNullAt(1), "short doc must have null signature")
  }

  test("shingleRows matches the array-based shingle definition") {
    val rows = NearDup.shingleRows(docs.filter(col("doc_id") === 1L), "doc_id", "text", 3)
      .select("shingle").as[String].collect().toSeq
    assert(rows.take(2) == Seq("the quick brown", "quick brown fox"))
    assert(rows.length == 7) // 9 tokens -> 7 shingles
  }

  test("minhashCandidates finds exact and near dups, not unrelated docs") {
    val cand = NearDup.minhashCandidates(docs, "doc_id", "text", 16, 3, 2)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardOnPairs: exact dup = 1.0; disjoint = 0.0; known overlap") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = NearDup.jaccardOnPairs(docs, pairs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 4L)) == 0.0)
    // 1 vs 3: 9 tokens, 7 shingles each, 4 shared ("jumps"->"leaps"
    // breaks 3 shingles): J = 4 / (7+7-4) = 0.4
    assert(j((1L, 3L)) == 0.4)
  }

  test("containmentOnPairs: inclusion dup scores cont=1 while jaccard collapses") {
    // doc 6 = doc 1 plus six trailing tokens: all 7 of doc 1's shingles
    // survive inside doc 6's 13 — containment 7/7 = 1, Jaccard 7/13.
    val withSuper = docs.unionAll(Seq(
      (6L, "the quick brown fox jumps over the lazy dog and then some extra trailing words"))
      .toDF("doc_id", "text"))
    val pairs = Seq((1L, 6L), (1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val c = NearDup.containmentOnPairs(withSuper, pairs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(c((1L, 6L)) == ((7L, 13L, 1.0, 0.538462, 0.538462)),
      "superset pair: containment 1, jaccard |A|/|B|")
    assert(c((1L, 2L)) == ((7L, 7L, 1.0, 1.0, 1.0)))
    assert(c((1L, 4L)) == ((7L, 5L, 0.0, 0.0, 0.0)))
  }

  test("bucket cap drops oversized buckets") {
    val many = (1L to 20L).map(i => (i, "same boilerplate text repeated here every time"))
      .toDF("doc_id", "text")
    val uncapped = NearDup.minhashCandidates(many, "doc_id", "text", 16, 3, 2)
    assert(uncapped.count() == 20L * 19 / 2)
    val capped = NearDup.minhashCandidates(many, "doc_id", "text", 16, 3, 2,
      maxBucketSize = Some(10))
    assert(capped.count() == 0)
  }

  test("hashedTfNearDup rejects band widths past the 62-bit long bucket id") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NearDup.hashedTfNearDup(docs, "doc_id", "text",
        numPlanes = 64, bands = 1)
    }
    assert(e.getMessage.contains("62-bit"))
  }

  test("bucket cap bounds cost on hot buckets but keeps cold-bucket recall") {
    // 15 identical boilerplate docs (every band bucket is hot, size 15)
    // + one genuine near-dup pair of distinct docs (bucket size 2).
    val boiler = (1L to 15L).map(i =>
      (i, "same boilerplate text repeated here every time exactly"))
    val pair = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown fox jumps over the lazy dog"))
    val corpus = (boiler ++ pair).toDF("doc_id", "text")
    val capped = NearDup.minhashCandidates(corpus, "doc_id", "text", 16, 3, 2,
      maxBucketSize = Some(10)).as[(Long, Long)].collect().toSet
    // hot-bucket quadratic blowup gone: none of the 15×14/2 boilerplate pairs
    assert(!capped.exists(p => p._1 <= 15L))
    // …but the cold-bucket near-dup pair survives (bounded recall loss)
    assert(capped == Set((100L, 101L)))
  }

  test("canonicalize: exact dups collapse, near-dup chain unifies, singletons self-map") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat today"),   // near dup of 1
      (4L, "a totally different document about spark physical plans"),
      (5L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    ).toDF("doc_id", "text")
    val out = NearDup.canonicalize(corpus, "doc_id", "text",
      numHashes = 16, shingleSize = 3, rowsPerBand = 2, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L), "every input doc mapped")
    assert(out(1L) == 1L && out(2L) == 1L && out(5L) == 1L, s"exact dups: $out")
    assert(out(3L) == 1L, s"near dup joins the cluster through its representative: $out")
    assert(out(4L) == 4L, s"unrelated doc keeps itself: $out")
  }

  test("canonicalizeIncremental: joins clusters without relabeling; new clusters for the rest") {
    val existing = Seq(
      (10L, 10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, 10L, "the quick brown fox jumps over the lazy dog today"), // member
      (20L, 20L, "completely different content about database engines here today"),
    ).toDF("doc_id", "canonical_id", "text")
    val incoming = Seq(
      // near-dup of rep 10 with a SMALLER id — must join cluster 10,
      // not hijack it
      (5L, "the quick brown fox jumps over the lazy cat today"),
      (30L, "some brand new unique material nothing else resembles closely"),
      (31L, "some brand new unique material nothing else resembles closely"),
    ).toDF("doc_id", "text")
    val out = NearDup.canonicalizeIncremental(existing, incoming, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(out(10L) == 10L && out(11L) == 10L && out(20L) == 20L, s"existing unchanged: $out")
    assert(out(5L) == 10L, s"incoming joins the existing cluster: $out")
    assert(out(30L) == 30L && out(31L) == 30L, s"unlinked incoming forms its own cluster: $out")
  }

  test("neardupComponents: transitive chain collapses to one canonical id") {
    val chainDocs = (1L to 6L).toDF("doc_id")
    // chain 1~2~3~4~5 (diameter 4 → needs several propagation rounds);
    // 6 only weakly linked (below threshold) stays its own component.
    val jac = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (3L, 4L, 0.7),
      (4L, 5L, 0.9), (5L, 6L, 0.1)).toDF("id_a", "id_b", "jaccard")
    val out = NearDup.neardupComponents(chainDocs, jac, "doc_id", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L))
    // contrast: the one-step policy mislabels any node > 1 hop from the min
    val oneStep = NearDup.neardupGroups(chainDocs, jac, "doc_id", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(oneStep(3L) == 2L, "one-step propagation stops a hop short — the CC fixpoint exists for this")
  }

  test("LSH candidate self-join under a zipfian hot bucket: AQE skew-split or cap bounds the stage") {
    // 400 identical boilerplate docs land in ONE bucket of every band
    // (the k²/2 pair blowup); 100 distinct docs spread out.
    val boiler = (1L to 400L).map(i =>
      (i, "identical boilerplate body repeated across the whole corpus every time"))
    val varied = (1001L to 1100L).map(i =>
      (i, s"unique content piece number $i talking about subject $i only"))
    val corpus = (boiler ++ varied).toDF("doc_id", "text").repartition(8)

    // The skew is real: the hot bucket dominates every band.
    val sig = NearDup.minhashSignature(corpus, "doc_id", "text", 16, 3)
    val banded = NearDup.lshBands(sig, "doc_id", 16, 2)
    val maxBucket = banded.groupBy(col("band"), col("band_key"))
      .count().agg(max("count")).head().getLong(0)
    assert(maxBucket >= 400L, s"fixture must manufacture a hot bucket, got $maxBucket")

    // Path 1 — cap: with maxBucketSize the oversized bucket never enters
    // the self-join, so every join partition's input is ≤ cap rows per
    // bucket (pairs ≤ cap²/2) regardless of corpus skew.
    val cap = 50
    val sizes = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("sz")).filter(col("sz") <= cap)
    val survivorMax = sizes.agg(max("sz")).head().getLong(0)
    assert(survivorMax <= cap)
    val capped = NearDup.minhashCandidates(corpus, "doc_id", "text",
      16, 3, 2, maxBucketSize = Some(cap))
    assert(!capped.filter(col("id_a") <= 400L && col("id_b") <= 400L).head(1).nonEmpty,
      "hot-bucket pairs must be dropped by the cap")

    // Path 2 — AQE skew-split: uncapped, with a shuffle join forced and
    // spec-scale skew thresholds, the runtime must split the hot
    // partition (OptimizeSkewedJoin marks the join 'skew=true').
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val uncapped = NearDup.minhashCandidates(corpus, "doc_id", "text", 16, 3, 2)
      uncapped.collect() // finalize THIS dataset's adaptive plan
      val plan = uncapped.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must split the hot-bucket join partition:\n${plan.take(4000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("starComponents: 1000-node chain converges in logarithmic rounds") {
    // A path graph is the worst case for one-hop min-label propagation
    // (O(diameter) ≈ 1000 rounds); alternating large-star/small-star
    // must collapse it in single-digit rounds.
    val n = 1000L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    // localEdgeLimit = 0 forces the DISTRIBUTED star rounds (the default
    // would take the bounded driver union-find fast path here).
    val (labels, rounds) = NearDup.starComponents(nodes, edges, "doc_id",
      localEdgeLimit = 0L)
    // ⌈log₂ n⌉ productive rounds + 1 fixpoint-detection round (measured:
    // 11 for n=1000; one-hop propagation would need ~999).
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 2
    assert(rounds <= bound, s"expected O(log n) convergence (≤$bound), took $rounds rounds")
    assert(rounds > 1, "limit 0 must force the distributed path")
    val out = labels.as[(Long, Long)].collect()
    assert(out.length == n && out.forall(_._2 == 1L),
      "every chain member labels to the component minimum")
  }

  test("starComponents driver fast path ≡ distributed star rounds") {
    // Random-ish multi-component graph: both paths must label
    // identically (the fast path reports 0 rounds).
    val nodes = (1L to 300L).toDF("doc_id")
    val edges = (1L to 420L).map { i =>
      val a = i * 37 % 300 + 1; val b = i * 91 % 300 + 1; (a, b)
    }.toDF("src", "dst")
    val (fast, r0) = NearDup.starComponents(nodes, edges, "doc_id")
    val (dist, rD) = NearDup.starComponents(nodes, edges, "doc_id", localEdgeLimit = 0L)
    assert(r0 == 0 && rD > 0)
    assert(fast.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      dist.orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("starComponents: isolated nodes self-label; mixed orientations and dup edges normalize") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 4L)).toDF("src", "dst")
    val (labels, _) = NearDup.starComponents(nodes, edges, "doc_id")
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("simhashNearDup: exact dups found at hamming 0; disjoint docs absent") {
    val out = NearDup.simhashNearDup(docs, "doc_id", "text", 3, 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(out.contains((1L, 2L, 0)))
    assert(out.forall(_._3 <= 3))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("neardupGroups: strong pairs share canonical min id; others self") {
    val jac = Seq((1L, 2L, 1.0), (1L, 3L, 0.4)).toDF("id_a", "id_b", "jaccard")
    val out = NearDup.neardupGroups(docs, jac, "doc_id", 0.5)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("simhashNearDup bucket cap drops hot-bucket pairs, keeps cold ones") {
    val boiler = (1L to 15L).map(i =>
      (i, "same boilerplate text repeated here every time exactly"))
    val pair = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown fox jumps over the lazy dog"))
    val corpus = (boiler ++ pair).toDF("doc_id", "text")
    val capped = NearDup.simhashNearDup(corpus, "doc_id", "text", 3, 4,
      maxBucketSize = Some(10)).as[(Long, Long, Int)].collect().toSet
    assert(!capped.exists(p => p._1 <= 15L), s"hot-bucket pairs must drop: $capped")
    assert(capped.map(p => (p._1, p._2)) == Set((100L, 101L)))
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val sh = NearDup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  private val spanDocs = Seq(
    (1L, "a b c d e f"),   // shares "a b c" with doc 2
    (2L, "x y a b c z"),
    (3L, "p q r s t"),     // unique
    (4L, "m n o p1 q1"),   // shares overlapping grams "m n o" + "n o p1" with 5
    (5L, "m n o p1 r1"),
  ).toDF("doc_id", "text")

  test("duplicatedSpanCoverage: hand-computed coverage incl. overlapping-window merge") {
    val out = NearDup.duplicatedSpanCoverage(spanDocs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((6, 1, 3, 0.5)))       // "a b c" covers 3 of 6
    assert(out(2L) == ((6, 1, 3, 0.5)))       // pos 2-4
    assert(out(3L) == ((5, 0, 0, 0.0)))       // untouched
    // docs 4/5: spans [0,2] and [1,3] MERGE to 4 covered tokens, 2 grams
    assert(out(4L) == ((5, 2, 4, 0.8)))
    assert(out(5L) == ((5, 2, 4, 0.8)))
  }

  test("stripDuplicatedSpans: min-id holder keeps its text, others lose covered tokens only") {
    val out = NearDup.stripDuplicatedSpans(spanDocs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d e f", 6, 0)))  // winner: untouched
    assert(out(2L) == (("x y z", 3, 3)))        // "a b c" stripped
    assert(out(3L) == (("p q r s t", 5, 0)))
    assert(out(4L) == (("m n o p1 q1", 5, 0)))  // winner of the 4/5 pair
    assert(out(5L) == (("r1", 1, 4)))           // merged span 0-3 stripped
  }

  test("stripDuplicatedSpans (in-row cut filter) ≡ the anti-join reference") {
    // The round-16 rewrite replaces the (doc, pos) anti-join + per-doc
    // reassembly with hit-sized cut sets applied as an indexed array
    // filter; this is the executable spec of the replaced form —
    // row-for-row equality on the sf0.001 documents.
    import org.apache.spark.sql.functions._
    import graft.functions.TextAnalysis
    val docs = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    val n = 5
    val base = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).as("__nt"))
    val toks = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
    val grams = NearDup.shingleRows(docs, "doc_id", "text", n)
      .select(col("doc_id"), col("pos"), md5(col("shingle")).as("gh"))
    val winners = grams.groupBy(col("gh"))
      .agg(count_distinct(col("doc_id")).as("__nd"), min(col("doc_id")).as("__win"))
      .filter(col("__nd") > 1).select(col("gh"), col("__win"))
    val cut = grams.join(winners, Seq("gh"))
      .filter(col("doc_id") > col("__win"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("pos"))
      .distinct()
    val kept = toks.join(cut, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").as("text_dedup"),
      count(lit(1)).as("n_kept"))
    val want = base.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__nt") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    val got = NearDup.stripDuplicatedSpans(docs, "doc_id", "text", n)
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    assert(got == want, "fused strip diverged from the anti-join reference")
  }

  test("prefixFilterJoin ≡ jaccardGroundTruth at several thresholds") {
    // A corpus with exact dups, near dups, boilerplate-heavy docs (the
    // hot-shingle case the prefix order must exclude), and disjoint
    // content — equivalence must hold pair-for-pair AND value-for-value.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "all rights reserved contact us terms of service apply here"),
      (5L, "all rights reserved contact us terms of service apply now"),
      (6L, "all rights reserved contact us privacy policy terms of service"),
      (7L, "completely unrelated text about spark engines and scale"),
      (8L, "ab"), // shingle-less
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.6, 0.9)) {
      val got = NearDup.prefixFilterJoin(corpus, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      val want = NearDup.jaccardGroundTruth(corpus, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"threshold $t: $got vs $want")
      // J(1,3) = 0.4 (hand-computed in the jaccardOnPairs test above)
      if (t <= 0.4) assert(got.exists(p => p._1 == 1L && p._2 == 3L))
    }
    // exact dup pair present at every threshold with jaccard 1.0
    val high = NearDup.prefixFilterJoin(corpus, "doc_id", "text", 3, 0.99)
      .as[(Long, Long, Double)].collect().toSet
    assert(high == Set((1L, 2L, 1.0)))
  }

  test("prefixFilterJoin candidates exclude the hottest shingles from join keys") {
    // Every doc shares the boilerplate prefix "all rights reserved ..." —
    // the hot shingles have df = n and must sort LAST, so each doc's
    // rare tail ends up in the prefix and the join never keys on a
    // shingle shared by the whole corpus. Output must still be exact.
    val n = 40
    val docs = (1 to n).map(i =>
      (i.toLong, s"all rights reserved contact us unique token number $i here"))
      .toDF("doc_id", "text")
    val got = NearDup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val want = NearDup.jaccardGroundTruth(docs, "doc_id", "text", 3, 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("prefixFilterJoin positional filter prunes shared-prefix-tail candidates (PPJoin bound)") {
    // Built directly on the candidate generator (the exact verifier
    // masks candidate-set differences in the final output). Docs 1 and
    // 2 share exactly ONE shingle x0 sitting at the END of both
    // prefixes (position 3 of plen 4 at t=0.6, ns=7): the PPJoin bound
    // min(na−pa, nb−pb) = 4 is below the required overlap
    // t·(na+nb)/(1+t) = 5.25, so the pair must be pruned BEFORE
    // verification. Docs 5 and 6 share 9 of 10 shingles (J = 9/11 ≥
    // 0.6) — a true pair whose earliest shared prefix shingle gives
    // bound 9 ≥ 7.5 — and must survive. Decoy docs 3/4 only raise the
    // df of doc 1/2's suffix shingles so the shared x0 lands INSIDE
    // the prefix (df=1 uniques sort first); their own shared shingles
    // sit outside their prefixes and their lengths fail the two-sided
    // length filter, so they produce no candidates.
    val rows =
      (Seq("p1", "p2", "p3", "x0", "z1", "z2", "z3").map((1L, _)) ++
       Seq("r1", "r2", "r3", "x0", "z4", "z5", "z6").map((2L, _)) ++
       (Seq("z1", "z2", "z3") ++ (1 to 60).map(i => f"d3_$i%03d")).map((3L, _)) ++
       (Seq("z4", "z5", "z6") ++ (1 to 60).map(i => f"d4_$i%03d")).map((4L, _)) ++
       ((1 to 9).map(i => s"m$i") :+ "n1").map((5L, _)) ++
       ((1 to 9).map(i => s"m$i") :+ "n2").map((6L, _)))
        .toDF("doc_id", "shingle")
    val cand = NearDup.prefixFilterCandidates(graft.Stages.stage(rows), "doc_id", 0.6)
      .as[(Long, Long)].collect().toSet
    assert(!cand.contains((1L, 2L)),
      s"positional filter must prune the below-bound pair; got $cand")
    assert(cand.contains((5L, 6L)),
      s"true near-dup pair must survive the positional filter; got $cand")
  }

  test("bitstringNearDup: shrink-first multiplicities, pigeonhole recall vs brute force") {
    val rows = Seq(
      (1L, "00000000"), (4L, "00000000"), // duplicate hash -> one node, n=2
      (2L, "00000001"),                   // hamming 1 from A
      (3L, "00001111"),                   // hamming 4 from A (out), 3 from B (in)
    ).toDF("id", "h")
    val out = NearDup.bitstringNearDup(rows, "id", "h",
        bits = 8, maxHamming = 3, numBands = 4)
      .as[(String, String, Long, Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(out == Map(
      ("00000000", "00000001") -> ((2L, 1L, 1L, 2L, 1)),
      ("00000001", "00001111") -> ((1L, 1L, 2L, 3L, 3))))
    // brute-force parity on a deterministic spread of 8-bit strings
    val hs = (0 until 40).map(i => (i.toLong,
      (0 until 8).map(b => ((i * 37 + b * 11) % 5) / 4).mkString))
    val got = NearDup.bitstringNearDup(hs.toDF("id", "h"), "id", "h",
        bits = 8, maxHamming = 2, numBands = 4)
      .select("hash_a", "hash_b", "hamming")
      .as[(String, String, Int)].collect().toSet
    val distinct = hs.map(_._2).distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b
      hd = a.zip(b).count { case (x, y) => x != y } if hd <= 2
    } yield (a, b, hd)).toSet
    assert(got == want, "banded candidates must equal the brute-force radius set")
    intercept[IllegalArgumentException] {
      NearDup.bitstringNearDup(rows, "id", "h", 8, maxHamming = 4, numBands = 4)
    }
    intercept[IllegalArgumentException] { // bands must divide the width
      NearDup.bitstringNearDup(rows, "id", "h", 8, maxHamming = 1, numBands = 3)
    }
  }

  test("bitstringNearDup: malformed hash fails loudly, never mis-pairs") {
    // A short hash would yield empty band keys (quadratic collisions) and
    // a truncated popcount — the guard must raise, not return wrong pairs.
    val short = Seq((1L, "00000000"), (2L, "0000")).toDF("id", "h")
    val e1 = intercept[Exception] {
      NearDup.bitstringNearDup(short, "id", "h", 8, 3, 4).collect()
    }
    assert(e1.getMessage.contains("bitstringNearDup") ||
      Option(e1.getCause).exists(_.getMessage.contains("bitstringNearDup")))
    val junk = Seq((1L, "00000000"), (2L, "0000000x")).toDF("id", "h")
    intercept[Exception] {
      NearDup.bitstringNearDup(junk, "id", "h", 8, 3, 4).collect()
    }
  }

  test("simhashNearDupDistinct: dup docs collapse to one node; distinct-pair parity with audit form") {
    // 3 exact copies of one doc + 1 near dup + 1 unrelated: the audit
    // (row-level) form pays 3 choose 2 intra-dup pairs; the production
    // form must emit ZERO intra-dup pairs (same hash = one node) and one
    // cross-hash pair carrying multiplicity 3.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (6L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "completely different content about spark engines here"),
    ).toDF("doc_id", "text")
    val prod = NearDup.simhashNearDupDistinct(corpus, "doc_id", "text", 3, 4)
      .collect()
    val audit = NearDup.simhashNearDup(corpus, "doc_id", "text", 3, 4)
    // every production row is a DISTINCT-hash pair: hash_a < hash_b
    assert(prod.forall(r => r.getLong(0) < r.getLong(1)))
    prod.foreach { r =>
      if (Set(r.getLong(4), r.getLong(5)).contains(1L))
        assert(r.getLong(2) == 3L || r.getLong(3) == 3L,
          "the triplicated doc's node must carry multiplicity 3")
    }
    // doc-level expansion of the production pairs == the audit form's
    // CROSS-hash pairs (audit adds intra-dup hamming-0 pairs on top)
    val sig = NearDup.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap // doc_id -> simhash
    val expanded = prod.flatMap { r =>
      val (ha, hb) = (r.getLong(0), r.getLong(1))
      for {
        a <- sig.collect { case (d, h) if h == ha => d }
        b <- sig.collect { case (d, h) if h == hb => d }
      } yield (math.min(a, b), math.max(a, b))
    }.toSet
    val auditCross = audit.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, _) => sig(a) != sig(b) }
      .map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(expanded == auditCross)
  }

  test("contentChunkStats guards: degenerate gram size and divisor raise") {
    val docs = Seq((1L, "a b c", "s")).toDF("doc_id", "text", "source")
    intercept[IllegalArgumentException] {
      NearDup.contentChunkStats(docs, "doc_id", "text", "source", k = 1)
    }
    intercept[IllegalArgumentException] {
      NearDup.contentChunkStats(docs, "doc_id", "text", "source", divisor = 1)
    }
  }

  test("contentChunkStats: identical docs dedup fully; tiny docs are one chunk") {
    // all-distinct tokens: a periodic text would repeat chunks WITHIN
    // a doc (boundaries are content-defined, so they repeat with the
    // period) and break the n = 2·distinct arithmetic below
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, text, "s1"), (2L, text, "s1"), // byte-identical pair
      (3L, "solo", "s2"),                  // single token -> one 1-token chunk
    ).toDF("doc_id", "text", "source")
    val out = NearDup.contentChunkStats(docs, "doc_id", "text", "source")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val (n, d, dup, frac) = out("s1")
    assert(n == 2 * d, "identical docs must produce identical chunk sets")
    assert(dup == 60L, "every token of the second copy is saved")
    assert(frac == 0.5)
    assert(out("s2") == ((1L, 1L, 0L, 0.0)))
  }

  test("contentChunkStats: a front insertion leaves later chunks shared (content-defined)") {
    val a = (1 to 60).map(i => s"w${i % 13}").mkString(" ")
    val docs = Seq((1L, a, "s"), (2L, "zzz " + a, "s"))
      .toDF("doc_id", "text", "source")
    val Array((n, d, dup)) = NearDup.contentChunkStats(docs, "doc_id", "text", "source")
      .select("n_chunks", "n_distinct", "dup_tokens")
      .as[(Long, Long, Long)].collect()
    // Fixed-size blocking would share NOTHING after a 1-token shift;
    // content-defined boundaries must re-align within ~a chunk or two.
    assert(dup >= 30, s"expected most of the 60 shifted tokens to dedup, got $dup")
    assert(d < n)
  }

  test("fanOut over a semi-join on a fanned-out frame starts no job and keeps the frame") {
    val cores = spark.sparkContext.defaultParallelism
    val scan = graft.Tables.documents(spark, sf0001)
    val fanned = NearDup.fanOut(scan)
    assert(fanned ne scan, "precondition: the one-file scan fans out")
    val semi = fanned.join(scan.filter($"doc_id" < 50).select("doc_id"), Seq("doc_id"), "left_semi")
    var out = semi
    val jobs = jobsOf { out = NearDup.fanOut(semi) }
    assert(jobs.isEmpty, s"deciding started ${jobs.size} jobs")
    assert(out eq semi, s"a frame over a $cores-way repartition must be kept")
  }

  test("fanOut spreads a one-file scan and a one-partition staged frame without a job") {
    val cores = spark.sparkContext.defaultParallelism
    val scan = graft.Tables.documents(spark, sf0001).select("doc_id", "text")
    val staged = graft.Stages.stage(scan.repartition(1))
    Seq("one-file scan" -> scan, "one-partition staged frame" -> staged).foreach { case (what, df) =>
      var out = df
      val jobs = jobsOf { out = NearDup.fanOut(df) }
      assert(jobs.isEmpty, s"deciding on a $what started ${jobs.size} jobs")
      assert(out.rdd.getNumPartitions == cores, s"a $what must fan out to $cores partitions")
    }
    graft.Stages.release(staged)
  }
}
