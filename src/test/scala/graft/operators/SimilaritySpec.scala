package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 1.0f, 0.0f)),
    (3L, Array(2.0f, 0.0f, 0.0f)),
  ).toDF("vec_id", "embedding")

  test("dot / norm / cosine on known vectors") {
    val r = vecs.filter(col("vec_id") === 2L)
      .select(
        Similarity.dot(col("embedding"), col("embedding")).as("d"),
        Similarity.norm(col("embedding")).as("n"))
      .collect().head
    assert(r.getDouble(0) == 2.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(2)) < 1e-12)
  }

  test("native ArrayDot expression is bit-identical to the HOF formulation") {
    val a = vecs.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = vecs.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val both = a.crossJoin(b).select(
      Similarity.dot(col("ea"), col("eb")).as("native"),
      Similarity.dotHof(col("ea"), col("eb")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // double-element arrays (literal planes) work too
    val plane = typedLit(Seq(0.5, -1.0, 2.0))
    val r = vecs.filter(col("vec_id") === 2L)
      .select(Similarity.dot(col("embedding"), plane).as("d")).collect().head
    assert(r.getDouble(0) == -0.5)
    // null array and length mismatch give null, like zip_with+aggregate
    val nulls = Seq((Array(1.0f), Option.empty[Array[Float]])).toDF("x", "y")
      .select(Similarity.dot(col("x"), col("y")).as("d")).collect().head
    assert(nulls.isNullAt(0))
  }

  test("cosine: orthogonal = 0, parallel = 1") {
    val a = vecs.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = vecs.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val cos = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        round(Similarity.cosine(col("ea"), col("eb")), 9).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cos((0L, 1L)) == 0.0)
    assert(cos((0L, 3L)) == 1.0) // same direction, different magnitude
    assert(cos((0L, 0L)) == 1.0)
  }

  test("bruteForceTopK is deterministic, self-ranked first, k-bounded") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L), 2)
      .orderBy("rk").collect()
    assert(out.length == 2)
    // rank 1 ties (self cos=1 with vec 3); vec_id ASC tiebreak -> 0 first
    assert(out(0).getLong(1) == 0L && out(1).getLong(1) == 3L)
  }

  test("lshBucket is deterministic and within [0, 2^planes)") {
    val b1 = vecs.select(Similarity.lshBucket(col("embedding"), 4, 3).as("b"))
      .as[Long].collect().toSeq
    val b2 = vecs.select(Similarity.lshBucket(col("embedding"), 4, 3).as("b"))
      .as[Long].collect().toSeq
    assert(b1 == b2)
    assert(b1.forall(b => b >= 0 && b < 16))
  }

  test("ivfTopK: queries probe their own centroid's list; self ranks first") {
    val corpus = (0L to 19L).map { i =>
      // two clear clusters around e1 and e2
      if (i % 2 == 0) (i, Array(1.0f, 0.1f * (i % 5), 0.0f))
      else (i, Array(0.0f, 0.1f * (i % 5), 1.0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") === 4L), 5, 2)
      .orderBy("rk").collect()
    assert(out.nonEmpty && out.length <= 5)
    assert(out.head.getLong(1) == 4L && out.head.getDouble(2) == 1.0) // self first
    // nprobe=1: all results share query's (even-cluster) centroid
    assert(out.forall(_.getLong(1) % 2 == 0))
  }

  test("ivfTopK nprobe=2 dominates nprobe=1 at every rank (recall lever)") {
    val corpus = (0L to 39L).map { i =>
      (i, Array((i % 4).toFloat + 1f, ((i + 1) % 4).toFloat, ((i + 2) % 4).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4L)
    def sims(nprobe: Int) =
      Similarity.ivfTopK(corpus, queries, 5, 4, 2, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getDouble(2)).toMap
    val one = sims(1); val two = sims(2)
    assert(two.size >= one.size)
    one.foreach { case (qrk, sim1) =>
      assert(two(qrk) >= sim1, s"rank $qrk: nprobe=2 ${two(qrk)} < nprobe=1 $sim1")
    }
  }

  test("embeddingNearDup finds parallel vectors above threshold") {
    val out = Similarity.embeddingNearDup(vecs, 0.99, 100)
      .as[(Long, Long, Double)].collect().toSet
    assert(out.map(p => (p._1, p._2)) == Set((0L, 3L)))
  }

  test("embeddingNearDupBucketed: same-bucket parallel pair found, no cross-bucket scoring") {
    val out = Similarity.embeddingNearDupBucketed(vecs, 0.99, 4, 3)
      .as[(Long, Long, Double)].collect().toSet
    // 0 and 3 are parallel → identical sign pattern on every hyperplane
    // → same bucket, so the blocked form keeps the pair.
    assert(out.map(p => (p._1, p._2)) == Set((0L, 3L)))
    // pair count never exceeds the within-bucket total (no all-pairs)
    val buckets = vecs.select(Similarity.lshBucket(col("embedding"), 4, 3).as("b"))
      .as[Long].collect().groupBy(identity).map(_._2.length)
    val maxPairs = buckets.map(n => n.toLong * (n - 1) / 2).sum
    val unfiltered = Similarity.embeddingNearDupBucketed(vecs, -1.0, 4, 3).count()
    assert(unfiltered == maxPairs)
  }

  test("kmeansCentroids converge to cluster means even from one-sided init") {
    // ids 0,1 (the Lloyd's init) are BOTH in the e1 cluster; the e3
    // cluster must be discovered by the update steps.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.2f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.9f, 0.1f)),
      (4L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.1f)),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, 2, 2)
    val asgn = Similarity.ivfAssign(corpus, cents)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    val e1Cluster = Set(0L, 1L, 4L).map(asgn)
    val e3Cluster = Set(2L, 3L, 5L).map(asgn)
    assert(e1Cluster.size == 1 && e3Cluster.size == 1, s"each group one centroid: $asgn")
    assert(e1Cluster != e3Cluster, s"groups must separate: $asgn")
    // deterministic across runs
    val again = Similarity.kmeansCentroids(corpus, 2, 2)
      .orderBy("centroid_id").collect().map(_.toSeq)
    assert(cents.orderBy("centroid_id").collect().map(_.toSeq).toSeq == again.toSeq)
  }

  test("fused literal-model ivfAssignN ≡ the broadcast crossJoin reference") {
    // The round-16 fusion inlines the centroid table as literals and
    // assigns via a pure projection; this is the executable spec of the
    // replaced crossJoin(broadcast) → max_by / collect_list form —
    // row-for-row equality on the sf0.001 embeddings, n = 1 and 2,
    // including the 6-decimal-round + centroid-id tiebreak ordering.
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.kmeansCentroids(emb, 8, 1)
    def reference(n: Int) = {
      val scored = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("centroid_id"),
          round(Similarity.cosine(col("embedding"), col("c_emb")), 6).as("__sim"))
      if (n == 1)
        scored.groupBy(col("vec_id"))
          .agg(max_by(struct(col("centroid_id"), col("embedding")),
            struct(col("__sim"), -col("centroid_id"))).as("__b"))
          .select(col("vec_id"), col("__b.centroid_id").as("centroid_id"))
      else
        scored.groupBy(col("vec_id"))
          .agg(slice(array_sort(collect_list(
            struct((-col("__sim")).as("s"), col("centroid_id")))), 1, n)
            .as("__top"))
          .select(col("vec_id"), explode(col("__top.centroid_id")).as("centroid_id"))
    }
    for (n <- Seq(1, 2)) {
      val got = Similarity.ivfAssignN(emb, cents, n)
        .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().sorted.toSeq
      val want = reference(n)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == want, s"n=$n: fused assign diverged from the reference")
    }
  }

  test("PQ: codebook vectors self-code and rank themselves first under ADC") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val cb = Similarity.pqCodebook(emb, 4, 16, 16)
    val codes = Similarity.pqEncode(
        emb.filter(col("vec_id") < 16).select(col("vec_id"), col("embedding")),
        cb, 4, 16)
      .select($"vec_id", $"sub", $"centroid_id").as[(Long, Int, Long)].collect()
    assert(codes.length == 16 * 4)
    // a codebook vector's nearest codeword in every subspace is itself
    assert(codes.forall { case (v, _, c) => c == v },
      s"self-coding violated: ${codes.filter { case (v, _, c) => c != v }.take(5).toSeq}")
    // under ADC a codebook-member query reconstructs (almost) exactly →
    // it must rank itself first
    val top1 = Similarity.pqTopK(emb, emb.filter($"vec_id" < 8), 1)
      .filter($"rk" === 1)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toMap
    (0L until 8L).foreach(q => assert(top1(q) == q, s"query $q top-1 was ${top1(q)}"))
  }

  test("semDedup: near-parallel vector drops in favor of its lower-id cluster-mate") {
    // 0 and 1 are near-parallel (cosine ≈ 1) so they land in one k-means
    // cluster; 2 is orthogonal. With threshold 0.9: id 1 must drop (it
    // has the lower-id near-dup 0), ids 0 and 2 must survive.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(corpus, 0.9, numCentroids = 2, kmeansIters = 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  test("semDedup never compares across clusters: identical vectors in different clusters both survive") {
    // Two exact duplicates forced into DIFFERENT clusters would both be
    // kept — the operator's documented recall boundary. Build clusters
    // around orthogonal seeds, then check a pair split across them.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),   // seed A (init centroid 0)
      (1L, Array(0.0f, 1.0f)),   // seed B (init centroid 1)
      (2L, Array(1.0f, 0.3f)),   // near seed A (cos ≈ 0.958 < 0.99)
      (3L, Array(0.3f, 1.0f)),   // near seed B
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(corpus, 0.99, numCentroids = 2, kmeansIters = 1)
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toMap
    // all four survive (no within-cluster pair exceeds 0.99), and the
    // cluster assignment is the expected two-sided split
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == out(2L) && out(1L) == out(3L) && out(0L) != out(1L))
  }

  test("appendToStoredBuckets: O(batch) maintenance — untouched bucket files are byte-stable") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_append_spec").toString
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), path)
    def fileSet: Map[String, Set[(String, Long)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().map(f => (f.getName, f.length())).toSet).toMap
    val before = fileSet
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    Similarity.appendToStoredBuckets(batch, path)
    val after = fileSet
    // which buckets did the batch actually hash into?
    val hit = batch.select(Similarity.lshBucket($"embedding", 8, 64).as("b"))
      .distinct().as[Long].collect().map(b => s"bucket=$b").toSet
    // untouched buckets: identical (name, size) file sets — the append
    // never rewrote them; touched buckets gained files without losing any
    before.keys.filterNot(hit).foreach { b =>
      assert(after(b) == before(b), s"untouched $b was rewritten")
    }
    hit.foreach { b =>
      assert(before.getOrElse(b, Set.empty).subsetOf(after(b)),
        s"append lost files in $b")
      assert(after(b).size > before.getOrElse(b, Set.empty).size,
        s"append wrote nothing to hit bucket $b")
    }
    // and the incremental index answers exactly like a full rebuild
    val full = java.nio.file.Files.createTempDirectory("graft_append_full").toString
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 400), full)
    val q = emb.filter($"vec_id" < 10)
    val a = Similarity.bucketedTopKStored(spark, path, q, 5).collect().toSet
    val b = Similarity.bucketedTopKStored(spark, full, q, 5).collect().toSet
    assert(a == b, "incremental index diverges from full rebuild")
  }

  test("compactStoredBuckets: restores one data file per bucket; results unchanged") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val live = java.nio.file.Files.createTempDirectory("graft_compact_live").toString
    val dest = java.nio.file.Files.createTempDirectory("graft_compact_dest").toString
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 200), live)
    Similarity.appendToStoredBuckets(emb.filter($"vec_id" >= 200 && $"vec_id" < 300), live)
    Similarity.appendToStoredBuckets(emb.filter($"vec_id" >= 300 && $"vec_id" < 400), live)
    def dataFiles(root: String): Map[String, Int] =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(dataFiles(live).values.exists(_ > 1),
      "appends must accumulate multiple files for the test to mean anything")
    Similarity.compactStoredBuckets(spark, live, dest)
    assert(dataFiles(dest).values.forall(_ == 1),
      s"compaction must leave one file per bucket: ${dataFiles(dest)}")
    val q = emb.filter($"vec_id" < 10)
    assert(Similarity.bucketedTopKStored(spark, live, q, 5).collect().toSet ==
      Similarity.bucketedTopKStored(spark, dest, q, 5).collect().toSet,
      "compaction changed results")
  }

  test("bucket stats manifest: exact counts at build; append merges only touched rows; compact refreshes") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_stats_spec").toString
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), path)
    def expected(pred: org.apache.spark.sql.Column): Map[Long, Long] =
      emb.filter(pred).select(Similarity.lshBucket($"embedding", 8, 64).as("b"))
        .groupBy($"b").count().as[(Long, Long)].collect().toMap
    def manifest: Map[Long, (Long, Long)] =
      Similarity.bucketStats(spark, path)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val m0 = manifest
    assert(m0.view.mapValues(_._1).toMap == expected($"vec_id" < 300),
      "build-time manifest must carry exact per-bucket counts")
    assert(m0.values.forall(_._2 > 0L), "every written bucket has bytes on disk")
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    Similarity.appendToStoredBuckets(batch, path)
    val m1 = manifest
    assert(m1.view.mapValues(_._1).toMap == expected($"vec_id" < 400),
      "append must merge batch counts into the manifest")
    val hit = batch.select(Similarity.lshBucket($"embedding", 8, 64).as("b"))
      .distinct().as[Long].collect().toSet
    m0.keys.filterNot(hit).foreach { b =>
      assert(m1(b)._1 == m0(b)._1, s"untouched bucket $b count drifted")
    }
    // hotBuckets is the manifest filtered+sorted, not a data read
    val thr = m1.values.map(_._1).toSeq.sorted.apply(m1.size / 2)
    val hot = Similarity.hotBuckets(spark, path, thr)
      .select($"bucket", $"n_vectors").as[(Long, Long)].collect()
    assert(hot.toMap == m1.view.mapValues(_._1).filter(_._2 > thr).toMap)
    assert(hot.map(_._2).toSeq == hot.map(_._2).toSeq.sortBy(-_))
    // a compacted copy gets a fresh, equally exact manifest
    val dest = java.nio.file.Files.createTempDirectory("graft_stats_dest").toString
    Similarity.compactStoredBuckets(spark, path, dest)
    val mc = Similarity.bucketStats(spark, dest)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(mc == expected($"vec_id" < 400))
    // legacy index without a manifest: first append rebuilds it authoritatively
    val legacy = java.nio.file.Files.createTempDirectory("graft_stats_legacy").toString
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 200), legacy)
    val fs = new java.io.File(s"$legacy/_files")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del); f.delete(): Unit
    }
    del(fs)
    Similarity.appendToStoredBuckets(
      emb.filter($"vec_id" >= 200 && $"vec_id" < 250), legacy)
    val ml = Similarity.bucketStats(spark, legacy)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(ml == expected($"vec_id" < 250),
      "missing manifest must be rebuilt from the index, not from the batch alone")
  }

  test("stats drift detector: a lost append is detected from the byte listing and repaired by rescan") {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_stats_drift").toString
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), path)
    def expected(pred: org.apache.spark.sql.Column): Map[Long, Long] =
      emb.filter(pred).select(Similarity.lshBucket($"embedding", 8, 64).as("b"))
        .groupBy($"b").count().as[(Long, Long)].collect().toMap
    // clean manifest: the verified read returns it UNCHANGED (no rebuild —
    // the _files manifest's byte content is identical before and after)
    def statsBytes(): Seq[(String, Long)] =
      new java.io.File(s"$path/_files").listFiles().toSeq
        .map(f => f.getName -> f.length()).sortBy(_._1)
    val before = statsBytes()
    val clean = Similarity.bucketStatsVerified(spark, path)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(clean == expected($"vec_id" < 300))
    assert(statsBytes() == before, "a clean manifest must not be rewritten")
    // simulate the crash window the round-14 ADVICE flagged: the data
    // append lands, the process dies before the manifest merge —
    // exactly what the raw data write of appendToStoredBuckets does.
    emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
      .select($"vec_id", $"embedding")
      .withColumn("bucket", Similarity.lshBucket($"embedding", 8, 64))
      .repartition($"bucket")
      .write.mode("append").partitionBy("bucket").parquet(path)
    // the raw manifest is now silently stale…
    val stale = Similarity.bucketStats(spark, path)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(stale == expected($"vec_id" < 300), "precondition: manifest is behind the data")
    // …and the verified read detects the drift and rebuilds authoritatively
    val repaired = Similarity.bucketStatsVerified(spark, path)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(repaired == expected($"vec_id" < 400),
      "drift must trigger an authoritative rebuild from the index data")
    // hotBuckets reads through the verified path, so the report is
    // consistent with the data even when the manifest was behind
    val hot = Similarity.hotBuckets(spark, path, 0L)
      .select($"bucket", $"n_vectors").as[(Long, Long)].collect().toMap
    assert(hot == expected($"vec_id" < 400).filter(_._2 > 0))
  }

  test("trained PQ codebooks beat sample codebooks on ADC recall@10") {
    // The deterministic fixture makes the recall comparison exact: the
    // L2-k-means-trained m=16/K=64 path (pqTopKTrained) must beat the
    // sample-init m=4/K=16 baseline (pqTopK) against brute-force
    // ground truth — the measured numbers are 0.69 vs 0.38 (ann07
    // records them against the oracle; this spec pins the ORDERING and
    // the ≥0.55 deployability floor the round-7 verdict asked for).
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10).select("query_id", "vec_id")
    def hits(approx: org.apache.spark.sql.DataFrame): Long =
      approx.select("query_id", "vec_id").join(exact, Seq("query_id", "vec_id")).count()
    val sample = hits(Similarity.pqTopK(emb, q, 10))
    val trained = hits(Similarity.pqTopKTrained(emb, q, 10))
    assert(trained > sample, s"trained recall ($trained/100) must beat sample ($sample/100)")
    assert(trained >= 55, s"trained recall@10 must clear the 0.55 floor: $trained/100")
  }

  test("SQ8: per-dim 8-bit quantization preserves near-exact ranking (recall far above PQ)") {
    // 8 bits PER DIMENSION is a far finer code than PQ's 16-entry
    // subspace codebooks — SQ8's recall@10 against exact cosine must
    // dominate the sample-PQ baseline and clear a high floor, and a
    // corpus query's own (dequantized) vector must still rank first.
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 10).select("query_id", "vec_id")
    val sq = Similarity.sq8TopK(emb, q, 10)
    val hits = sq.select("query_id", "vec_id")
      .join(exact, Seq("query_id", "vec_id")).count()
    assert(hits >= 90, s"SQ8 recall@10 must be near-exact: $hits/100")
    val self = sq.filter($"rk" === 1).select("query_id", "vec_id")
      .as[(Long, Long)].collect()
    assert(self.forall(p => p._1 == p._2), s"self must rank first: ${self.toSeq}")
    // deterministic rerun (quantized midpoints are exact, no RNG)
    val rerun = Similarity.sq8TopK(emb, q, 10)
    assert(sq.exceptAll(rerun).isEmpty && rerun.exceptAll(sq).isEmpty)
  }

  test("SQ8: constant dimensions encode to level 0 and drop out of the ranking signal") {
    import spark.implicits._
    // dim 2 is constant 5.0 across the corpus (hi = lo): the encoder
    // must not divide by zero, and ranking reduces to the varying dims.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 5.0f)),
      (1L, Array(0.0f, 1.0f, 5.0f)),
      (2L, Array(0.9f, 0.1f, 5.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(emb, emb.filter($"vec_id" === 0L), 3)
      .orderBy($"rk").as[(Long, Long, Double, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(0L, 2L, 1L),
      s"expected 0 (self), 2 (near), 1 (orthogonal-ish): ${out.toSeq}")
  }

  test("ANN index rides the publish protocol: compact → flip → pinned reader → vacuum") {
    // Round-7 verdict item 6: compactStoredBuckets writes to a NEW path
    // and defers visibility to "the caller's manifest protocol" — this
    // spec IS that caller, end-to-end with graft.sinks.Publish: build
    // and append into v-001, flip; compact into v-002, flip; a reader
    // that pinned v-001 before the flip keeps its data through
    // vacuum(keepLast=1); closing the window deletes v-001.
    import spark.implicits._
    import graft.sinks.Publish
    val emb = graft.Tables.embeddings(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_pub").toString
    val v1dir = s"$root/v-001/index"
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), v1dir)
    Similarity.appendToStoredBuckets(
      emb.filter($"vec_id" >= 300 && $"vec_id" < 400), v1dir)
    Publish.flipManifest(spark, root, "001")
    assert(Publish.currentVersion(spark, root).contains("v-001"))
    val q = emb.filter($"vec_id" < 10)
    def queryCurrent(): Set[org.apache.spark.sql.Row] = {
      val v = Publish.currentVersion(spark, root).get
      Similarity.bucketedTopKStored(spark, s"$root/$v/index", q, 5).collect().toSet
    }
    val r1 = queryCurrent()
    // a reader resolves (pins) the version BEFORE the next publish
    val pinnedVersion = Publish.currentVersion(spark, root).get
    // stage v-002 = compaction of the append-fragmented v-001
    Similarity.compactStoredBuckets(spark, v1dir, s"$root/v-002/index")
    // staging is invisible: a concurrent reader still resolves v-001
    assert(Publish.currentVersion(spark, root).contains("v-001"),
      "staging a compaction must not publish it")
    assert(queryCurrent() == r1)
    Publish.flipManifest(spark, root, "002")
    // the flip is the publication instant: new readers see v-002, and
    // the compacted layout answers identically (layout-invariance)
    assert(Publish.currentVersion(spark, root).contains("v-002"))
    assert(queryCurrent() == r1, "compaction behind the manifest changed results")
    // retention: keepLast=1 holds the pinned reader's version dir
    assert(Publish.vacuum(spark, root, keepLast = 1).isEmpty,
      "keepLast=1 must retain v-001 for the pinned reader")
    assert(Similarity.bucketedTopKStored(
        spark, s"$root/$pinnedVersion/index", q, 5).collect().toSet == r1,
      "pinned reader lost its snapshot")
    // closing the rollback window reclaims v-001; current stays intact
    assert(Publish.vacuum(spark, root, keepLast = 0) == Seq("v-001"))
    assert(queryCurrent() == r1)
  }

  test("writeIndexBatch: a torn (crashed mid-write) batch is repaired by replay to the clean layout") {
    // Similarity.scala claims crash-mid-write repair "by the replay
    // overwriting the same partitions". The idempotence spec proves
    // clean-replay convergence; this one proves TORN-write repair: a
    // batch that died after writing only a prefix of its rows (some
    // (bucket, ingest_batch) partitions present, some missing) must be
    // fully healed by replaying the complete batch — dynamic partition
    // overwrite rewrites every partition the replay's data carries, a
    // superset of the torn prefix's partitions.
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val clean = java.nio.file.Files.createTempDirectory("graft_torn_clean").toString
    val torn = java.nio.file.Files.createTempDirectory("graft_torn").toString
    val b0 = emb.filter($"vec_id" < 100)
    val b1 = emb.filter($"vec_id" >= 100 && $"vec_id" < 200)
    Similarity.writeIndexBatch(b0, clean, 0L)
    Similarity.writeIndexBatch(b1, clean, 1L)
    // the torn run: batch 0 lands; batch 1 "crashes" having committed
    // only its first 30 rows' partitions
    Similarity.writeIndexBatch(b0, torn, 0L)
    Similarity.writeIndexBatch(emb.filter($"vec_id" >= 100 && $"vec_id" < 130), torn, 1L)
    def partitionDirs(root: String): Set[String] = {
      def walk(f: java.io.File, prefix: String): Seq[String] =
        if (!f.isDirectory) Seq.empty
        else f.listFiles().toSeq.flatMap { c =>
          val p = if (prefix.isEmpty) c.getName else s"$prefix/${c.getName}"
          if (c.isDirectory && c.getName.contains("=")) p +: walk(c, p)
          else Seq.empty
        }
      walk(new java.io.File(root), "").toSet
    }
    def rows(root: String): Map[(Long, Long, Long), Long] =
      spark.read.parquet(root)
        .groupBy($"vec_id", $"bucket".cast("long").as("bucket"),
          $"ingest_batch".cast("long").as("ib"))
        .count().as[(Long, Long, Long, Long)].collect()
        .map { case (v, b, i, c) => ((v, b, i), c) }.toMap
    // precondition: the tear is visible (rows missing vs the clean run)
    assert(rows(torn).size < rows(clean).size, "test setup: tear not visible")
    // REPLAY the complete batch 1 (the streaming-source replay contract:
    // same batch id → same rows)
    Similarity.writeIndexBatch(b1, torn, 1L)
    // healed: same partition directories, same rows with multiplicity 1
    assert(partitionDirs(torn) == partitionDirs(clean),
      "replay left a different partition layout than the clean run")
    assert(rows(torn) == rows(clean), "replay left different rows than the clean run")
    assert(rows(torn).values.forall(_ == 1L), "replay duplicated rows")
    // and the healed index answers exactly like the clean one
    val q = emb.filter($"vec_id" < 10)
    assert(Similarity.bucketedTopKStored(spark, torn, q, 5).collect().toSet ==
      Similarity.bucketedTopKStored(spark, clean, q, 5).collect().toSet)
  }

  test("semDedup lever: numCentroids trades Σ cluster² cost against boundary misses, monotonically") {
    // The scaladoc's documented lever, made a measured fact on the
    // sf0.001 embeddings fixture (threshold 0.3, dd12's setting).
    // numCentroids=1 is the exact all-pairs answer (one cluster, no
    // boundary to miss across); every higher k compares a SUBSET of
    // those pairs, so its drop set must be a subset of the exact drop
    // set and the drop count must shrink monotonically — misses(k) =
    // drops(1) − drops(k) is the recall price of the k-fold cost cut.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val all = emb.select($"vec_id").as[Long].collect().toSet
    def dropsAt(k: Int): Set[Long] =
      all -- Similarity.semDedup(emb, 0.3, numCentroids = k, kmeansIters = 2)
        .select($"vec_id").as[Long].collect().toSet
    val exact = dropsAt(1)
    val at4 = dropsAt(4)
    val at16 = dropsAt(16)
    assert(exact.nonEmpty, "fixture must produce drops for the lever to be measurable")
    assert(at4.subsetOf(exact), s"k=4 dropped non-exact ids: ${(at4 -- exact).take(5)}")
    assert(at16.subsetOf(exact), s"k=16 dropped non-exact ids: ${(at16 -- exact).take(5)}")
    assert(exact.size >= at4.size && at4.size >= at16.size,
      s"drop counts must shrink with k: exact=${exact.size} k4=${at4.size} k16=${at16.size}")
    info(f"drops: exact=${exact.size} k4=${at4.size} k16=${at16.size}; " +
      f"miss rate k4=${(exact.size - at4.size).toDouble / exact.size}%.3f " +
      f"k16=${(exact.size - at16.size).toDouble / exact.size}%.3f")
  }

  test("lshProbeBuckets: nprobe distinct buckets, base first, single-bit flips") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val rows = emb.limit(64).select(
      Similarity.lshBucket($"embedding", 8, 64).as("base"),
      Similarity.lshProbeBuckets($"embedding", 8, 64, 4).as("probes"))
      .as[(Long, Seq[Long])].collect()
    rows.foreach { case (base, probes) =>
      assert(probes.length == 4 && probes.distinct.length == 4)
      assert(probes.head == base, "probe 0 must be the query's own bucket")
      probes.tail.foreach { p =>
        assert(java.lang.Long.bitCount(p ^ base) == 1,
          s"probe $p is not a single-bit perturbation of $base")
      }
    }
  }

  test("multi-probe: in-flight ≡ stored, and recall climbs monotonically with nprobe") {
    import graft.Scratch
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 30)
    val path = java.nio.file.Files.createTempDirectory("graft_mp_spec").toString
    try {
      Similarity.writeBucketedCorpus(emb, path)
      // the stored layout and the in-flight form must agree at every nprobe
      Seq(1, 2, 4).foreach { np =>
        assert(
          Similarity.bucketedTopK(emb, q, 5, nprobe = np).collect().toSet ==
            Similarity.bucketedTopKStored(spark, path, q, 5, nprobe = np).collect().toSet,
          s"stored multi-probe diverges from in-flight at nprobe=$np")
      }
      // probing more buckets can only ADD candidates, so recall@10 vs the
      // brute-force ground truth is non-decreasing in nprobe
      val exact = Similarity.bruteForceTopK(emb, q, 10)
        .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
      val recalls = Seq(1, 2, 4, 8).map { np =>
        val hits = Similarity.bucketedTopK(emb, q, 10, nprobe = np)
          .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
          .intersect(exact).size
        np -> hits.toDouble / exact.size
      }
      info(recalls.map { case (np, r) => f"nprobe=$np recall@10=$r%.3f" }.mkString(", "))
      recalls.sliding(2).foreach { case Seq((_, lo), (npHi, hi)) =>
        assert(hi >= lo, s"recall dropped at nprobe=$npHi: $recalls")
      }
    } finally Scratch.delete(path)
  }

  test("randomProjectionTopK: keeping every candidate recovers exact brute force") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 20)
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(emb, q, 10).collect().toSet
    // cand = corpus size ⇒ the JL pass prunes nothing, so the exact
    // rerank must reproduce brute force bit-for-bit
    assert(Similarity.randomProjectionTopK(emb, q, 10, cand = n).collect().toSet
      == exact, "JL with all candidates kept must equal brute force")
    // default cand=40 still recovers a useful share of the true top-10
    // on i.i.d. noise (ann07 records 0.428 over 50 queries)
    val exactIds = exact.map(r => (r.getLong(0), r.getLong(1)))
    val hits = Similarity.randomProjectionTopK(emb, q, 10)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
      .intersect(exactIds).size
    assert(hits.toDouble / exactIds.size > 0.25,
      s"JL recall collapsed: $hits/${exactIds.size}")
  }

  test("IVF-PQ: probing every list recovers the global trained-PQ ranking; candidates stay in probed lists") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    // nprobe = numCentroids ⇒ no candidate restriction ⇒ ADC scores and
    // ranking must be IDENTICAL to the unrestricted trained-PQ search
    assert(Similarity.ivfPqTopK(emb, q, 10, nprobe = 16).collect().toSet ==
      Similarity.pqTopKTrained(emb, q, 10).collect().toSet,
      "all-lists IVF-PQ diverged from global PQ")
    // nprobe = 1: every returned candidate lives in its query's own list
    val cents = Similarity.kmeansCentroids(emb, 16, 2)
    val assign = Similarity.ivfAssign(
        emb.select($"vec_id", $"embedding"), cents)
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toMap
    Similarity.ivfPqTopK(emb, q, 10).select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().foreach { case (qid, vid) =>
        assert(assign(vid) == assign(qid),
          s"candidate $vid not in query $qid's probed list")
      }
  }

  test("stored IVF-PQ index ≡ in-flight IVF-PQ at every nprobe") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_spec").toString
    try {
      Similarity.writeIvfPqCorpus(emb, path)
      Seq(1, 2).foreach { np =>
        assert(Similarity.ivfPqTopKStored(spark, path, q, 10, nprobe = np)
            .collect().toSet ==
          Similarity.ivfPqTopK(emb, q, 10, nprobe = np).collect().toSet,
          s"stored IVF-PQ diverges from in-flight at nprobe=$np")
      }
    } finally graft.Scratch.delete(path)
  }

  test("in-flight IVF-PQ equals the LUT-join ADC reference row for row, pq_sim included") {
    // Scoring the decoded codes (cosine(q, decode(codes))) is ADC
    // rewritten, so every (query, vector, pq_sim, rk) row must match the
    // long-form LUT scorer it replaced, at every probe width and shape;
    // (16, 2) covers half the embedding, so decode pads with zeros.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    val cents = Similarity.kmeansCentroids(emb, 16, 2)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select($"query_id", $"vec_id", $"pq_sim", $"rk").collect().map(_.mkString("|"))
        .toSeq.sorted
    for (((m, subDim), probes) <- Seq((16, 4) -> Seq(1, 2, 16), (8, 8) -> Seq(1, 2),
        (16, 2) -> Seq(2))) {
      val cb = Similarity.pqCodebookTrained(emb, m, subDim, 64, 2)
      for (np <- probes) {
        val got = sorted(Similarity.ivfPqTopK(emb, q, 10, nprobe = np,
          centsOpt = Some(cents), cbOpt = Some(cb)))
        val want = sorted(ReferenceIvfPq.topK(emb, q, 10, cents, cb, np))
        val same = got.size == 100 && got == want
        assert(same, s"m=$m subDim=$subDim nprobe=$np: IVF-PQ diverges from the LUT-join " +
          s"reference; only IVF-PQ: ${got.diff(want).take(5)}, only reference: " +
          s"${want.diff(got).take(5)}")
      }
    }
  }

  test("a null row in a given PQ codebook fails by name") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 3)
    val cb = Similarity.pqCodebookTrained(emb, 16, 4, 64, 0)
    for (c <- Seq("sub", "centroid_id", "c_emb")) {
      val bad = cb.withColumn(c, when($"centroid_id" === 0L, lit(null)).otherwise(col(c)))
      val e = intercept[IllegalArgumentException](
        Similarity.ivfPqTopK(emb, q, 10, cbOpt = Some(bad)).collect())
      assert(e.getMessage.contains("PQ codebook table (sub, centroid_id, c_emb) must be null-free"),
        s"null $c: ${e.getMessage}")
    }
  }

  test("a null embedding among the k-means init rows fails by name") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val bad = emb.withColumn("embedding",
      when($"vec_id" === 3L, lit(null)).otherwise($"embedding"))
    val e = intercept[IllegalArgumentException](Similarity.kmeansCentroids(bad, 16, 1))
    assert(e.getMessage.contains("k-means init rows (vec_id, embedding) must be null-free"),
      e.getMessage)
  }

  /** Build an index over the first 400 vectors, append the rest as one
    * batch, then require each (label, stored, in-flight) case to agree.
    * The in-flight side searches the whole corpus with the index's own
    * frozen models, read from its sidecars. */
  private def storedParity(build: (org.apache.spark.sql.DataFrame, String) => Unit,
                           append: (org.apache.spark.sql.DataFrame, String) => Unit)(
      cases: String => Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)]): Unit = {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_parity_spec").toString
    try {
      build(emb.filter($"vec_id" < 400), path)
      append(emb.filter($"vec_id" >= 400), path)
      cases(path).foreach { case (label, stored, inFlight) =>
        val s = stored.collect().toSet
        assert(s.nonEmpty && s == inFlight.collect().toSet,
          s"$label: stored index diverges from in-flight search")
      }
    } finally graft.Scratch.delete(path)
  }

  test("stored index ≡ in-flight search after one append, per family and nprobe") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    def model(path: String, name: String) = Some(spark.read.parquet(s"$path/$name"))
    storedParity(Similarity.writeBucketedCorpus(_, _),
      Similarity.appendToStoredBuckets(_, _)) { path =>
      ("bucketed default nprobe", Similarity.bucketedTopKStored(spark, path, q, 10),
        Similarity.bucketedTopK(emb, q, 10)) +:
      Seq(1, 2, 4).map(np => (s"bucketed nprobe=$np",
        Similarity.bucketedTopKStored(spark, path, q, 10, nprobe = np),
        Similarity.bucketedTopK(emb, q, 10, nprobe = np)))
    }
    storedParity(Similarity.writeIvfCorpus(_, _),
      Similarity.appendToIvfCorpus(spark, _, _)) { path =>
      Seq(1, 2).map(np => (s"IVF nprobe=$np",
        Similarity.ivfTopKStored(spark, path, q, 10, nprobe = np),
        Similarity.ivfTopK(emb, q, 10, nprobe = np,
          centsOpt = model(path, "_centroids"))))
    }
    storedParity(Similarity.writeIvfPqCorpus(_, _),
      Similarity.appendToIvfPqCorpus(spark, _, _)) { path =>
      Seq(1, 2).map(np => (s"IVF-PQ nprobe=$np",
        Similarity.ivfPqTopKStored(spark, path, q, 10, nprobe = np),
        Similarity.ivfPqTopK(emb, q, 10, nprobe = np,
          centsOpt = model(path, "_centroids"), cbOpt = model(path, "_codebook"))))
    }
  }

  test("stored IVF-PQ takes its shape (m, subDim) from the stored codebook") {
    // A non-default shape: a search or append that assumed the default
    // m = 16, subDim = 4 would slice the query against the wrong
    // codewords (null ADC scores, so the in-flight side differs) or
    // fail the codebook check.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    storedParity(Similarity.writeIvfPqCorpus(_, _, m = 8, subDim = 8),
      Similarity.appendToIvfPqCorpus(spark, _, _)) { path =>
      Seq(1, 2).map(np => (s"IVF-PQ m=8 subDim=8 nprobe=$np",
        Similarity.ivfPqTopKStored(spark, path, q, 10, nprobe = np),
        Similarity.ivfPqTopK(emb, q, 10, m = 8, subDim = 8, nprobe = np,
          centsOpt = Some(spark.read.parquet(s"$path/_centroids")),
          cbOpt = Some(spark.read.parquet(s"$path/_codebook")))))
    }
  }

  test("in-flight IVF-PQ takes its shape (m, subDim) from a given codebook") {
    // The call leaves m and subDim at their defaults (16, 4), which must
    // shape nothing once cbOpt is set. At m = 8 the defaults would ask
    // for subspaces the codebook lacks; at m = 16, subDim = 2 they would
    // slice 4-long query pieces against 2-long codewords, and every ADC
    // score would be null.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    for ((m, subDim) <- Seq((8, 8), (16, 2)))
      storedParity(Similarity.writeIvfPqCorpus(_, _, m = m, subDim = subDim),
          Similarity.appendToIvfPqCorpus(spark, _, _)) { path =>
        Seq(1, 2).map(np => (s"IVF-PQ m=$m subDim=$subDim codebook, default knobs, nprobe=$np",
          Similarity.ivfPqTopKStored(spark, path, q, 10, nprobe = np),
          Similarity.ivfPqTopK(emb, q, 10, nprobe = np,
            centsOpt = Some(spark.read.parquet(s"$path/_centroids")),
            cbOpt = Some(spark.read.parquet(s"$path/_codebook")))))
      }
  }

  test("IVF-PQ refine: full candidate coverage recovers exact brute force; default is a subset re-rank") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val n = emb.count().toInt
    // nprobe = all 16 lists and refineFactor·k ≥ corpus ⇒ the exact
    // re-rank sees every vector ⇒ must equal brute force bit-for-bit
    val full = Similarity.ivfPqRefineTopK(emb, q, 10, refineFactor = n,
      nprobe = 16).collect().toSet
    val exact = Similarity.bruteForceTopK(emb, q, 10).collect().toSet
    assert(full == exact, "full-coverage refine must equal brute force")
    // default refine: every returned pair must come from the ADC top-40
    val adc40 = Similarity.ivfPqTopK(emb, q, 40)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ref = Similarity.ivfPqRefineTopK(emb, q, 10)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(ref.subsetOf(adc40), "refine may only re-rank ADC candidates")
  }

  test("appendToIvfPqCorpus: O(batch) maintenance with frozen models; parity with full build") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    val incr = java.nio.file.Files.createTempDirectory("graft_ivfpq_incr").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivfpq_full").toString
    try {
      // build on the first 400 vectors, append the rest in two batches
      Similarity.writeIvfPqCorpus(emb.filter($"vec_id" < 400), incr)
      def files(): Map[String, Set[String]] =
        new java.io.File(s"$incr/lists").listFiles().filter(_.isDirectory)
          .map(d => d.getName ->
            d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
          .toMap
      val before = files()
      Similarity.appendToIvfPqCorpus(spark,
        emb.filter($"vec_id" >= 400 && $"vec_id" < 450), incr)
      val after = files()
      // untouched lists keep their exact files (O(batch) evidence)
      val touched = after.keys.filter(k =>
        after(k) != before.getOrElse(k, Set.empty[String])).toSet
      before.keys.filterNot(touched).foreach { k =>
        assert(after(k) == before(k), s"untouched list $k was rewritten")
      }
      Similarity.appendToIvfPqCorpus(spark, emb.filter($"vec_id" >= 450), incr)
      // the incremental index answers EXACTLY like an index whose
      // models were trained on the same 400-vector prefix but whose
      // lists were built over the full corpus in one shot
      Similarity.writeIvfPqCorpus(emb.filter($"vec_id" < 400), full)
      Similarity.appendToIvfPqCorpus(spark, emb.filter($"vec_id" >= 400), full)
      assert(Similarity.ivfPqTopKStored(spark, incr, q, 10).collect().toSet ==
        Similarity.ivfPqTopKStored(spark, full, q, 10).collect().toSet,
        "two-batch append diverges from one-batch append")
    } finally { graft.Scratch.delete(incr); graft.Scratch.delete(full) }
  }

  test("filtered stored ANN ≡ in-flight search over the pre-filtered corpus") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 20)
    val path = java.nio.file.Files.createTempDirectory("graft_meta_spec").toString
    try {
      Similarity.writeBucketedCorpus(emb, path, metaCols = Seq("label"))
      val stored = Similarity.bucketedTopKStored(spark, path, q, 10,
        pred = Some($"label" === 1)).collect().toSet
      // semantic reference: bucket the corpus in-flight, keep label 1,
      // search that subset — the storage layout and the pushed filter
      // must not change results
      val inflight = Similarity.bucketedTopK(emb.filter($"label" === 1), q, 10)
        .collect().toSet
      assert(stored == inflight, "filtered stored ANN diverges from in-flight")
      // and every returned vector really matches the predicate
      val ok = emb.filter($"label" === 1).select($"vec_id").as[Long].collect().toSet
      stored.foreach(r => assert(ok(r.getLong(1)), s"non-matching vector in $r"))
    } finally graft.Scratch.delete(path)
  }

  test("semanticContamination: planted eval duplicate is flagged, pairs are cross-set") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    // plant eval doc 3's exact embedding into the training set
    val train = emb.filter($"vec_id" >= 50).select($"vec_id", $"embedding")
      .unionByName(emb.filter($"vec_id" === 3)
        .select(lit(10000L).as("vec_id"), $"embedding"))
    val ev = emb.filter($"vec_id" < 50)
    val hits = Similarity.semanticContamination(train, ev, 0.9).collect()
    assert(hits.exists(r => r.getLong(0) == 10000L && r.getLong(1) == 3L
      && r.getDouble(2) >= 0.999999),
      "an identical embedding must be flagged as contamination")
    hits.foreach { r =>
      assert(r.getLong(0) >= 50 && r.getLong(1) < 50, "pairs must be cross-set")
      assert(r.getDouble(2) > 0.9, "pairs must clear the threshold")
    }
  }

  test("ann07 recall ladder: per-path floors at sf0.01 (silent-collapse tripwire)") {
    // The ladder was previously MEASURED but not GATED: a refactor
    // silently halving any path's recall would have passed every hash
    // gate (the ladder hash just changes with it). Floors sit a few
    // points under the committed sf0.01 fixture values (0.118 → 0.77)
    // so fixture-noise-sized drift passes and a real collapse fails.
    val floors = Map(
      "lsh_bucketed" -> 0.10, "lsh_multiprobe4" -> 0.13,
      "pq_adc" -> 0.30, "jl_rerank" -> 0.35, "graph_beam" -> 0.45,
      "ivf_nprobe1" -> 0.50, "ivf_nprobe2" -> 0.55,
      "ivf_pq" -> 0.58, "pq_trained" -> 0.60, "ivfpq_refine" -> 0.70)
    val got = graft.SparkEntry.queries("ann07_recall")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got.keySet == floors.keySet,
      s"ladder paths changed: ${got.keySet} vs ${floors.keySet}")
    floors.foreach { case (m, f) =>
      assert(got(m) >= f, s"$m recall ${got(m)} fell below its $f floor")
    }
    // ordering identities that must never invert, whatever the drift
    assert(got("ivf_nprobe2") >= got("ivf_nprobe1"), "multi-probe lost recall")
    assert(got("ivfpq_refine") >= got("ivf_pq"), "exact refine lost recall")
    assert(got("lsh_multiprobe4") >= got("lsh_bucketed"), "multi-probe LSH lost recall")
  }

  test("beamSearchTopK: greedy walk reaches the far end of a chain graph; visited-set accounting") {
    // Corpus on the unit circle at 10° steps, chain edges i↔i+1, seed
    // at vector 0, query = vector 5: each round the beam (width 1) can
    // only advance one hop, so `rounds` bounds how far the walk gets —
    // and the answer is the best of EVERYTHING visited, not just the
    // final beam.
    def v(deg: Int) = Seq(math.cos(math.toRadians(deg)), math.cos(math.toRadians(90 - deg)))
    val corpus = (0 to 5).map(i => (i.toLong, v(10 * i))).toDF("vec_id", "embedding")
    val edges = (0 until 5).flatMap(i =>
      Seq((i.toLong, i + 1L), (i + 1L, i.toLong))).toDF("vec_id", "nbr_id")
    val query = Seq((100L, v(50))).toDF("vec_id", "embedding")
    val seeds = Seq(Tuple1(0L)).toDF("vec_id")
    def best(rounds: Int): Long =
      Similarity.beamSearchTopK(edges, corpus, query, seeds, 1, 1, rounds)
        .filter($"rk" === 1).head.getLong(1)
    assert(best(5) == 5L, "full walk must reach the true nearest neighbor")
    assert(best(2) == 2L, "2 rounds from seed 0 can reach at most vector 2")
    // k > visited size: every visited vector comes back, ranked
    val all = Similarity.beamSearchTopK(edges, corpus, query, seeds, 10, 1, 5)
      .orderBy("rk").collect().map(_.getLong(1)).toSeq
    assert(all == Seq(5L, 4L, 3L, 2L, 1L, 0L), s"visited ranking: $all")
  }

  test("stored graph index: beam search over the stored adjacency ≡ in-flight") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    // The stored search ranks on the driver, so besides the fixture it
    // runs on a corpus that exercises Spark's ordering: exact copies of
    // 40 vectors under fresh ids (equal cosines — only the vec_id
    // tiebreak orders them), a vector with a NaN component (a NaN
    // cosine against everything; Spark sorts NaN above every number)
    // and a null embedding (a null cosine, sorted last). A zero vector
    // cannot stand in for NaN: its 0/0 cosine raises DIVIDE_BY_ZERO
    // under ANSI mode, in both searches alike.
    val copies = emb.filter($"vec_id" < 40).select(($"vec_id" + 100000L).as("vec_id"),
      $"embedding", $"label")
    val nanVec = emb.filter($"vec_id" === 7L).select(lit(200000L).as("vec_id"),
      transform($"embedding", (x, i) => when(i === 0, lit(Float.NaN)).otherwise(x))
        .as("embedding"), $"label")
    val nullVec = emb.filter($"vec_id" === 8L).select(lit(300000L).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding"), $"label")
    val tied = emb.unionByName(copies).unionByName(nanVec).unionByName(nullVec)
    // NaN >= 0 holds in Spark, so the NaN vector's LSH bucket is the
    // all-ones one (255); that bucket's other members reach it from
    // finite scores
    val tiedQueries = tied.filter($"vec_id" < 5 || $"vec_id".between(100000L, 100004L) ||
      $"vec_id" >= 200000L || Similarity.lshBucket($"embedding", 8, 64) === 255L)
    // rows as strings: Row equality would never match a NaN cos_sim
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    def searchBoth(corpus: org.apache.spark.sql.DataFrame,
                   cases: Seq[(org.apache.spark.sql.DataFrame, Int, Int)]) = {
      val path = java.nio.file.Files.createTempDirectory("graft_gidx").toFile.getAbsolutePath
      Similarity.writeGraphIndex(corpus, path, 5, maxBucketSize = Some(200))
      val graph = Similarity.knnGraph(corpus, 5, maxBucketSize = Some(200))
      val seeds = Similarity.bucketSeeds(corpus, maxBucketSize = Some(200))
      val out = cases.map { case (queries, k, rounds) =>
        (k, rounds, rows(Similarity.beamSearchTopK(graph, corpus, queries, seeds, k, 8, rounds)),
          rows(Similarity.beamSearchTopKStored(spark, path, corpus, queries, k, 8, rounds)))
      }
      graft.Scratch.delete(new java.io.File(path))
      out
    }
    // the fixture; then ties + NaN at 3 rounds, at rounds = 0 (seeds
    // only), and with k above the corpus size (the whole visited set)
    val results = searchBoth(emb, Seq((emb.filter($"vec_id" < 5), 10, 3))) ++
      searchBoth(tied, Seq((tiedQueries, 10, 3), (tiedQueries, 10, 0),
        (tiedQueries, 1000, 1)))
    for ((k, rounds, inFlight, stored) <- results)
      assert(stored == inFlight,
        s"the stored layout must not change beam-search results (k=$k rounds=$rounds): " +
          s"only stored ${stored -- inFlight}, only in-flight ${inFlight -- stored}")
    // the added inputs reach the ranking: NaN and null scores, a tie
    // decided by vec_id, and a visited set smaller than k
    val tiedTop = results(1)._3.toSeq.map(_.split('|'))
    assert(tiedTop.groupBy(_(0)).values.exists(rs =>
      rs.exists(_(2) == "NaN") && rs.exists(r => r(2) != "NaN" && r(2) != "null")),
      "no top-k ranks a NaN cos_sim against numbers")
    assert(tiedTop.exists(_(2) == "null"), "no null cos_sim in the top-k")
    assert(tiedTop.groupBy(r => (r(0), r(2))).values.exists(_.size > 1),
      "no exact cos_sim tie in the top-k")
    val whole = results(3)._3.toSeq.map(_.split('|')).groupBy(_(0))
    assert(whole.size == tiedQueries.count() && whole.values.forall(_.size < 1000),
      "k = 1000 must return each query's whole visited set")
  }

  test("stored graph beam search persists nothing: no staged blocks outlive the call") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_gidx_leak").toFile.getAbsolutePath
    Similarity.writeGraphIndex(emb, path, 5, maxBucketSize = Some(200))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.beamSearchTopKStored(spark, path, emb, emb.filter($"vec_id" < 5), 10, 8, 3)
      .collect()
    // compare key sets, not sizes: the context cleaner may drop older
    // RDDs meanwhile, which is no leak of this call
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the search left ${added.size} persisted RDDs behind")
    graft.Scratch.delete(new java.io.File(path))
  }

  test("the graph_beam floor has teeth: seeds-only search (rounds 0) trips it") {
    // Plant the regression the 0.45 floor catches: zero expansion
    // rounds collapse the search to scoring the ~2^planes bucket seeds
    // — recall falls to the seed-hit rate, far below the floor.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q50 = emb.filter($"vec_id" < 50)
    val exact = graft.Stages.stage(Similarity.bruteForceTopK(emb, q50, 10)
      .select($"query_id", $"vec_id"))
    val degraded = Similarity.beamSearchTopK(
      Similarity.knnGraph(emb, 5, maxBucketSize = Some(200)),
      emb, q50, Similarity.bucketSeeds(emb, maxBucketSize = Some(200)),
      10, 8, 0)
      .select($"query_id", $"vec_id")
      .join(exact, Seq("query_id", "vec_id")).count() / 500.0
    assert(degraded < 0.45,
      s"planted zero-round beam still clears the floor ($degraded) — the floor is toothless")
  }

  test("the refine floor has teeth: a planted no-op refine (factor 1) trips it") {
    // Plant the regression class the 0.70 floor exists to catch:
    // refineFactor = 1 makes the exact re-rank a no-op, collapsing
    // ivfpq_refine to raw IVF-PQ recall (~0.65 on this fixture) —
    // below the floor, so the ladder test above WOULD fail on it.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter($"vec_id" < 10)
    val exact = graft.Stages.stage(Similarity.bruteForceTopK(emb, q, 10)
      .select($"query_id", $"vec_id"))
    val degraded = Similarity.ivfPqRefineTopK(emb, q, 10, refineFactor = 1)
      .select($"query_id", $"vec_id")
      .join(exact, Seq("query_id", "vec_id")).count() / 100.0
    assert(degraded < 0.70,
      s"planted no-op refine still clears the floor ($degraded) — the floor is toothless")
  }
}

/** IVF-PQ as it was scored before one code row per vector: the long-form
  * (vec_id, list_id, sub, code) rows, then ADC through per-query lookup
  * tables — a candidate-distinct reconstructed-norm aggregate, a LUT
  * built by exploding query subspaces, and broadcast joins. Kept only as
  * the reference the decoded scorer must reproduce. */
private object ReferenceIvfPq {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window

  private def subspaces(df: DataFrame, idCol: String, m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          slice(col("embedding"), s * subDim + 1, subDim).as("sub_emb"))): _*)).as("sv"))
      .select(col(idCol), col("sv.sub").as("sub"), col("sv.sub_emb").as("sub_emb"))

  def topK(corpus: DataFrame, queries: DataFrame, k: Int, cents: DataFrame,
           cb: DataFrame, nprobe: Int): DataFrame = {
    val book = cb.select(col("sub").cast("int"), col("centroid_id").cast("long"), col("c_emb"))
      .collect().groupBy(_.getInt(0)).map { case (s, rs) =>
        s -> rs.map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1).toSeq
      }
    val m = book.size
    val subDim = book(0).head._2.size
    val centModel = cents.select(col("centroid_id").cast("long"), col("c_emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val codes = corpus.select(col("vec_id"),
        call_function("graft_nearest_cosine", col("embedding"), typedlit(centModel)).as("list_id"),
        posexplode(array((0 until m).map(s => call_function("graft_nearest_l2",
          slice(col("embedding"), s * subDim + 1, subDim), typedlit(book(s)))): _*))
          .as(Seq("sub", "code")))
    val probes = Similarity.ivfAssignN(queries.select(col("vec_id"), col("embedding")), cents,
        nprobe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("list_id"))
    val qs = queries.select(col("vec_id").as("query_id"), col("embedding"))
    val cbn = cb.select(col("sub"), col("centroid_id").as("code"),
      Similarity.dot(col("c_emb"), col("c_emb")).as("__n2"))
    val cand = codes.join(broadcast(probes), Seq("list_id"))
    val rec = cand.select(col("vec_id"), col("sub"), col("code")).distinct()
      .join(broadcast(cbn), Seq("sub", "code"))
      .groupBy(col("vec_id")).agg(sum(col("__n2")).as("__rn2"))
    val lut = subspaces(qs, "query_id", m, subDim)
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("centroid_id").as("code"),
        Similarity.dot(col("sub_emb"), col("c_emb")).as("__dp"))
    val qn = qs.select(col("query_id"), Similarity.norm(col("embedding")).as("__qn"))
    val sc = cand.join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("vec_id"), col("query_id")).agg(sum(col("__dp")).as("__adp"))
    val scored = sc.join(broadcast(qn), Seq("query_id")).join(rec, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(col("__adp") / (col("__qn") * sqrt(col("__rn2"))), 6).as("pq_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("pq_sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }
}
