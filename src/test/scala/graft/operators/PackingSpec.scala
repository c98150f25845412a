package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = (1 to 997).map(i => (i.toLong, (i * 37 % 113 + 1).toLong))
    .toDF("id", "n").repartition(7) // scrambled physical layout

  test("runningTotal equals the single-partition reference on any layout") {
    val got = Packing.runningTotal(fixture, Seq(col("id")), col("n"), "cum")
      .select($"id", $"cum").as[(Long, Long)].collect().sortBy(_._1)
    // reference: the naive global window (test-only; main code lints it)
    val want = fixture
      .withColumn("cum", sum($"n").over(Window.orderBy($"id")).cast("long"))
      .select($"id", $"cum").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("runningTotal survives an empty input") {
    val empty = fixture.filter($"id" < 0)
    assert(Packing.runningTotal(empty, Seq(col("id")), col("n"), "cum").count() == 0)
  }

  test("runningTotal's physical plan has no empty-partition window") {
    val df = Packing.runningTotal(fixture, Seq(col("id")), col("n"), "cum")
    val globals = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "prefix sum must not funnel into one partition")
  }

  test("packSequences over real BPE token budgets (the tx16 shape)") {
    // tx16 now budgets on Bpe.tokenCount — verify offsets are the
    // exclusive prefix sum of the SUBWORD counts, not whitespace words.
    val docs = Seq(
      (1L, "the data pipeline reads the table"),
      (2L, "tokens are counted and packed into sequences"),
      (3L, "a very small doc"),
    ).toDF("doc_id", "text")
    val withTok = docs.select($"doc_id",
      graft.functions.Bpe.tokenCount($"text").cast("long").as("n"))
    val counts = withTok.as[(Long, Long)].collect().toMap
    val packed = Packing.packSequences(withTok, Seq(col("doc_id")), col("n"), 8)
      .select($"doc_id", $"start_offset").as[(Long, Long)].collect().toMap
    var acc = 0L
    Seq(1L, 2L, 3L).foreach { id =>
      assert(packed(id) == acc)
      acc += counts(id)
    }
    val words = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split("\\s+").length.toLong }.toMap
    assert(counts != words, "BPE subword counts must differ from word counts")
  }

  test("packSequences chunks are contiguous and budget-aligned") {
    val packed = Packing.packSequences(fixture, Seq(col("id")), col("n"), 256)
      .select($"id", $"n", $"start_offset", $"chunk")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    // offsets are the exclusive prefix sum in id order
    var acc = 0L
    packed.sortBy(_._1).foreach { case (_, n, off, chunk) =>
      assert(off == acc, s"offset mismatch at acc=$acc")
      assert(chunk == off / 256)
      acc += n
    }
    // every chunk index up to the last is occupied by some doc start or
    // covered by a straddling doc (contiguous stream — no gaps)
    val total = packed.map(_._2).sum
    assert(packed.map(_._4).max <= (total - 1) / 256)
  }

  test("shardAssignments: lossless partition of the corpus into ~equal token shards") {
    val n = 8
    val a = Packing.shardAssignments(fixture, "id", col("n"), n, "seedA")
      .select($"id", $"n", $"shard").as[(Long, Long, Int)].collect()
    assert(a.length == 997 && a.map(_._1).distinct.length == 997, "no lost/dup docs")
    assert(a.forall(r => r._3 >= 0 && r._3 < n))
    val byShard = a.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(byShard.size == n, "every shard occupied")
    val total = a.map(_._2).sum
    val maxDoc = a.map(_._2).max
    // each shard spans a token interval of total/n; doc granularity can
    // push it past the boundary by at most one doc on each side
    byShard.values.foreach { t =>
      assert(math.abs(t - total.toDouble / n) <= 2 * maxDoc,
        s"shard token mass $t too far from ${total / n}")
    }
    // the permutation decorrelates from the id order: shard of consecutive
    // ids must not be monotone (a sorted-by-id split would be)
    val byId = a.sortBy(_._1).map(_._3)
    assert(byId.sliding(2).exists(p => p(0) > p(1)), "assignment must be permuted")
    // a different seed yields a different permutation
    val b = Packing.shardAssignments(fixture, "id", col("n"), n, "seedB")
      .select($"id", $"shard").as[(Long, Int)].collect().toMap
    assert(a.exists(r => b(r._1) != r._3))
  }

  test("exportShards: re-run is byte-stable, manifest matches the written shards") {
    val dir1 = java.nio.file.Files.createTempDirectory("graft_shard1").toFile
    val dir2 = java.nio.file.Files.createTempDirectory("graft_shard2").toFile
    try {
      val m1 = Packing.exportShards(fixture, "id", col("n"), 4, "s", dir1.getAbsolutePath)
        .orderBy("shard").collect().map(_.toSeq)
      val m2 = Packing.exportShards(fixture, "id", col("n"), 4, "s", dir2.getAbsolutePath)
        .orderBy("shard").collect().map(_.toSeq)
      assert(m1.toSeq == m2.toSeq, "manifests must be identical run-over-run")
      // byte-stability: each shard dir's parquet part files are
      // bit-identical between the two runs (names carry task UUIDs;
      // contents must not)
      def shardBytes(root: java.io.File): Map[String, Seq[String]] =
        new java.io.File(root, "shards").listFiles().filter(_.getName.startsWith("shard="))
          .map { d =>
            val parts = d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            d.getName -> parts.toSeq.map { f =>
              val md = java.security.MessageDigest.getInstance("MD5")
              md.digest(java.nio.file.Files.readAllBytes(f.toPath))
                .map("%02x".format(_)).mkString
            }
          }.toMap
      assert(shardBytes(dir1) == shardBytes(dir2), "shard files must be byte-stable")
      // the manifest is a faithful receipt of what is ON DISK
      val back = spark.read.parquet(s"${dir1.getAbsolutePath}/shards")
        .groupBy($"shard").agg(count(lit(1)).as("n_docs"), sum($"n").as("tokens"))
        .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      m1.foreach { r =>
        val (shard, nd, tk) = (r(0).asInstanceOf[Int], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])
        assert(back(shard) == ((nd, tk)), s"manifest drifted from disk for shard $shard")
      }
      // the stored manifest equals the returned one
      val stored = spark.read.parquet(s"${dir1.getAbsolutePath}/_manifest")
        .orderBy("shard").collect().map(_.toSeq)
      assert(stored.toSeq == m1.toSeq)
    } finally {
      graft.Scratch.delete(dir1); graft.Scratch.delete(dir2)
    }
  }

  test("exportShards guards: numShards >= 1; zero-token corpus lands in shard 0") {
    intercept[IllegalArgumentException] {
      Packing.shardAssignments(fixture, "id", col("n"), 0, "s")
    }
    val zero = fixture.withColumn("n", lit(0L))
    val a = Packing.shardAssignments(zero, "id", col("n"), 4, "s")
      .select($"shard").as[Int].collect()
    assert(a.forall(_ == 0))
  }

  test("shardAssignments equals the token-interval formula over a reference prefix sum") {
    val n = 8
    val got = Packing.shardAssignments(fixture, "id", col("n"), n, "seedA")
      .select($"id", $"shard").as[(Long, Int)].collect().toMap
    // reference: global window prefix in (md5(seed:id), id) order, total by aggregate
    val keyed = fixture.withColumn("rk", md5(concat(lit("seedA:"), $"id".cast("string"))))
    val total = keyed.agg(sum($"n")).as[Long].first()
    val want = keyed
      .withColumn("cum", sum($"n").over(Window.orderBy($"rk", $"id")).cast("long"))
      .select($"id", least(lit(n - 1L), expr(s"(cum - n) * ${n}L div ${total}L")).as("s"))
      .as[(Long, Long)].collect().map { case (id, sh) => id -> sh.toInt }.toMap
    assert(got == want)
  }

  test("shardAssignments runs no job besides runningTotal's") {
    // the same input and order shape: runningTotal's sample, shuffle and
    // per-partition totals jobs are all shardAssignments may run
    val order = Seq(md5(concat(lit("s:"), $"id".cast("string"))), $"id")
    val alone = jobsOf(Packing.runningTotal(fixture, order, $"n", "cum"))
    val assigned = jobsOf(Packing.shardAssignments(fixture, "id", $"n", 4, "s"))
    assert(assigned.size == alone.size,
      s"shardAssignments ran ${assigned.size} jobs, runningTotal alone ${alone.size}")
  }
}
