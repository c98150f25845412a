package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_publish").toFile
    dir.deleteOnExit(); dir.getAbsolutePath
  }

  test("publish then read: all tables visible under the new version") {
    val root = freshRoot()
    Publish.publishTables(spark, Map(
      "a" -> Seq(1, 2, 3).toDF("x"),
      "b" -> Seq("p", "q").toDF("s")), root, "001")
    assert(Publish.currentVersion(spark, root).contains("v-001"))
    assert(Publish.readTable(spark, root, "a").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(Publish.readTable(spark, root, "b").count() == 2)
  }

  test("partitioned publish: directory layout prunes on read, same swap semantics") {
    val root = freshRoot()
    val fact = Seq((1L, "2026-01", 10.0), (2L, "2026-01", 20.0), (3L, "2026-02", 30.0))
      .toDF("id", "month", "amount")
    Publish.publishTables(spark, Map("fact" -> fact, "dim" -> Seq(1).toDF("x")),
      root, "001", partitioning = Map("fact" -> Seq("month")))
    // partition directories exist for the fact, not the dim
    val v = Publish.currentVersion(spark, root).get
    assert(new java.io.File(s"$root/$v/fact/month=2026-01").isDirectory)
    assert(!new java.io.File(s"$root/$v/dim").listFiles.exists(_.getName.startsWith("x=")))
    // the month filter reaches partition pruning on the published table
    val filtered = Publish.readTable(spark, root, "fact").filter(col("month") === "2026-02")
    val plan = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("month"), s"pruning must use the partition column: $pf")
    assert(filtered.count() == 1)
  }

  test("failed publish leaves the previous version current and readable") {
    val root = freshRoot()
    Publish.publishTables(spark, Map("a" -> Seq(1).toDF("x")), root, "001")
    val boom = udf { (_: Int) =>
      if (true) throw new RuntimeException("boom"); 0
    }
    intercept[Exception] {
      Publish.publishTables(spark, Map(
        "a" -> Seq(9).toDF("x").withColumn("x", boom(col("x")))), root, "002")
    }
    assert(Publish.currentVersion(spark, root).contains("v-001"))
    assert(Publish.readTable(spark, root, "a").as[Int].collect().toSeq == Seq(1))
  }

  test("republish flips versions atomically via the manifest") {
    val root = freshRoot()
    Publish.publishTables(spark, Map("a" -> Seq(1).toDF("x")), root, "001")
    Publish.publishTables(spark, Map("a" -> Seq(2).toDF("x")), root, "002")
    assert(Publish.currentVersion(spark, root).contains("v-002"))
    assert(Publish.readTable(spark, root, "a").as[Int].collect().toSeq == Seq(2))
  }

  test("vacuum retention: a reader pinned to the PREVIOUS version survives a keepLast vacuum") {
    // The stage-and-swap retention contract: a long-running reader that
    // resolved the manifest just before a new publish holds the
    // previous version's paths; vacuum with keepLast >= 1 must leave
    // those files resolvable while deleting older versions.
    val root = freshRoot()
    Publish.publishTables(spark, Map("a" -> Seq(1, 2).toDF("x")), root, "001")
    Publish.publishTables(spark, Map("a" -> Seq(3, 4).toDF("x")), root, "002")
    // reader resolves while v-002 is current…
    val pinnedVersion = Publish.currentVersion(spark, root).get
    val pinned = spark.read.parquet(s"$root/$pinnedVersion/a")
    // …then a new version publishes and retention runs.
    Publish.publishTables(spark, Map("a" -> Seq(5, 6).toDF("x")), root, "003")
    val deleted = Publish.vacuum(spark, root, keepLast = 1)
    assert(deleted == Seq("v-001"), s"only the version beyond the window dies: $deleted")
    assert(pinned.as[Int].collect().sorted.toSeq == Seq(3, 4),
      "the pinned reader's files must still resolve after vacuum")
    assert(!new java.io.File(s"$root/v-001").exists())
    // keepLast = 0 reclaims the previous version too — the contract's
    // sharp edge: pinned readers are only protected inside the window.
    Publish.vacuum(spark, root, keepLast = 0)
    assert(!new java.io.File(s"$root/v-002").exists())
  }

  test("vacuum keeps current + keepLast versions, never touches foreign paths") {
    val root = freshRoot()
    (1 to 5).foreach(i =>
      Publish.publishTables(spark, Map("a" -> Seq(i).toDF("x")), root, f"00$i"))
    // a foreign directory and the manifest must survive any vacuum
    val foreign = new java.io.File(s"$root/not-a-version"); foreign.mkdir()
    val deleted = Publish.vacuum(spark, root, keepLast = 2)
    assert(deleted.sorted == Seq("v-001", "v-002"), s"deleted: $deleted")
    assert(new java.io.File(s"$root/v-005").isDirectory, "current kept")
    assert(new java.io.File(s"$root/v-004").isDirectory)
    assert(new java.io.File(s"$root/v-003").isDirectory)
    assert(!new java.io.File(s"$root/v-001").exists)
    assert(foreign.isDirectory, "non-version dirs untouched")
    assert(Publish.readTable(spark, root, "a").as[Int].collect().toSeq == Seq(5))
    // keepLast = 0 leaves only the current version
    val deleted2 = Publish.vacuum(spark, root, 0)
    assert(deleted2.sorted == Seq("v-003", "v-004"))
    assert(Publish.currentVersion(spark, root).contains("v-005"))
    assert(Publish.readTable(spark, root, "a").as[Int].collect().toSeq == Seq(5))
  }

  test("vacuum at the batch-id width rollover: a wider in-flight staging dir is never eligible") {
    // The round-14 ADVICE finding: ingest versions are v-%09d, and a
    // batch id >= 1e9 widens the padding — 'v-1000000000' sorts
    // lexicographically BEFORE 'v-999999999', so a string-ordered
    // vacuum under a v-999999999 _CURRENT would see a concurrent
    // publisher's in-flight v-1000000000 staging dir as OLD and delete
    // it mid-stage. The numeric ordering must keep it ineligible.
    val root = freshRoot()
    Publish.publishTables(spark, Map("a" -> Seq(1).toDF("x")), root, "999999998")
    Publish.publishTables(spark, Map("a" -> Seq(2).toDF("x")), root, "999999999")
    // a concurrent publisher mid-stage: data staged, manifest not yet flipped
    val staged = new java.io.File(s"$root/v-1000000000"); staged.mkdir()
    val deleted = Publish.vacuum(spark, root, keepLast = 0)
    assert(deleted == Seq("v-999999998"), s"only the truly older version dies: $deleted")
    assert(staged.isDirectory,
      "the wider in-flight staging dir must survive vacuum (it is NEWER than current)")
    assert(Publish.currentVersion(spark, root).contains("v-999999999"))
  }

  test("versionOrdering: numeric value over string order, suffix keeps maintenance newer") {
    val ord = Publish.versionOrdering
    assert(ord.lt("v-999999999", "v-1000000000"), "rollover compares by value")
    assert(ord.lt("v-000000123", "v-000000123-c1"), "compaction republish is newer")
    assert(ord.equiv("v-007", "v-007"))
    assert(ord.lt("v-007", "v-0000008"), "padding width is irrelevant")
    // non-numeric names: plain string order among themselves, and never
    // older than any numeric name (so never vacuum-eligible under a
    // numeric _CURRENT)
    assert(ord.lt("v-aaa", "v-bbb"))
    assert(ord.lt("v-999999999999", "v-aaa"))
    // lawful total order on a mixed set: sorting must not throw
    val mixed = Seq("v-100", "v-99", "v-aaa", "v-5-c1", "v-007", "v-1000000000")
    assert(mixed.sorted(ord) ==
      Seq("v-5-c1", "v-007", "v-99", "v-100", "v-1000000000", "v-aaa"))
  }

  test("two publishers racing the flip: one wins, no torn manifest, both versions intact") {
    val root = freshRoot()
    Publish.publishTables(spark, Map("a" -> Seq(0).toDF("x")), root, "001")
    // Stage both versions first (private dirs — staging never races),
    // then race ONLY the flips, many times, from two threads.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      (1 to 25).foreach { i =>
        val (va, vb) = (f"1$i%02d-a", f"1$i%02d-b")
        Seq(va, vb).foreach { v =>
          Seq(i).toDF("x").write.mode("overwrite").parquet(s"$root/v-$v/a")
        }
        val start = new CountDownLatch(1)
        val done = new CountDownLatch(2)
        Seq(va, vb).foreach { v =>
          pool.execute { () =>
            start.await()
            try Publish.flipManifest(spark, root, v) finally done.countDown()
          }
        }
        start.countDown()
        assert(done.await(30, TimeUnit.SECONDS), "racing flips must terminate")
        // the manifest is never torn: it parses to exactly one of the
        // two racers and the version it names is complete and readable
        val cur = Publish.currentVersion(spark, root).get
        assert(cur == s"v-$va" || cur == s"v-$vb", s"torn/foreign manifest: '$cur'")
        assert(Publish.readTable(spark, root, "a").as[Int].head() == i)
        // the loser's staged version is untouched on disk (retryable)
        val loser = if (cur == s"v-$va") vb else va
        assert(spark.read.parquet(s"$root/v-$loser/a").as[Int].head() == i)
      }
    } finally pool.shutdownNow()
  }

  test("tryFlipManifest: CAS semantics — stale expectation loses cleanly, exactly one racer wins") {
    val root = freshRoot()
    Publish.publishTables(spark, Map("a" -> Seq(0).toDF("x")), root, "001")
    Seq("002", "003").foreach { v =>
      Seq(9).toDF("x").write.mode("overwrite").parquet(s"$root/v-$v/a")
    }
    // stale expectation: refused, manifest unchanged
    assert(!Publish.tryFlipManifest(spark, root, "002", Some("v-000")))
    assert(Publish.currentVersion(spark, root).contains("v-001"))
    // two CAS racers with the SAME expectation: exactly one wins
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val start = new CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      val done = new CountDownLatch(2)
      Seq("002", "003").foreach { v =>
        pool.execute { () =>
          start.await()
          try results.put(v, Publish.tryFlipManifest(spark, root, v, Some("v-001")))
          finally done.countDown()
        }
      }
      start.countDown()
      assert(done.await(30, TimeUnit.SECONDS))
      val winners = Seq("002", "003").filter(results.get(_))
      assert(winners.size <= 1, s"CAS let both racers win: $results")
      // (both can lose if they collide on the lock — that's the
      // documented fail-clean path; the loser retries with the NEW
      // current) — after a retry exactly one version is current.
      if (winners.isEmpty) {
        val cur = Publish.currentVersion(spark, root)
        assert(cur.contains("v-001"), "both lost ⇒ manifest untouched")
        assert(Publish.tryFlipManifest(spark, root, "002", cur))
      }
      val cur = Publish.currentVersion(spark, root).get
      assert(Set("v-002", "v-003").contains(cur))
      // a loser retrying with the stale expectation still loses
      assert(!Publish.tryFlipManifest(spark, root, "003", Some("v-001")))
      assert(Publish.currentVersion(spark, root).contains(cur))
    } finally pool.shutdownNow()
  }

  test("time travel: a version-pinned read is stable across later publishes; vacuumed raises") {
    val root = freshRoot()
    Publish.publishTables(spark, Map("t" -> Seq(1, 2, 3).toDF("x")), root, "001")
    Publish.publishTables(spark, Map("t" -> Seq(10, 20).toDF("x")), root, "002")
    Publish.publishTables(spark, Map("t" -> Seq(99).toDF("x")), root, "003")
    // pinned read reproduces v1 exactly even though _CURRENT moved twice
    assert(Publish.readTableAt(spark, root, "t", "001")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(Publish.readTable(spark, root, "t").as[Int].collect().toSeq == Seq(99))
    // vacuum v1 away (keep current + 1) — the pinned read must fail
    // loudly, never return an empty frame
    assert(Publish.vacuum(spark, root, 1) == Seq("v-001"))
    val e = intercept[IllegalArgumentException] {
      Publish.readTableAt(spark, root, "t", "001")
    }
    assert(e.getMessage.contains("vacuumed or never published"))
    assert(Publish.readTableAt(spark, root, "t", "002")
      .as[Int].collect().sorted.toSeq == Seq(10, 20))
  }

  test("versionDiff: insert/delete/update classified; null-safe compare; all-null row is unchanged") {
    val root = freshRoot()
    val v1 = Seq[(Long, Option[Int], String)](
      (1L, Some(10), "a"),   // unchanged
      (2L, None, "b"),       // all-interesting-col null, unchanged — must NOT diff
      (3L, Some(30), "c"),   // value update
      (4L, None, "d"),       // null -> value update
      (5L, Some(50), "e")    // deleted in v2
    ).toDF("k", "v", "s")
    val v2 = Seq[(Long, Option[Int], String)](
      (1L, Some(10), "a"),
      (2L, None, "b"),
      (3L, Some(31), "c"),
      (4L, Some(40), "d"),
      (6L, Some(60), "f")    // inserted
    ).toDF("k", "v", "s")
    Publish.publishTables(spark, Map("t" -> v1), root, "001")
    Publish.publishTables(spark, Map("t" -> v2), root, "002")
    val diff = Publish.versionDiff(spark, root, "t", Seq("k"), "001", "002")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(3L -> "updated", 4L -> "updated",
      5L -> "deleted", 6L -> "inserted"))
  }

  test("a month-partitioned publish of a small frame writes in defaultParallelism tasks, one file per month") {
    val cores = spark.sparkContext.defaultParallelism
    val root = freshRoot()
    // one input partition and no exchange: every task above one is the write's
    val fact = spark.range(0, 240, 1, 1).select($"id",
      format_string("2026-%02d", ($"id" % 12 + 1).cast("int")).as("month"),
      ($"id" * 1.5).as("amount"))
    val jobs = jobsOf(Publish.publishTables(spark, Map("fact" -> fact), root, "001",
      partitioning = Map("fact" -> Seq("month"))))
    assert(jobs.max >= cores, s"final-stage tasks per job: $jobs")
    val v = Publish.currentVersion(spark, root).get
    val months = new java.io.File(s"$root/$v/fact").listFiles().filter(_.getName.startsWith("month="))
    assert(months.length == 12)
    months.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${d.getName} holds $files data files")
    }
    assert(Publish.readTable(spark, root, "fact").count() == 240)
  }
}
