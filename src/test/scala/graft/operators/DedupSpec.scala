package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    ("d1", "2026-01-03", 7L, "newest"),
    ("d1", "2026-01-01", 3L, "oldest"),
    ("d1", "2026-01-03", 5L, "tie-lower-id"),
    ("d2", "2026-01-02", 9L, "only"),
  ).toDF("documento", "fecha", "turno_id", "tag")

  test("firstWins: pinned total order decides the winner deterministically") {
    val out = Dedup.firstWins(rows, Seq("documento"),
      Seq(col("fecha").desc, col("turno_id").asc))
      .select("documento", "tag").as[(String, String)].collect().toMap
    assert(out == Map("d1" -> "tie-lower-id", "d2" -> "only"))
  }

  test("firstWins is idempotent") {
    val order = Seq(col("fecha").desc, col("turno_id").asc)
    val once = Dedup.firstWins(rows, Seq("documento"), order)
    val twice = Dedup.firstWins(once, Seq("documento"), order)
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("firstWinsAgg (hash-agg min_by) equals firstWins (window) on a total order") {
    // fecha DESC, turno_id ASC ≡ ascending sort key (negated date rank, id)
    val df = rows.withColumn("neg_fecha",
      -org.apache.spark.sql.functions.unix_date(col("fecha").cast("date")))
    val viaWindow = Dedup.firstWins(df, Seq("documento"),
      Seq(col("fecha").desc, col("turno_id").asc))
      .select("documento", "tag").as[(String, String)].collect().toMap
    val viaAgg = Dedup.firstWinsAgg(df, Seq("documento"),
      Seq(col("neg_fecha"), col("turno_id")))
      .select("documento", "tag").as[(String, String)].collect().toMap
    assert(viaAgg == viaWindow)
  }

  test("denseId assigns 1..N in order") {
    val out = Dedup.denseId(rows, Seq(col("turno_id").asc), "id")
      .select("id", "turno_id").as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, 3L), (2L, 5L), (3L, 7L), (4L, 9L)))
  }

  /** The definition denseId must reproduce: row_number over an
    * empty-partition window (a single-partition sort, kept out of the
    * engine's sources). */
  private def windowRowNumber(df: DataFrame, order: Seq[Column], name: String): DataFrame =
    df.withColumn(name, row_number().over(Window.orderBy(order: _*)).cast("long"))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"

  test("denseId equals the global-window row_number over random total orders") {
    val rnd = new scala.util.Random(11)
    val n = 10000
    // a: nullable leading key with ~50 values; b: a string key with
    // ~200 values; u: unique, the tiebreak that makes an order total.
    val us = rnd.shuffle((0L until n).toVector)
    val all = us.map { u =>
      (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(50)), s"s${rnd.nextInt(200)}", u)
    }.toDF("a", "b", "u")
    val directions: Seq[Column => Column] = Seq(_.asc, _.desc, _.asc_nulls_last, _.desc_nulls_first)
    def randomOrder(): Seq[Column] = {
      val leading = rnd.shuffle(Seq("a", "b")).take(1 + rnd.nextInt(2))
      leading.map(c => directions(rnd.nextInt(directions.size))(col(c))) :+
        (if (rnd.nextBoolean()) col("u").asc else col("u").desc)
    }
    val orders = Seq(col("a").asc_nulls_last, col("u").asc) +: Seq.fill(2)(randomOrder())
    val partitionsSeen = Set.newBuilder[Int]
    for (order <- orders; rows <- Seq(0, 1, n); k <- Seq(1, 3, 8);
         coalesce <- Seq(true, false) if rows == n || (k < 8 && coalesce)) {
      val df = all.limit(rows).repartition(k)
      val (got, parts) = withConf(coalesceKey, coalesce.toString) {
        val out = Dedup.denseId(df, order, "id")
        (out.select("u", "id").as[(Long, Long)].collect().toMap, out.rdd.getNumPartitions)
      }
      if (rows == n) partitionsSeen += parts
      val want = windowRowNumber(df, order, "id").select("u", "id")
        .as[(Long, Long)].collect().toMap
      assert(got.size == rows, s"order $order, $rows rows, $k partitions")
      assert(got == want, s"order $order, $rows rows, $k partitions")
    }
    // both zipWithIndex paths ran: one partition, and several
    val seen = partitionsSeen.result()
    assert(seen.contains(1) && seen.exists(_ > 1), s"partition counts seen: $seen")
  }

  test("findOrInsert keeps existing ids, appends new keys above max id") {
    val existing = Seq((1L, "ana"), (2L, "luis")).toDF("id", "documento")
      .select(col("documento"), col("id")) // column order differs on purpose
    val incoming = Seq(" ana ", "zoe", "bob", "zoe", null, " ").toDF("documento")
    val out = Dedup.findOrInsert(existing, incoming, "documento", "id")
      .select("documento", "id").as[(String, Long)].collect().toMap
    assert(out == Map("ana" -> 1L, "luis" -> 2L, "bob" -> 3L, "zoe" -> 4L))
  }

  test("findOrInsert numbers multi-partition new keys like the global-window row_number") {
    val existing = Seq(("k0007", 1L), ("k0100", 2L), ("k1999", 3L)).toDF("k", "id")
    val incoming = (0 until 4000).map(i => f" k${(i * 7919) % 2000}%04d ").toDF("k")
      .repartition(5)
    val got = withConf(coalesceKey, "false") {
      Dedup.findOrInsert(existing, incoming, "k", "id").as[(String, Long)].collect().toMap
    }
    val newKeys = incoming.select(trim(col("k")).as("k")).distinct()
      .join(existing, Seq("k"), "left_anti")
    val want = existing.as[(String, Long)].collect().toMap ++
      windowRowNumber(newKeys, Seq(col("k")), "id")
        .select(col("k"), col("id") + 3L).as[(String, Long)].collect().toMap
    assert(want.size == 2000)
    assert(got == want)
  }

  test("findOrInsert is idempotent (re-running adds nothing)") {
    val existing = Seq((1L, "a")).toDF("id", "k")
    val incoming = Seq("b", "c").toDF("k")
    val once = Dedup.findOrInsert(existing, incoming, "k", "id")
    val twice = Dedup.findOrInsert(once, incoming, "k", "id")
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("distinctTrimmed dedups on trimmed value and drops nulls") {
    val df = Seq("  x ", "x", "y", null).toDF("c")
    val out = Dedup.distinctTrimmed(df, "c", "v").as[String].collect().sorted.toSeq
    assert(out == Seq("x", "y"))
  }

  test("topKPerGroup refuses non-numeric key/score columns instead of nulling them") {
    val df = Seq(("a", 1L, 0.5), ("b", 2L, 0.7)).toDF("g", "id", "score")
    val e = intercept[IllegalArgumentException] {
      Dedup.topKPerGroup(df, "g", "id", "score", 2)
    }
    assert(e.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.topKPerGroup(
        Seq((1L, 2L, "high")).toDF("g", "id", "score"), "g", "id", "score", 2)
    }
    assert(e2.getMessage.contains("numeric"))
  }

  test("topKPerGroup equals the window top-k, ties broken by id") {
    val df = (1L to 900L).map(i => (i % 9, i, (i % 13).toDouble))
      .toDF("g", "id", "score").repartition(7)
    val got = Dedup.topKPerGroup(df, "g", "id", "score", 4)
      .select($"g", $"rnk", $"id", $"score")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val want = df.select($"g", row_number().over(w).cast("long").as("rnk"),
        $"id", $"score")
      .filter($"rnk" <= 4)
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("groupedRank equals the window row_number on a total order") {
    val df = (1L to 500L).map(i => (i, s"g${i % 3}", (i * 7919) % 100))
      .toDF("id", "g", "score")
    val got = Dedup.groupedRank(df, "g",
        Seq(col("score").asc, col("id").asc), "rnk")
      .select($"id", $"rnk").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy($"g").orderBy($"score".asc, $"id".asc)
    val want = df.select($"id", row_number().over(w).cast("long").as("rnk"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("groupedRank keeps and ranks the rows of a null group") {
    val df = Seq((1L, Some("x"), 3L), (2L, None, 1L), (3L, Some("x"), 2L),
      (4L, None, 5L), (5L, Some("y"), 4L)).toDF("id", "g", "score")
    val got = Dedup.groupedRank(df, "g", Seq(col("score").asc, col("id").asc), "rnk")
      .select($"id", $"rnk").as[(Long, Long)].collect().toMap
    val w = Window.partitionBy($"g").orderBy($"score".asc, $"id".asc)
    val want = df.select($"id", row_number().over(w).cast("long").as("rnk"))
      .as[(Long, Long)].collect().toMap
    assert(want == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 1L))
    assert(got == want)
  }

  test("fuzzyMatch: single edits anywhere in the string survive blocking") {
    val catalog = Seq("small ring", "red widget", "blue bolt").toDF("name")
    val dirty = Seq(
      (1L, "mall ring"),   // first char deleted → prefix block broken, suffix pass catches
      (2L, "small rin"),   // last char deleted → suffix broken, prefix pass catches
      (3L, "red wdget"),   // middle deletion → both passes catch
      (4L, "xxxxxxxxx"),   // nothing within dist 2 → dropped
      (5L, "blue bolt"),   // exact → dist 0
    ).toDF("id", "sucio")
    val out = Dedup.fuzzyMatch(dirty, catalog, "id", "sucio", "name", 2)
      .select($"id", $"name", $"dist").as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out == Map(
      1L -> ("small ring", 1L),
      2L -> ("small ring", 1L),
      3L -> ("red widget", 1L),
      5L -> ("blue bolt", 0L)))
  }

  test("fuzzyMatch tie-break: equal distance resolves to the lexicographically smaller name") {
    val catalog = Seq("cat", "car").toDF("name")
    val dirty = Seq((1L, "caa")).toDF("id", "sucio")
    val out = Dedup.fuzzyMatch(dirty, catalog, "id", "sucio", "name", 2)
      .select($"name").as[String].collect().toSeq
    assert(out == Seq("car"))
  }

  test("TopKByScore buffer never exceeds k through reduce and merge") {
    val agg = new TopKByScore(3)
    var b = agg.zero
    (1 to 100).foreach { i =>
      b = agg.reduce(b, TopKRow((i % 7).toDouble, i.toLong))
      assert(b.rows.length <= 3)
    }
    val merged = agg.merge(b, agg.reduce(agg.zero, TopKRow(99.0, 0L)))
    assert(merged.rows.length == 3)
    assert(merged.rows.head == TopKRow(99.0, 0L), "merge must re-rank")
  }

  test("sortedNeighborhood equals the naive rank-window definition (incl. cross-block pairs)") {
    import spark.implicits._
    // 26 keys aa..az plus typo'd twins for a few — rank blocks of 4
    // force several true pairs to straddle a block boundary, which the
    // adjacent-block join must recover.
    val base = ('a' to 'z').zipWithIndex.map { case (c, i) => (i.toLong, s"a$c") }
    val twins = Seq((100L, "ab"), (101L, "am"), (102L, "azz"))
    val df = (base ++ twins).toDF("id", "key")
    val w = 4
    val got = Dedup.sortedNeighborhood(df, "id", "key", w, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // naive reference: global sort, all pairs within w positions
    val ranked = df.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(p => (p._2, p._1)).zipWithIndex
    val want = (for {
      (ra, ia) <- ranked; (rb, ib) <- ranked
      if ib > ia && ib - ia < w
      if levenshteinDist(ra._2, rb._2) <= 2
    } yield (ra._1, rb._1)).toSet
    assert(got == want)
    // the duplicate key "ab" pair must be found with dist 0
    val dists = Dedup.sortedNeighborhood(df, "id", "key", w, 2)
      .as[(Long, Long, String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(dists((1L, 100L)) == 0L)
  }

  private def levenshteinDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
