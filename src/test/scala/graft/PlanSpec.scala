package graft

import org.apache.spark.sql.functions._
import graft.queries.{HisQueries, RelationalQueries}

/** Physical-plan quality gates — the scale contract, asserted, not
  * hoped for: column pruning and filter pushdown must reach the parquet
  * scan, dimension joins must broadcast, and the 11-way repeated dim
  * join must reuse ONE broadcast. These run against sf0.001 (plan shape
  * is scale-independent). */
class PlanSpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("op05 projection prunes the parquet scan to the selected columns") {
    val plan = formatted(q("op05_project_alias"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_extendedprice"), "unused column must not be read")
    assert(!readSchema.contains("l_shipdate"))
  }

  test("filters push down to the parquet scan") {
    val df = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") > 45).select("l_orderkey")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThan(l_quantity"), s"pushdown missing:\n$plan")
  }

  test("snowflake dim joins broadcast (no shuffle of the fact side)") {
    val plan = formatted(q("op10_snowflake_join"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("repeated dim join: dim materialized once, broadcasts are local") {
    // other suites cache overlapping subplans (CacheManager substitutes
    // by plan match, globally) — clear so the asserted plan is its own.
    spark.catalog.clearCache()
    val df = q("op13_repeated_dim_join")
    // collect() (not a write) so THIS dataset's QueryExecution runs and
    // its adaptive plan finalizes.
    df.collect()
    val plan = formatted(df)
    assert(plan.contains("isFinalPlan=true"))
    // The derived dim is collected to a LocalRelation before the joins,
    // so the final plan must contain NO dim pipeline at all: every
    // broadcast build side is a LocalTableScan, the only Window op is
    // the fact side's slots pivot, and the only parquet scans are the
    // fact side's 6 tables.
    // formatted output repeats operators under "== Initial Plan ==" —
    // count only within the final-plan tree.
    val finalTree = plan.substring(
      plan.indexOf("== Final Plan =="),
      math.max(plan.indexOf("== Initial Plan =="), plan.indexOf("== Final Plan ==") + 16))
    assert(finalTree.contains("LocalTableScan"))
    val windows = finalTree.linesIterator.count(_.contains("Window ")) // excludes WindowGroupLimit
    assert(windows <= 1, s"dim pipeline must not appear in the plan, saw $windows Window ops")
    val scans = finalTree.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 6, s"only the fact side may scan parquet, saw $scans scans")
    // With identical LocalRelations AQE reuses ONE broadcast stage
    // across the 11 joins (ReusedExchange) — assert every build side is
    // either the local scan or a reuse of it.
    val locals = finalTree.linesIterator.count(_.contains("LocalTableScan"))
    val reused = finalTree.linesIterator.count(_.contains("ReusedExchange"))
    assert(locals + reused >= 11,
      s"11 broadcast builds must be local-or-reused, saw locals=$locals reused=$reused")
  }

  test("partitioned writes enable partition pruning on read") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_part")
      .toFile.getAbsolutePath + "/events_by_day"
    Tables.events(spark, sf0001)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(root)
    val days = spark.read.parquet(root).select("day").distinct()
      .as[String].collect().sorted
    assert(days.length > 1, "fixture must span multiple days for this test")
    val filtered = spark.read.parquet(root).filter(col("day") === days.head)
    val plan = formatted(filtered)
    // the day filter must prune at the partition level, not post-scan
    assert(plan.contains("PartitionFilters"), s"plan:\n$plan")
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("day"), s"day filter must reach partition pruning: $pf")
  }

  test("ann03b stored-corpus scan prunes to the query buckets (dynamic partition pruning)") {
    val df = q("ann03b_bucketed_stored")
    df.collect() // finalize the adaptive plan (DPP subquery included)
    val plan = formatted(df)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined, s"stored corpus must scan with partition filters:\n$plan")
    assert(pf.get.toLowerCase.contains("dynamicpruning"),
      s"the bucket join must dynamically prune the scan to the query buckets: ${pf.get}")
  }

  test("ann14b stored-graph frontier expansion DPP-prunes to the frontier buckets") {
    // The round loop collects each expansion to the driver (its answer
    // is a local relation with no scans), so the gate targets the
    // expansion building block with a filtered, DPP-eligible frontier.
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files.createTempDirectory("graft_gidx_plan")
      .toFile.getAbsolutePath
    Similarity.writeGraphIndex(emb, path, 5, maxBucketSize = Some(200))
    val bucketType = spark.read.parquet(path).schema("bucket").dataType
    val frontier = emb.filter(col("vec_id") < 8)
      .select(lit(0L).as("query_id"), col("vec_id"),
        Similarity.lshBucket(col("embedding"), 8, 64).cast(bucketType)
          .as("bucket"))
    val df = Similarity.graphFrontierExpansion(spark.read.parquet(path), frontier)
    df.collect() // finalize the adaptive plan (DPP subquery included)
    val plan = formatted(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.contains("bucket")).toSeq
    assert(pf.nonEmpty, s"stored adjacency must scan with a bucket partition filter:\n$plan")
    assert(pf.exists(_.toLowerCase.contains("dynamicpruning")),
      s"the frontier join must dynamically prune the adjacency scan: $pf")
    graft.Scratch.delete(path)
  }

  test("ann14b beam round's driver-side expansion scans only the frontier buckets") {
    // One round's expansion as beamSearchTopKStored builds it: the
    // frontier is a driver-side local relation, so the bucket filter
    // must be on the scan itself and must skip the other buckets' files.
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = java.nio.file.Files.createTempDirectory("graft_gidx_round")
      .toFile.getAbsolutePath
    Similarity.writeGraphIndex(emb, path, 5, maxBucketSize = Some(200))
    val stored = spark.read.parquet(path)
    val frontier = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), Similarity.lshBucket(col("embedding"), 8, 64)
        .cast(stored.schema("bucket").dataType))
      .collect().toSeq.map(r => (0L, r.getLong(0), r.get(1)))
    val df = Similarity.storedFrontierExpansion(stored, frontier)
    df.collect()
    val plan = formatted(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.contains("bucket")).toSeq
    assert(pf.exists(_.contains(" IN (")),
      s"the round's adjacency scan must filter on the frontier buckets:\n$plan")
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => (s.metrics("numFiles").value,
        s.relation.location.inputFiles.length.toLong)
    }
    assert(scans.size == 1 && scans.head._1 < scans.head._2,
      s"the scan must read fewer files than the index holds (read, all): $scans")
    graft.Scratch.delete(path)
  }

  test("ann09 filtered ANN composes DPP with parquet predicate pushdown") {
    // The metadata-filtered search must prune BOTH ways in one scan:
    // dynamically to the probed buckets' directories, and by pushed
    // row-group predicate on the metadata column.
    val df = q("ann09_filtered_ann")
    df.collect() // finalize the adaptive plan (DPP subquery included)
    val plan = formatted(df)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined && pf.get.toLowerCase.contains("dynamicpruning"),
      s"filtered ANN lost the bucket DPP: ${pf.getOrElse("no PartitionFilters line")}")
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
    assert(pushed.isDefined && pushed.get.contains("label"),
      s"label predicate must push into the parquet scan: ${pushed.getOrElse("no PushedFilters line")}")
  }

  test("ann10b stored IVF-PQ code scan prunes to the probed lists (dynamic partition pruning)") {
    val df = q("ann10b_ivf_pq_stored")
    df.collect() // finalize the adaptive plan (DPP subquery included)
    val plan = formatted(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.contains("list_id")).toSeq
    assert(pf.nonEmpty, s"stored code lists must scan with a list_id partition filter:\n$plan")
    assert(pf.exists(_.toLowerCase.contains("dynamicpruning")),
      s"the probe join must dynamically prune the code scan: $pf")
  }

  test("ann04b stored-IVF scan prunes to the probed centroids (dynamic partition pruning)") {
    val df = q("ann04b_ivf_stored")
    df.collect() // finalize the adaptive plan (DPP subquery included)
    val plan = formatted(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.contains("centroid_id")).toSeq
    assert(pf.nonEmpty, s"stored inverted lists must scan with a centroid partition filter:\n$plan")
    assert(pf.exists(_.toLowerCase.contains("dynamicpruning")),
      s"the probe join must dynamically prune the list scan: $pf")
  }

  test("tx24 hybrid retrieval's vector leg scans the stored index with DPP") {
    // Round-7 verdict item 1: the flagship RAG-shaped query must probe
    // the stored bucket-partitioned index, not brute-force the corpus.
    // Same gate as ann03b's, applied to the fused query: the embedding
    // scan must carry a dynamic-pruning partition filter on `bucket`.
    val df = q("tx24_hybrid_rrf")
    df.collect() // finalize the adaptive plan (DPP subquery included)
    val plan = formatted(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.toLowerCase.contains("bucket")).toSeq
    assert(pf.nonEmpty, s"hybrid vector leg must scan with a bucket partition filter:\n$plan")
    assert(pf.exists(_.toLowerCase.contains("dynamicpruning")),
      s"the bucket join must dynamically prune the index scan: $pf")
  }

  test("tx25 multi-query hybrid probes the stored index with DPP in one scan") {
    val df = q("tx25_hybrid_multiquery")
    df.collect()
    val plan = formatted(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters"))
      .filter(_.toLowerCase.contains("bucket")).toSeq
    assert(pf.nonEmpty, s"multi-query vector leg must scan with a bucket partition filter:\n$plan")
    assert(pf.exists(_.toLowerCase.contains("dynamicpruning")),
      s"the bucket join must dynamically prune the index scan: $pf")
  }

  test("turno paciente-dim join broadcasts via AQE without a forced hint") {
    // TurnosPipeline.turno no longer forces broadcast(pacienteDim) — the
    // dim's cardinality is fact-like at 100 TB. This gate proves AQE still
    // picks a broadcast join at fixture scale, so dropping the hint costs
    // nothing when the dim IS small.
    spark.catalog.clearCache()
    val wide = graft.his.TurnosPipeline.wideExtract(spark, sf0001)
    val dim = graft.his.TurnosPipeline.paciente(wide)
    val joined = wide.join(dim.select(col("id").as("paciente_id"), col("documento")),
      wide("paciente_documento") === col("documento"))
    joined.collect() // finalize the adaptive plan
    val exec = joined.queryExecution.executedPlan.toString
    assert(exec.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("documento")),
      s"paciente join must broadcast at fixture scale:\n$exec")
  }

  test("whole-stage codegen covers the cleaning pipeline") {
    // formatted mode marks codegen'd operators with a leading '*'.
    val plan = formatted(q("op23_26_limpiar_nombres"))
    assert(plan.contains("* Project"))
  }

  test("dd06b bucket blocking is an equi-join — never a nested loop") {
    // The whole point of the LSH-bucketed embedding near-dup is
    // replacing the O(n²) theta-join; a regression to a nested loop
    // would still produce correct hashes, so gate the PLAN.
    val plan = formatted(q("dd06b_embed_neardup_lsh"))
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
  }

  test("op15b firstWinsAgg aggregates map-side before the shuffle") {
    val plan = formatted(q("op15b_firstwins_agg"))
    // two-phase hash aggregation: a partial min_by below the exchange
    assert(plan.contains("partial_min_by") || plan.contains("partial min_by"),
      s"expected partial aggregation in:\n$plan")
    assert(!plan.contains("Window"), "the agg form must not fall back to a window sort")
  }

  test("ex04b KMV runs as a partial-aggregated sketch, not a window sort") {
    val plan = formatted(q("ex04b_distinct_kmv"))
    // typed Aggregator → two-phase ObjectHashAggregate with a map-side
    // partial whose state is the bounded bottom-k buffer
    assert(plan.contains("ObjectHashAggregate"), s"plan:\n$plan")
    assert(plan.toLowerCase.contains("partial_kmvbottomk"),
      s"expected a map-side partial KMV aggregation in:\n$plan")
    assert(!plan.contains("Window"), "KMV must not fall back to a per-group sort")
  }

  test("no registered query sorts a fact through an empty-partition window") {
    // An empty-partition-spec Window is a single-partition global sort —
    // the one Spark anti-pattern that silently survives correctness
    // gates (same hashes, one task at 100 TB). Every registered query's
    // OPTIMIZED plan is swept; dense ids go through Dedup.denseId.
    // KNOWN BLIND SPOT: denseId (RDD) and stage() (localCheckpoint)
    // truncate the visible plan, hiding anything upstream of them — the
    // source-level lint below covers that class.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
    }
    assert(offenders.isEmpty, s"global-sort windows: $offenders")
  }

  test("source lint: no Window.orderBy without a partition") {
    // Plan sweeps cannot see through RDD/localCheckpoint boundaries, so
    // also lint the SOURCE: the no-partition Window constructor
    // (`Window.orderBy(...)`) appears in no file. Windows go through
    // Window.partitionBy; global order through Dedup.denseId.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // \b so identifiers like rankWindow.orderBy don't false-match
          "\\bWindow\\s*\\.\\s*orderBy".r.findFirstIn(src).isDefined
        }
        .map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty, s"no-partition windows in: $offenders")
  }

  test("source lint: row_number() in Similarity only inside its top-k helper") {
    // Every ANN family ranks through one helper, so the (score desc,
    // id asc) tiebreak and the rank filter WindowGroupLimit needs are
    // written once. Strip comments, then require exactly one
    // row_number() and that it sits in `def topK`.
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/operators/Similarity.scala")), "UTF-8")
    val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val sites = "\\brow_number\\s*\\(".r.findAllMatchIn(code).map(_.start).toList
    assert(sites.size == 1, s"row_number() sites in Similarity.scala: ${sites.size}")
    val helper = code.indexOf("def topK(")
    val nextDef = code.indexOf("def ", helper + 1)
    assert(helper >= 0 && sites.head > helper && (nextDef < 0 || sites.head < nextDef),
      "row_number() must be inside Similarity's topK helper")
  }

  test("no registered query joins without equi-keys outside the broadcast whitelist") {
    // A join with no equality condition executes as a nested loop or
    // cartesian — O(n·m) at scale. Sweep every registered query's
    // optimized plan; the only non-equi joins allowed are those whose
    // build side is a deliberately tiny broadcast set.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // EqualNullSafe counts: INTERSECT/EXCEPT rewrite to semi/anti hash
    // joins on <=> conditions. The equality must be a top-level
    // CONJUNCT — `a = b OR a < b` contains an EqualTo but still plans
    // as a nested loop, so a tree-wide exists() would under-enforce.
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val broadcastSmallAllowed = Set(
      // brute-force ANN baseline: corpus × broadcast(5 queries)
      "ann01_cosine_topk",
      // k-means assignment: corpus × broadcast(16 centroids)
      "ann04_ivf_topk", "ann04b_ivf_stored", "ann05_ivf_nprobe2",
      "ann05b_ivf_stored_nprobe2",
      // SemDeDup rides the same k-means assignment; its pair join is
      // equi on centroid_id
      "dd12_semdedup",
      // exact-within-block near-dup baseline (kept as the oracle for
      // the bucketed form): 300-id block, id_a < id_b theta-join
      "dd06_embed_neardup",
      // recall measurement: embeds the ann01 brute-force ground truth
      // (corpus × broadcast(50 queries)) plus the k-means assignment —
      // the same two whitelisted shapes, reused for comparison
      "ann07_recall",
      // BM25: the (N, avgdl) corpus stats are ONE broadcast row crossed
      // into the per-(doc, term) hits — scalar fan-out, not a join
      "tx23_bm25",
      // hybrid RRF embeds bm25's per-query stats row (the vector leg is
      // the stored-index equi-join — NOT brute force)
      "tx24_hybrid_rrf", "tx25_hybrid_multiquery",
      // BM25 with derived query terms: same stats-row crossJoin
      "tx26_bm25_derived_query",
      // MaxSim rerank's first stage is bm25PerQuery — the same ONE-ROW
      // (N, avgdl) stats crossJoin; the rerank itself is equi-joined
      // through the broadcast candidate list
      "tx38_maxsim_rerank",
      // JL candidate generation: corpus × broadcast(50 queries) in the
      // 16-d projected space — the cheap scoring pass by design; the
      // exact rerank above it is candidate-sized
      "ann08_random_projection",
      // quality report: three ONE-ROW count aggregates crossed into a
      // single report row — scalar fan-out, not a data join
      "dd13_lsh_quality",
      // temperature mix: the (N, Σn^α) corpus-stats row crossed into
      // the stratum-sized rate table (both tiny), then an equi-join
      // back to the docs
      "tx28_temperature_mix",
      // IVF-PQ: the k-means assignment's corpus × broadcast(16
      // centroids) — the same whitelisted shape as ann04/dd12
      "ann10_ivf_pq",
      // stored IVF-PQ: only the QUERY side's probe assignment crosses
      // broadcast centroids; the code scan itself is the DPP-pruned
      // equi-join (gated by its own PlanSpec test)
      "ann10b_ivf_pq_stored",
      // TPC-H Q22: the global (sum, count) threshold is ONE broadcast
      // row crossed into customer — scalar fan-out; the orders
      // anti-join is equi
      "tpch_q22",
      // TPC-H Q11: the global (Σv, n) threshold is ONE broadcast row
      // crossed into the per-part values — the same scalar fan-out
      "tpch_q11",
      // token-budget mix: same shape as tx28 — the (Σtok, Σtok^α)
      // corpus-stats row crossed into the stratum-sized rate table,
      // then an equi-join back to the docs
      "tx31_token_budget_mix",
      // IVF-PQ refine rides ann10's k-means assignment (corpus ×
      // broadcast(16 centroids)); the exact re-rank leg is an
      // equi-join on (vec_id) × broadcast queries
      "ann11_ivfpq_refine",
      // bigram LM: the vocabulary size is ONE broadcast row crossed
      // into the vocab-sized prob table — scalar fan-out; the corpus
      // scoring join is equi on bigram
      "tx34_bigram_lm",
      // KMV set ops: the a<b pair join is over the stratum-sized
      // sketch table (one k-long row per source, broadcast) — tiny by
      // construction; the corpus pass is a plain hash agg
      "tx35_vocab_overlap_kmv",
      // SQ8 ADC scan: dequantized corpus × broadcast(10 queries) —
      // ann01's whitelisted shape; the dim-sized range table join is
      // equi on d
      "ann13_sq8_adc",
      // co-purchase lift: the basket-count denominator is ONE broadcast
      // row crossed into the count-pruned pair table — scalar fan-out;
      // pair generation and the frequency joins are all equi
      "op43_copurchase_lift",
      // graph-beam ANN: round-0 seeds the beam with queries ×
      // broadcast(≤2^planes per-bucket entry points) — broadcast-tiny
      // by construction; every round's candidate scoring is an
      // equi-join on vec_id
      "ann14_graph_beam")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val nonEqui = df.queryExecution.optimizedPlan.collect {
        case j: Join if !j.condition.exists(c => conjuncts(c).exists(e =>
          e.isInstanceOf[EqualTo] || e.isInstanceOf[EqualNullSafe])) => j
      }
      nonEqui.nonEmpty && !broadcastSmallAllowed(name)
    }
    assert(offenders.isEmpty,
      s"non-equi joins outside the broadcast-small whitelist: $offenders")
  }

  test("every top-k-per-group rank filter carries a WindowGroupLimit pushdown") {
    // The `row_number().over(w) <= k` shape is all over Similarity and
    // the text rankers. Spark 4's InferWindowGroupLimit turns it into a
    // per-partition bounded heap BEFORE the full sort/window — losing it
    // (e.g. via a filter rewrite that breaks the pattern) ships every
    // partition's complete candidate set through the window, which is
    // exactly the 100 TB regression a hash-match cannot catch. Sweep:
    // any registered query whose optimized plan filters a rank-like
    // window output against a literal must also carry the inferred
    // WindowGroupLimit node.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Window => LWindow, WindowGroupLimit => LWgl}
    import org.apache.spark.sql.catalyst.expressions._
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001).queryExecution.optimizedPlan
      val rankAttrs = plan.collect { case w: LWindow =>
        w.windowExpressions.collect {
          case a @ Alias(WindowExpression(_: RowNumber | _: Rank | _: DenseRank, _), _) =>
            a.exprId
        }
      }.flatten.toSet
      def limitsRank(e: Expression): Boolean = e match {
        case LessThanOrEqual(a: AttributeReference, Literal(_, _)) => rankAttrs(a.exprId)
        case LessThan(a: AttributeReference, Literal(_, _)) => rankAttrs(a.exprId)
        case EqualTo(a: AttributeReference, Literal(_, _)) => rankAttrs(a.exprId)
        case GreaterThanOrEqual(Literal(_, _), a: AttributeReference) => rankAttrs(a.exprId)
        case GreaterThan(Literal(_, _), a: AttributeReference) => rankAttrs(a.exprId)
        case EqualTo(Literal(_, _), a: AttributeReference) => rankAttrs(a.exprId)
        case _ => false
      }
      val hasRankLimitFilter = rankAttrs.nonEmpty &&
        plan.collect { case f: LFilter => f }
          .exists(f => f.condition.exists(limitsRank))
      val hasGroupLimit = plan.collectFirst { case _: LWgl => () }.isDefined
      hasRankLimitFilter && !hasGroupLimit
    }
    assert(offenders.isEmpty,
      s"rank-limit filters without a WindowGroupLimit pushdown: $offenders")
  }

  test("IVF centroid assignment is a pure hash aggregation — no window, no sort") {
    // ivfAssignN runs once per k-means ITERATION over the whole corpus;
    // its old row_number form cost a corpus-sized sort exchange per
    // round. Gate the replacement: the assign stage must contain no
    // Window and no Sort in its optimized plan (a hash agg max_by is
    // sort-free and combines map-side).
    import org.apache.spark.sql.catalyst.plans.logical.{Sort => LSort, Window => LWindow}
    val emb = Tables.embeddings(spark, sf0001)
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    for (n <- Seq(1, 2)) {
      val plan = graft.operators.Similarity.ivfAssignN(
        emb.select(col("vec_id"), col("embedding")), cents, n)
        .queryExecution.optimizedPlan
      assert(plan.collect { case w: LWindow => w }.isEmpty,
        s"ivfAssignN(n=$n) must not use a window")
      assert(plan.collect { case s: LSort => s }.isEmpty,
        s"ivfAssignN(n=$n) must not sort")
    }
  }

  test("the tokenize explode stays inside whole-stage codegen (no HOF)") {
    // tokens() feeds every text operator; a higher-order function in it
    // would drop the Generate out of codegen corpus-wide.
    import org.apache.spark.sql.functions.explode
    val df = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        explode(graft.functions.TextAnalysis.tokens(
          org.apache.spark.sql.functions.col("text"))).as("tok"))
    val plan = formatted(df)
    assert(plan.contains("* Generate"), s"explode must codegen:\n$plan")
    assert(!plan.toLowerCase.contains("lambdafunction"),
      "no interpreted higher-order function in the tokenize path")
  }

  test("tx34 bigram-LM plan explodes the shingle subtree exactly once (staged reuse)") {
    // Round-11 verdict: `bg` fed the count branch AND the scoring join
    // unstaged — two full corpus tokenize+explode passes. After the
    // fix, the explode runs once at stage (localCheckpoint) time, so
    // the FINAL plan must contain zero Generate nodes: both branches
    // read the checkpointed bigram rows.
    val plan = formatted(q("tx34_bigram_lm"))
    val generates = plan.linesIterator.count(_.contains("Generate"))
    assert(generates == 0,
      s"tx34 final plan re-explodes the shingle subtree ($generates Generate nodes):\n$plan")
  }

  test("PageRank iteration joins the rank vector exactly once (denominator pre-joined)") {
    // Round-11 verdict: `deg` is static across rounds but was re-joined
    // every iteration. After the pre-join fix, one round = ONE equi-join
    // of the staged (edge ⨝ denominator) list against the rank vector,
    // plus the teleport left-join back onto nodes — 2 joins total, not 3.
    // Parquet-backed inputs so nothing constant-folds.
    val li = Tables.lineitem(spark, sf0001)
    val eDeg = li.select(col("l_suppkey").as("__src"), col("l_partkey").as("__dst"))
      .withColumn("__od", lit(2L))
    val nodes = li.select(col("l_suppkey").as("node")).distinct()
      .withColumn("__seed", lit(true))
    val r = nodes.withColumn("__r", lit(0.5))
    val round1 = graft.operators.Graph.prRound(
      eDeg, nodes, r, col("__r") / col("__od"), lit(0.15), 0.85)
    round1.collect() // finalize AQE, then read ONLY the final tree
    val plan = round1.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      .split("== Initial Plan ==").head
    val joins = plan.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(joins == 2,
      s"per-iteration plan must carry exactly 2 joins (rank ⨝ eDeg, teleport left-join), got $joins:\n$plan")
    assert(!plan.contains("NestedLoop"), s"no nested loop in the PR round:\n$plan")
  }

  test("native graft_array_dot stays inside whole-stage codegen") {
    import spark.implicits._
    // parquet-backed input (a local relation would be constant-folded).
    val df = Tables.embeddings(spark, sf0001)
      .select(graft.operators.Similarity.dot(col("embedding"), col("embedding")).as("d"))
    val plan = formatted(df)
    assert(plan.contains("* Project"), s"dot must codegen:\n$plan")
    assert(df.as[Double].head() > 0.0)
  }

  test("native graft_array_count_leq stays inside whole-stage codegen (CDF probe)") {
    import spark.implicits._
    // the tx37 hot loop: sketch array broadcast onto fact rows, k
    // comparisons per row — must compile, not interpret a lambda.
    val df = Tables.embeddings(spark, sf0001)
      .select(call_function("graft_array_count_leq",
        col("embedding").cast("array<double>"), lit(0.0)).as("c"))
    val plan = formatted(df)
    assert(plan.contains("* Project"), s"count_leq must codegen:\n$plan")
    val c = df.as[Long].head()
    assert(c >= 0L)
  }
}
