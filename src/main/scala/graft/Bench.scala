package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` with a noop sink and prints ONE JSON line.
  *
  * Variance hardening (this box showed 4× run-to-run swings on identical
  * code, and a cold JVM charges ~10 s of JIT/codegen to whichever query
  * runs first):
  *  - a warm-up phase exercises the parquet-scan/join/agg codegen paths
  *    before any timing starts;
  *  - every query runs three times and reports the MEDIAN,
  *    unconditionally. The old `< 15 s first-run` exemption let machine
  *    contention lock in single-shot outliers: a 3 s query whose first
  *    run blew past 15 s under load was recorded at 5–10× its
  *    reproducible time. Under contention is exactly when the median
  *    matters most, so there is no exemption;
  *  - samples are INTERLEAVED round-robin across queries: pass 1 runs
  *    every query once, then pass 2, then pass 3. Back-to-back sampling
  *    (r5) let a single minutes-long contention window on this shared
  *    box poison ALL THREE consecutive samples of the queries running
  *    inside it (op13 recorded 6.2/18.2/37.4 — a monotone contention
  *    ramp — where the quiet-box median is ~4–6 s), which defeats
  *    median-of-3 exactly when it's needed. With interleaving the same
  *    window inflates ONE sample of many queries, and each query's
  *    median absorbs it;
  *  - all three raw samples land in `bench_full.json` so the reader can
  *    see per-query variance instead of a bare point estimate.
  *
  * Output contract: the harness that invokes this captures only the LAST
  * 2000 characters of stdout (BENCH_r01–r04 all show `parsed: null` with
  * a 2000-char tail — the old all-queries-plus-samples line was ~5 KB and
  * its head, including the `{"metric":...` prefix, was always cut off).
  * So the printed line now carries the all-queries TOTAL plus a fixed
  * HEADLINE subset covering every operator family and every historically
  * expensive query (~1 KB, fits with sbt's `[success]` suffix), and the
  * complete per-query medians, raw samples, and errors are written to
  * `bench_full.json` in the working directory.
  *
  * Failures are NOT swallowed into fast timings: a query whose write
  * throws reports value -1.0 and its error class under "errors".
  */
object Bench {

  /** The staged end-to-end job (BASELINE.md B1): extract → 4 tables →
    * atomic publish to a fresh temp dir — the production unit of work,
    * in which the wide extract's stages are SHARED across the four
    * tables instead of recomputed per standalone `his_*` query (the
    * standalone queries stay in the bench as per-operator numbers; this
    * entry is the pipeline number). TurnosJobSpec pins the published
    * tables to the same rows as the oracle-checked his_* queries. */
  val JobEntry = "his_job_e2e"

  /** The staged LLM corpus-build job (round-17 verdict item 1): the
    * six-stage extract→route→dedup→mix→shard pipeline published
    * atomically — the LLM-surface sibling of [[JobEntry]].
    * CorpusJobSpec pins the published shards to the same rows as the
    * oracle-checked tx46_corpus_e2e manifest. */
  val LlmJobEntry = "llm_job_e2e"

  private val jobRunners: Map[String, (SparkSession, String, String) => Boolean] = Map(
    JobEntry -> { (spark, sfDir, out) =>
      val res = graft.his.TurnosJob.run(spark, sfDir, out, "bench")
      res.published.nonEmpty && res.counts.values.forall(_ > 0)
    },
    LlmJobEntry -> { (spark, sfDir, out) =>
      val res = graft.llm.CorpusJob.run(spark, sfDir, out, "bench")
      res.published.nonEmpty && res.counts.values.forall(_ > 0)
    })

  private def runJobOnce(spark: SparkSession, sfDir: String,
                         entry: String): (Double, Option[String]) = {
    val out = java.nio.file.Files.createTempDirectory("graft_bench_job").toFile
    val t0 = System.nanoTime()
    try {
      require(jobRunners(entry)(spark, sfDir, out.getAbsolutePath),
        "bench job published nothing")
      ((System.nanoTime() - t0) / 1e9, None)
    } catch {
      case scala.util.control.NonFatal(t) =>
        ((System.nanoTime() - t0) / 1e9, Some(t.getClass.getSimpleName))
    } finally {
      try Scratch.delete(out) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Queries named inline in the printed JSON line: every family is
    * represented and every query that has ever exceeded ~2 s median is
    * included. The full set is always in bench_full.json. */
  val headline: Seq[String] = Seq(
    "his_job_e2e",
    "his_extract_wide", "his_paciente", "his_turno", "his_prestacion",
    "his_prestacion_x_turno",
    "dd02_minhash_signature", "dd03_minhash_candidates", "dd04_jaccard_pairs",
    "dd09_neardup_cc", "dd10_dedup_pipeline", "dd11_incremental_dedup",
    "ann01_cosine_topk", "ann04_ivf_topk", "ann05_ivf_nprobe2",
    "tx01_token_stats", "tx06_quality_filter", "tx08_winnowing",
    "tx09_bigram_score", "tx13_decontaminate",
    "op05_project_alias", "op09_join_inner_agg", "op13_repeated_dim_join",
    "op15_firstwins_dedup", "op18_19_sorted_dense_ids", "op20_unpivot",
    "ex01_tumbling_window", "ex02_session_window", "ex05_asof_join",
    // ex12_bloom_prefilter dropped from the printed line in round 18
    // (sub-second, stable) to make room for the llm_job entries; still
    // in bench_full.json like every query
    "ex10_interval_join", "ex11_cms_heavy_hitters",
    "mm03_features_ann", "skew01_salted_join",
    // round 6 families
    "dd12_semdedup", "ex14_gap_fill", "ex16_rolling_window",
    "lake01_stats_skipping", "op36_scd2_merge", "op37_fuzzy_match",
    "tpch_q1", "tpch_q3",
    // round 7 families
    "ann07_recall", "ann03c_bucketed_append", "ann03d_bucketed_compacted",
    "tpch_q5", "tpch_q18",
    // round 14 families (op44_bucketed_smb_join was inline through
    // round 14; dropped with ex18 below to keep the printed line
    // inside the driver's 2000-char stdout tail — both still land in
    // bench_full.json like every other query)
    "mm09_gif_frames", "op46_er_golden_record",
    // round 8 families (cheap sub-second entries — tx22_chunking,
    // ex19_histogram_quantiles, dq05_drift_psi, tx26 — were dropped to
    // keep the printed line inside the driver's 2000-char stdout tail;
    // every entry is always in bench_full.json)
    // tx25_hybrid_multiquery dropped from the printed line in round 18
    // (same reason as ex12 above)
    "ann04b_ivf_stored", "ann06b_pq_trained",
    // round 18: the LLM corpus-build composition
    "llm_job_e2e", "tx46_corpus_e2e")

  /** Per-STAGE timings of the stored-ANN index lifecycle (round-7
    * verdict item 4): the ann03c/ann03d bench entries time
    * build+append+compact+query as one number BY DESIGN (they are the
    * lifecycle), which makes round-over-round trends read index WRITE
    * cost as query regressions. This decomposes the same work once per
    * bench run into (build, append, compact, query) seconds, written
    * under "lifecycle" in bench_full.json. Single-sample: the stages
    * are write jobs whose variance the median-of-3 queries already
    * characterize. */
  private def runLifecycle(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    // Fresh per-run directories (never fixed paths under the shared
    // tmpdir: fixed names collide across concurrent bench runs, and a
    // pre-planted symlink at a predictable name could redirect the
    // recursive delete — Scratch.delete also refuses to follow links).
    val live = java.nio.file.Files.createTempDirectory("graft_bench_lifecycle")
      .toFile.getAbsolutePath
    val compacted = java.nio.file.Files.createTempDirectory("graft_bench_compacted")
      .toFile.getAbsolutePath
    val emb = Tables.embeddings(spark, sfDir)
    def timed(work: => Unit): Double = {
      val t0 = System.nanoTime()
      work
      math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000
    }
    try {
      val build = timed(Similarity.writeBucketedCorpus(emb.filter(col("vec_id") < 1000), live))
      val append = timed {
        Similarity.appendToStoredBuckets(
          emb.filter(col("vec_id") >= 1000 && col("vec_id") < 1500), live)
        Similarity.appendToStoredBuckets(emb.filter(col("vec_id") >= 1500), live)
      }
      val compact = timed(Similarity.compactStoredBuckets(spark, live, compacted))
      val query = timed(
        Similarity.bucketedTopKStored(spark, compacted, emb.filter(col("vec_id") < 50), 10)
          .write.format("noop").mode("overwrite").save())
      Seq("build_sec" -> build, "append_sec" -> append,
        "compact_sec" -> compact, "query_sec" -> query)
    } catch {
      // NonFatal only: an OOM or interrupt must propagate — converting
      // it to {"error":-1} would let the bench continue in a corrupted
      // JVM and report garbage timings.
      case scala.util.control.NonFatal(_) => Seq("error" -> -1.0)
    } finally {
      try { Scratch.delete(live); Scratch.delete(compacted) }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      spark: SparkSession, sfDir: String,
                      inspect: Option[org.apache.spark.sql.DataFrame => Unit] = None)
      : (Double, Option[String]) = {
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, sfDir)
      inspect.foreach(_(df))
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, None)
    } catch {
      case scala.util.control.NonFatal(t) =>
        ((System.nanoTime() - t0) / 1e9, Some(t.getClass.getSimpleName))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.devCpus
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up: flagship query twice (JIT + codegen cache + shuffle
    // machinery), untimed.
    (1 to 2).foreach { _ =>
      try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    // noop sink, not count(): count() lets Catalyst prune away the
    // projections being measured; noop computes every output row.
    // Median-of-3 for EVERY query, with samples interleaved round-robin
    // across queries (pass 1 of all queries, then pass 2, then pass 3)
    // so a contention window on this shared box lands in at most one
    // sample per query — absorbed by the median — instead of all three
    // consecutive samples of the queries unlucky enough to run inside
    // it. A failing query is skipped in later passes (a slow failure
    // would otherwise triple the wasted wall-clock) and its failed
    // sample is recorded NEGATED so the samples array is
    // self-describing.
    val names = SparkEntry.queries.keys.toSeq :+ JobEntry :+ LlmJobEntry
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val samples = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]]()
    names.foreach(n => samples(n) = scala.collection.mutable.ArrayBuffer[Double]())
    // Global-window hygiene: an empty-partition window is a
    // single-partition sort. Sweep every query's OPTIMIZED plan during
    // pass 1 (the frame is already built for timing — the sweep is a
    // driver-side tree walk, no extra jobs); any global window fails
    // the bench run AFTER the artifacts are written.
    val gwViolations = scala.collection.mutable.LinkedHashMap[String, Int]()
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (pass <- 1 to 3; name <- names if !errors.contains(name)) {
      val inspect =
        if (pass == 1 && !jobRunners.contains(name))
          Some((df: org.apache.spark.sql.DataFrame) => {
            val n = df.queryExecution.optimizedPlan.collect {
              case w: LWindow if w.partitionSpec.isEmpty => w
            }.length
            if (n > 0) gwViolations(name) = n
          })
        else None
      val (t, e) =
        if (jobRunners.contains(name)) runJobOnce(spark, sfDir, name)
        else runOnce(SparkEntry.queries(name), spark, sfDir, inspect)
      val ms = math.rint(t * 1000) / 1000
      samples(name) += (if (e.isDefined) -ms else ms)
      e.foreach(err => errors(name) = err)
    }
    val results: Seq[(String, Double)] = names.map { name =>
      val v =
        if (errors.contains(name)) -1.0
        else samples(name).toSeq.sorted.apply(1) // median of 3
      name -> v
    }
    def fmt(v: Double): String = { val r = math.rint(v * 100) / 100; if (r == r.toLong) r.toLong.toString else r.toString }
    // Inline errors are CAPPED (first 5 + count): a mass-failure run
    // (e.g. a wrong fixture path erroring all ~85 queries) would emit a
    // multi-KB errors object that pushes the line head out of the
    // harness's 2000-char stdout tail — reproducing the exact
    // `parsed: null` failure this line format exists to avoid, precisely
    // when the diagnostics matter most. The full map is in
    // bench_full.json.
    val esFull = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val es = errors.take(5).map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val ok = results.map(_._2).filter(_ >= 0)
    val total = if (ok.nonEmpty) ok.sum else 0.0
    // min-of-samples total: the contention-robust companion number.
    // Two of the last three driver benches landed in shared-box
    // contention windows where the MEDIAN absorbs one bad sample but
    // not two; the min column makes the artifact self-diagnosing
    // (total >> total_min ⇒ contention, total ≈ total_min ⇒ quiet) —
    // without opening bench_full.json's raw samples.
    val totalMin = names.collect {
      case n if !errors.contains(n) && samples(n).nonEmpty => samples(n).min
    }.sum

    // Full artifact: every query's median + all raw samples + errors.
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val ss = samples.map { case (k, v) => s"\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // Index-lifecycle stage decomposition (ann03d's work, stage-timed):
    // lets the reader split index-WRITE cost from query cost when
    // reading round-over-round trends.
    val lc = runLifecycle(spark, sfDir)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val gwv = gwViolations.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${fmt(total)},"total_min":${fmt(totalMin)},"unit":"sec","queries":$qsFull,"errors":$esFull,"samples":$ss,"lifecycle":$lc,"global_window_violations":$gwv,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (full + "\n").getBytes("UTF-8"))

    // Printed line: total over ALL queries, headline subset inline, so
    // the whole line survives a 2000-char stdout tail capture.
    val qsHead = results.filter { case (k, _) => headline.contains(k) }
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"total_min":${fmt(totalMin)},"unit":"sec","queries":$qsHead,"errors":$es,"n_errors":${errors.size},"n_queries":${results.size},"gw_violations":${gwViolations.size},"full":"bench_full.json","sf":"$sfDir"}""")
    spark.stop()
    // Red AFTER the artifacts are written: the numbers stay readable,
    // the run still fails loudly on a new single-partition window.
    if (gwViolations.nonEmpty) {
      System.err.println("BENCH GATE FAILED — empty-partition window in: " +
        gwViolations.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
