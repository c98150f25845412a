package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.EventOps

/** SURVEY EX-01..04 + EX-08 over the `events` fixture, with DuckDB
  * oracles. Window alignment note: Spark `window()` and the oracle's
  * `make_timestamp(epoch_us // N * N)` are both epoch-aligned, so the
  * buckets coincide exactly. */
object EventQueries {

  val all: Seq[Q] = Seq(

    Q("ex01_tumbling_window",
      (s, d) => EventOps.tumblingAgg(Tables.events(s, d), 5),
      Some("""SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS bucket_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
              FROM events GROUP BY 1, 2""")),

    Q("ex02_session_window",
      (s, d) => EventOps.sessionAgg(Tables.events(s, d), 10),
      Some("""WITH flagged AS (
                SELECT user_id, ts, event_id,
                       -- strict >: Spark session_window MERGES an event
                       -- exactly gap-after the previous one (closed
                       -- boundary — pinned empirically in EventOpsSpec).
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              ), sess AS (
                SELECT user_id, ts,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
              )
              SELECT user_id, min(ts) AS session_start,
                     max(ts) + INTERVAL 10 MINUTE AS session_end,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM sess GROUP BY user_id, sid""")),

    Q("ex03_dedup_keyed",
      (s, d) => EventOps.dedupKeyed(Tables.events(s, d), Seq("user_id", "event_type"))
        .select("user_id", "event_type", "event_id", "ts"),
      Some("""SELECT user_id, event_type, event_id, ts FROM (
                SELECT user_id, event_type, event_id, ts,
                       row_number() OVER (PARTITION BY user_id, event_type
                         ORDER BY ts ASC, event_id ASC) AS rn
                FROM events) t WHERE rn = 1""")),

    Q("ex04_distinct_exact",
      (s, d) => EventOps.distinctUsers(Tables.events(s, d)),
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events GROUP BY event_type""")),

    // HLL estimate, gated deterministically: the estimate itself is
    // estimator-internal (not cross-engine reproducible), so the query
    // emits the exact count plus a WITHIN-BAND boolean (|hll − exact|
    // ≤ 15% · exact, three times the rsd=5% sketch's standard error).
    // Both output columns are deterministic — the oracle asserts the
    // boolean TRUE, so an HLL drift past the band is a hash mismatch,
    // not an unchecked row count.
    Q("ex04_distinct_approx",
      (s, d) => EventOps.approxDistinctWithinBand(Tables.events(s, d)),
      Some("""SELECT event_type,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                     TRUE AS within_band
              FROM events GROUP BY event_type""")),

    // KMV bottom-k estimator — the ORACLE-CHECKABLE approximate
    // distinct (deterministic md5-derived hashes, identical estimate in
    // any engine).
    Q("ex04b_distinct_kmv",
      (s, d) => EventOps.kmvDistinctUsers(Tables.events(s, d), 64),
      Some("""WITH dh AS (SELECT DISTINCT event_type,
                CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE user_id IS NOT NULL),
bk AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       FROM dh),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(h) AS hk
        FROM bk WHERE rn <= 64 GROUP BY event_type)
SELECT event_type,
       CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
            ELSE round(63.0 * power(2.0, 60) / hk, 6) END AS est_users
FROM agg""")),

    // EX-01b: sliding windows (10 min window, 5 min slide — each event
    // lands in exactly two buckets).
    Q("ex06_sliding_window",
      (s, d) => EventOps.slidingAgg(Tables.events(s, d), 10, 5),
      Some("""SELECT make_timestamp(((epoch_us(ts) // 300000000) - k) * 300000000) AS bucket_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
              FROM events, (SELECT unnest(generate_series(0, 1)) AS k) ks
              GROUP BY 1, 2""")),

    // As-of join: each view matched to the user's latest click at-or-
    // before it (union + carry-forward window vs DuckDB's native ASOF).
    Q("ex05_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts", "value")
        EventOps.asofJoin(views, clicks, "user_id", "ts", Seq("value"), "click_")
      },
      Some("""WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
                   views AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
              SELECT v.event_id, v.user_id, v.ts, c.ts AS click_ts, c.value AS click_value
              FROM views v ASOF LEFT JOIN clicks c
                ON v.user_id = c.user_id AND v.ts >= c.ts""")),

    // Forward as-of join: each view matched to the NEXT click at or
    // after it — the "next event after" lookup; same one-shuffle
    // union+carry shape as ex05, scan direction reversed.
    Q("ex23_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "ts", "value")
        EventOps.asofJoinForward(views, clicks, "user_id", "ts", Seq("value"), "click_")
      },
      Some("""WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
                   views AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
              SELECT v.event_id, v.user_id, v.ts, c.ts AS click_ts, c.value AS click_value
              FROM views v ASOF LEFT JOIN clicks c
                ON v.user_id = c.user_id AND v.ts <= c.ts""")),

    // Interval join: each event matched to its containing session
    // (binned equi-join vs the oracle's plain non-equi BETWEEN join).
    Q("ex10_interval_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val sessions = EventOps.sessionAgg(ev, 10)
        EventOps.intervalJoinBinned(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          sessions.select(col("user_id"), col("session_start"), col("session_end")),
          "user_id", "ts", "session_start", "session_end", 10)
          .select(col("event_id"), col("user_id"), col("session_start"),
            col("session_end"))
      },
      Some("""WITH flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              ), sess AS (
                SELECT user_id, ts,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
              ), sessions AS (
                SELECT user_id, min(ts) AS session_start,
                       max(ts) + INTERVAL 10 MINUTE AS session_end
                FROM sess GROUP BY user_id, sid
              )
              SELECT e.event_id, e.user_id, s.session_start, s.session_end
              FROM events e JOIN sessions s
                ON e.user_id = s.user_id
               AND e.ts >= s.session_start AND e.ts < s.session_end""")),

    // Exact percentiles of value per event type (continuous
    // interpolation — Spark `percentile` ≡ DuckDB `quantile_cont`).
    Q("ex09_percentiles",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(expr("percentile(value, 0.99)"), 6).as("p99")),
      Some("""SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               round(quantile_cont(value, 0.99), 6) AS p99
              FROM events GROUP BY event_type""")),

    // File-level data skipping: events are range-clustered by user_id
    // into a parquet lake table with a per-file min/max stats manifest;
    // the selective read prunes files against the manifest BEFORE the
    // scan (LakeSpec gates the file counts), then re-applies the exact
    // predicate — so the result must equal the oracle's plain full-scan
    // filter. The build (writeClustered) runs inside the query like
    // ann03b's stored-corpus build.
    Q("lake01_stats_skipping",
      (s, d) => {
        import graft.sinks.Lake
        val path = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_lake_events_${new java.io.File(d).getName}").getAbsolutePath
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        Lake.writeClustered(ev, path, Seq(col("user_id")), Seq("user_id"))
        Lake.readPruned(s, path, "user_id", 10, 20)
          .filter(col("user_id").between(10, 20))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("total"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
              FROM events WHERE user_id BETWEEN 10 AND 20 GROUP BY event_type""")),

    // Per-file BLOOM skipping: point lookup on event_id — a column
    // uncorrelated with the user_id clustering, where min/max stats
    // can't skip anything. The bloom manifest keeps only files whose
    // filter might contain the key (LakeSpec gates the counts); exact
    // equality re-applies on top, so the result equals the oracle's
    // full-scan lookup.
    Q("lake03_bloom_skipping",
      (s, d) => {
        import graft.sinks.Lake
        val path = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_lake_bloom_${new java.io.File(d).getName}").getAbsolutePath
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        Lake.writeClustered(ev, path, Seq(col("user_id")), Seq("user_id"),
          bloomCols = Seq("event_id"))
        Lake.readPrunedEq(s, path, "event_id", 777L)
          .filter(col("event_id") === 777L)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      },
      Some("""SELECT event_id, user_id, event_type, value
              FROM events WHERE event_id = 777""")),

    // Time travel over the stage-and-swap lake: publish a customer
    // snapshot as v1, publish a CDC-style corrected snapshot as v2
    // (the atomic flip makes v2 current), then read BOTH — v1 pinned
    // by version, v2 through _CURRENT — and emit per-version
    // aggregates. Green means the retained old version is byte-stable
    // after the flip (readers pinned to it reproduce yesterday's
    // numbers exactly) while _CURRENT serves the new one; at 100 TB a
    // pinned read is the same parquet scan resolved through a pinned
    // directory, so reproducibility costs nothing.
    Q("lake04_time_travel",
      (s, d) => {
        import graft.sinks.Publish
        val root = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_lake_tt_${new java.io.File(d).getName}").getAbsolutePath
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val corrected = c.withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(col("c_acctbal")))
        Publish.publishTables(s, Map("customer" -> c), root, "000000001")
        Publish.publishTables(s, Map("customer" -> corrected), root, "000000002")
        def agg(df: org.apache.spark.sql.DataFrame, v: String) =
          df.agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
              .as("total"))
            .select(lit(v).as("version"), col("n"), col("total"))
        agg(Publish.readTableAt(s, root, "customer", "000000001"), "v1")
          .unionByName(agg(Publish.readTable(s, root, "customer"), "v2"))
      },
      Some("""SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
              FROM customer
              UNION ALL
              SELECT 'v2', CAST(count(*) AS BIGINT),
               round(CAST(sum(CAST(
                 CASE WHEN c_custkey % 7 = 0 THEN round(c_acctbal + 100, 2)
                      ELSE c_acctbal END AS DECIMAL(18,2))) AS DOUBLE), 2)
              FROM customer""")),

    // Version reconciliation diff: publish a snapshot, publish a CDC'd
    // successor (updates on %7, deletes on %11, inserts on %13 — the
    // op39 change shapes), then ask the lake "what did that publish
    // change": one full-outer join on the key + null-safe value
    // compare, presence tracked by marker columns (never value
    // nullness), output DELTA-sized — the audit read behind CDC
    // verification and incremental-consumer catch-up. A key that is
    // both %7 and %11 must report deleted, not updated (delete wins in
    // the v2 construction; the oracle mirrors the precedence).
    Q("lake05_version_diff",
      (s, d) => {
        import graft.sinks.Publish
        val root = new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft_lake_vd_${new java.io.File(d).getName}").getAbsolutePath
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val v2 = c.filter(col("c_custkey") % 11 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 7 === 0, round(col("c_acctbal") + 100, 2))
              .otherwise(col("c_acctbal")))
          .unionByName(c.filter(col("c_custkey") % 13 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
        Publish.publishTables(s, Map("customer" -> c), root, "000000001")
        Publish.publishTables(s, Map("customer" -> v2), root, "000000002")
        Publish.versionDiff(s, root, "customer", Seq("c_custkey"),
          "000000001", "000000002")
      },
      Some("""SELECT c_custkey, 'deleted' AS change_type
              FROM customer WHERE c_custkey % 11 = 0
              UNION ALL
              SELECT c_custkey, 'updated'
              FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
              UNION ALL
              SELECT c_custkey + 1000000, 'inserted'
              FROM customer WHERE c_custkey % 13 = 0""")),

    // Interval-frame rolling window: per-user trailing-1-hour event
    // count and decimal-exact value sum at every event (RANGE frame on
    // the epoch-seconds order key, so co-timed events share a frame
    // identically in both engines).
    Q("ex16_rolling_window",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(expr("unix_micros(ts) DIV 1000000"))
          .rangeBetween(-3600, 0)
        Tables.events(s, d).select(
          col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double"), 2).as("total_1h"))
      },
      Some("""SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) AS total_1h
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")),

    // Z-order (Morton) clustering value: bit-interleave of (user_id,
    // floor(value)) — the multi-dimensional layout key behind
    // lake-table OPTIMIZE ZORDER BY. Pure codegen arithmetic; the
    // oracle recomputes the same interleave from the same shared
    // constant (11 bits/dimension).
    Q("lake02_zorder_value",
      (s, d) => {
        import graft.sinks.Lake
        val vb = floor(col("value")).cast("long")
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), vb.as("vb"),
          Lake.zorderValue(col("user_id"), vb, 11).as("z"))
      },
      Some {
        val zSql = (0 until 11).map(i =>
          s"((user_id >> $i) & 1) * ${1L << (2 * i)} + " +
            s"((vb >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
        s"""SELECT event_id, user_id, vb, CAST($zSql AS BIGINT) AS z
            FROM (SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS vb,
                         value FROM events) t"""
      }),

    // Incremental aggregate maintenance: the rollup over ~90% of events
    // (the "published" state) is updated from the remaining ~10% (the
    // delta) by MERGING partial-agg states — the base facts are never
    // rescanned. The oracle recomputes from all facts: merge(state(base),
    // state(delta)) must equal state(base ∪ delta) exactly.
    Q("ex13_incremental_rollup",
      (s, d) => {
        import graft.operators.IncrementalRollup
        val ev = Tables.events(s, d)
        val keys = Seq("event_type", "user_id")
        val base = IncrementalRollup.state(
          ev.filter(col("event_id") % 10 =!= 0), keys, "value")
        val delta = IncrementalRollup.state(
          ev.filter(col("event_id") % 10 === 0), keys, "value")
        IncrementalRollup.finalize(IncrementalRollup.merge(base, delta, keys), keys)
      },
      Some("""SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
               min(value) AS mn, max(value) AS mx,
               CAST((CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) * 100)
                    // count(*) AS DOUBLE) / 10000 AS avg_v
              FROM events GROUP BY event_type, user_id""")),

    // Time-series gap filling: per-user hourly rollup densified over
    // each user's [first, last] hour — missing hours appear with
    // n=0/total=0. Oracle builds the same grid with generate_series.
    Q("ex14_gap_fill",
      (s, d) => EventOps.gapFillHourly(Tables.events(s, d), "user_id", "ts", "value"),
      Some("""WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(value AS DECIMAL(18,2))) AS s
        FROM events GROUP BY 1, 2),
      spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
      grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
               FROM spans)
      SELECT g.user_id, g.h,
             coalesce(hh.n, 0) AS n,
             round(CAST(coalesce(hh.s, 0) AS DOUBLE), 2) AS total
      FROM grid g LEFT JOIN hourly hh ON hh.user_id = g.user_id AND hh.h = g.h""")),

    // Ordered funnel view → click → purchase: stage i+1 counts only
    // events strictly after the user's stage-i time. One row per user,
    // nullable stage times.
    Q("ex15_funnel",
      (s, d) => EventOps.funnel(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase")),
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
      s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s1 ON s1.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3
             FROM events e JOIN s2 ON s2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      SELECT u.user_id, s1.t1, s2.t2, s3.t3
      FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
             LEFT JOIN s2 ON s2.user_id = u.user_id
             LEFT JOIN s3 ON s3.user_id = u.user_id""")),

    // Event-sequence regex over per-user streams — MATCH_RECOGNIZE
    // semantics (ex15's funnel is the `v.*c.*p` special case; this one
    // counts DIRECT view→purchase conversions, no intervening view or
    // purchase). One char per event (type initials are distinct in the
    // fixture), one groupBy-keyed hash agg, regex codegen'd per user.
    // The quantified class [ces] excludes both boundary chars, so Java
    // and RE2 produce identical non-overlapping matches (see
    // EventOps.sequencePattern's determinism contract).
    // maxSeqLen = 100000 is the cap-and-flag whale guard: entities
    // above it report (true event count, n_matches = NULL, capped) and
    // never build a collect_list buffer. No fixture entity is near it
    // (≤ ~700 events/user at sf0.1), so the capped branch is exercised
    // by the oracle's UNION arm being provably empty at gate SFs and
    // red-tested in EventOpsSpec with a tiny cap.
    Q("ex25_event_pattern",
      (s, d) => EventOps.sequencePattern(Tables.events(s, d),
        "user_id", "ts", "event_id",
        substring(col("event_type"), 1, 1), "v[ces]*p", maxSeqLen = 100000),
      Some("""WITH cnt AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1),
              seq AS (
                SELECT e.user_id,
                       string_agg(substr(e.event_type, 1, 1), ''
                         ORDER BY e.ts, e.event_id) AS s
                FROM events e JOIN cnt USING (user_id)
                WHERE cnt.n <= 100000 GROUP BY 1)
              SELECT user_id, CAST(length(s) AS BIGINT) AS seq_len,
                     CAST(len(regexp_extract_all(s, 'v[ces]*p')) AS BIGINT) AS n_matches,
                     FALSE AS capped
              FROM seq
              UNION ALL
              SELECT user_id, n, CAST(NULL AS BIGINT), TRUE
              FROM cnt WHERE n > 100000""")),

    // OHLC bars: min_by/max_by on a (ts, event_id) struct key pick
    // open/close exactly (unique id ⇒ no ties) — five scalars of agg
    // state per bar, no window, no per-group sort. Oracle: DuckDB
    // ordered-aggregate first()/last().
    Q("ex26_ohlc_bars",
      (s, d) => EventOps.ohlcBars(Tables.events(s, d), 15),
      Some("""SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bucket_start,
                     event_type,
                     first(value ORDER BY ts, event_id) AS open,
                     max(value) AS high,
                     min(value) AS low,
                     last(value ORDER BY ts, event_id) AS close,
                     CAST(count(*) AS BIGINT) AS n,
                     round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
              FROM events GROUP BY 1, 2""")),

    // First-order Markov transition matrix over per-user streams: the
    // next-event behavioral model. lead() partitions by the
    // high-cardinality user key; per-state normalization joins the
    // states²-sized count table — exact integer ratios, rounded 6.
    Q("ex27_transition_matrix",
      (s, d) => EventOps.transitionMatrix(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type"),
      Some("""WITH pr AS (
                SELECT user_id, event_type AS from_type,
                       lead(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS to_type
                FROM events),
              cnt AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
                      FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
              tot AS (SELECT from_type, sum(n) AS t FROM cnt GROUP BY 1)
              SELECT c.from_type, c.to_type, c.n,
                     round(CAST(c.n AS DOUBLE) / t.t, 6) AS p
              FROM cnt c JOIN tot t USING (from_type)""")),

    // Robust outlier gate: per-type median/MAD flags events whose
    // absolute deviation exceeds 4 MADs — the heavy-tail-safe quality
    // filter (mean/stddev masks under contamination).
    Q("dq03_mad_outliers",
      (s, d) => graft.operators.Quality.madOutliers(
          Tables.events(s, d), "event_type", "value", 4.0)
        .select(col("event_id"), col("event_type"), col("value")),
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
                FROM events GROUP BY 1),
      dev AS (SELECT e.event_id, e.event_type, e.value, abs(e.value - m.m) AS d
              FROM events e JOIN med m USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1)
      SELECT d.event_id, d.event_type, d.value
      FROM dev d JOIN mad m USING (event_type)
      WHERE m.mad > 0 AND round(d.d / m.mad, 6) > 4.0""")),

    // EWMA control chart (SPC / NIST §6.3.2.4) over per-type DAILY
    // ingest counts — the volume-drift monitor a pipeline runs on its
    // own feed. One fact-scale shuffle (the daily rollup, map-side
    // combinable); the EWMA then runs as the RECURRENCE — a sequential
    // fold over the per-group day-ordered series (calendar-bounded
    // arrays, never fact-scale) — and σ comes from exact integer
    // Σx/Σx² sums. Round-17 rewrite: the old closed-form triangular
    // join summed floats in nondeterministic order (and stddev_pop
    // likewise), which flipped a round-6 boundary once in a
    // full-registry sweep; a pinned IEEE op sequence on both sides
    // needs no rounding luck. Emits the smoothed level and the
    // deviation in group-σ units; callers alarm at their control
    // limit.
    Q("dq10_ewma_control",
      (s, d) => graft.operators.Quality.ewmaControl(
        Tables.events(s, d), "event_type", "ts", 0.3),
      Some("""WITH daily AS (SELECT event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
idx AS (SELECT event_type, day, x,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY day ASC) AS BIGINT) AS t
        FROM daily),
sg AS (SELECT event_type,
              CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
              CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sq,
              CAST(count(*) AS DOUBLE) AS n
       FROM idx GROUP BY 1),
sig AS (SELECT event_type,
               sqrt(greatest(0, sq / n - (sx / n) * (sx / n))) AS sigma
        FROM sg),
ser AS (SELECT event_type, list(CAST(x AS DOUBLE) ORDER BY t) AS xs
        FROM idx GROUP BY 1),
ew AS (SELECT i.event_type, i.day, i.x,
              list_reduce(list_concat([xs[1]], xs[2:CAST(i.t AS INTEGER)]),
                          (acc, v) -> 0.3 * v + 0.7 * acc) AS ewma
       FROM idx i JOIN ser USING (event_type))
SELECT e.event_type, e.day, e.x AS x, round(e.ewma, 6) AS ewma,
       round(CASE WHEN s.sigma > 0 THEN abs(e.x - e.ewma) / s.sigma
                  ELSE 0 END, 6) AS dev_sigma
FROM ew e JOIN sig s USING (event_type)""")),

    // ANSI rank-function family: percent_rank / cume_dist / ntile over
    // a pinned per-type total order (value, event_id tiebreak). One
    // window partitioned by type — one shuffle, sorts local per group.
    // Scale note: partitionBy on a LOW-cardinality key concentrates
    // each group's sort in one task; at extreme per-group volume use
    // Dedup.groupedRank (range-partition within group + offsets) to
    // distribute the rank.
    Q("ex17_rank_metrics",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").asc, col("event_id").asc)
        Tables.events(s, d).select(
          col("event_id"), col("event_type"), col("value"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
      },
      Some("""SELECT event_id, event_type, value,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)""")),

    // Cohort retention: users cohorted by first-seen week; each
    // (cohort, weeks-since) cell counts the cohort's users active that
    // week, plus the retention ratio. Two user_id shuffles feed the
    // cell agg (first-seen and distinct-activity share the user_id
    // partitioning); the cohort-size join is weeks-cardinality — AQE
    // broadcasts it. date_trunc('week') is Monday-epoch in both
    // engines; offsets are exact day-multiples of 7, so the divide is
    // integral.
    Q("ex18_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cohort = ev.groupBy(col("user_id"))
          .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
        val act = ev.select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("act_week")).distinct()
        val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_n"))
        act.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_week"),
            (datediff(col("act_week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .join(sizes, Seq("cohort_week"))
          .select(col("cohort_week"), col("week_offset"), col("n_users"),
            round(col("n_users") / col("cohort_n"), 6).as("retention"))
      },
      Some("""WITH cohort AS (
                SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                FROM events GROUP BY 1),
              act AS (
                SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
                FROM events),
              sizes AS (
                SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n
                FROM cohort GROUP BY 1),
              ret AS (
                SELECT c.cohort_week,
                       CAST(date_diff('day', c.cohort_week, a.act_week) // 7 AS BIGINT) AS week_offset,
                       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
                FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2)
              SELECT r.cohort_week, r.week_offset, r.n_users,
                     round(r.n_users / CAST(s.cohort_n AS DOUBLE), 6) AS retention
              FROM ret r JOIN sizes s USING (cohort_week)""")),

    // Histogram quantile sketch (p50/p95/p99 per event type, bin=5.0):
    // the bounded-state sibling of ex09's exact percentiles — the
    // sketch never holds more than range/binWidth longs per group, so
    // it survives any group size; the answer is within one binWidth of
    // exact (EventOpsSpec pins the bound against ex09's method).
    Q("ex19_histogram_quantiles",
      (s, d) => EventOps.histogramQuantiles(
        Tables.events(s, d), "event_type", "value", 5.0, Seq(0.5, 0.95, 0.99)),
      Some("""WITH b AS (
                SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1, 2),
              c AS (
                SELECT event_type, bin, cnt,
                       sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                       sum(cnt) OVER (PARTITION BY event_type) AS n
                FROM b),
              qs AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q)
              SELECT event_type, q,
                     round((min(bin) + 1) * CAST(5.0 AS DOUBLE), 6) AS quantile_est
              FROM c, qs
              WHERE cum >= ceil(q * n)
              GROUP BY event_type, q""")),

    // Range-FREE quantile sketch (QuantileBottomK): bottom-k row-id-
    // hash sampling carrying values — mergeable bounded state like the
    // KMV family, no bin width / value range to configure (ex19's
    // histogram needs one). Deterministic md5-pinned sample ⇒ the
    // "approximate" structure is bitwise reproducible in DuckDB; k=256
    // is well under the per-type row count at sf0.01+, so the sampled
    // estimator path (not the exact small-group path) is what the
    // oracle gates.
    Q("ex19b_quantile_sketch",
      (s, d) => EventOps.quantileSketch(
        Tables.events(s, d), "event_type", "event_id", "value",
        Seq(0.25, 0.5, 0.75, 0.95), 256),
      Some("""WITH h AS (
                SELECT event_type, value,
                       CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM events WHERE value IS NOT NULL),
              s AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h, value) AS rh
                FROM h),
              samp AS (SELECT event_type, value FROM s WHERE rh <= 256),
              m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m
                    FROM samp GROUP BY 1),
              rv AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS rv
                FROM samp),
              qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q)
              SELECT rv.event_type, qs.q, round(rv.value, 6) AS quantile_est,
                     m.m AS n_sample
              FROM rv JOIN m USING (event_type), qs
              WHERE rv.rv = greatest(1, CAST(ceil(qs.q * m.m) AS BIGINT))""")),

    // Equi-depth binning at the sketch quartiles — the
    // QuantileDiscretizer / feature-bucketizer primitive (fixed bucket
    // POPULATIONS, vs ex19/dq05's fixed widths). Thresholds from the
    // bounded bottom-256 sketch, pivoted + broadcast back; bucket
    // assignment is a codegen'd CASE chain.
    Q("ex28_equidepth_bins",
      (s, d) => graft.operators.Quality.equidepthBins(
        Tables.events(s, d), "event_type", "event_id", "value",
        Seq(0.25, 0.5, 0.75), 256),
      Some("""WITH h AS (
                SELECT event_type, value,
                       CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM events WHERE value IS NOT NULL),
              s AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h, value) AS rh
                FROM h),
              samp AS (SELECT event_type, value FROM s WHERE rh <= 256),
              m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m
                    FROM samp GROUP BY 1),
              rv AS (
                SELECT event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value) AS rv
                FROM samp),
              qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS q),
              th0 AS (SELECT rv.event_type, qs.q, round(rv.value, 6) AS t
                      FROM rv JOIN m USING (event_type), qs
                      WHERE rv.rv = greatest(1, CAST(ceil(qs.q * m.m) AS BIGINT))),
              th AS (SELECT event_type,
                            max(CASE WHEN q = 0.25 THEN t END) AS t0,
                            max(CASE WHEN q = 0.5  THEN t END) AS t1,
                            max(CASE WHEN q = 0.75 THEN t END) AS t2
                     FROM th0 GROUP BY 1),
              b AS (SELECT e.event_type,
                           CASE WHEN e.value <= th.t0 THEN 0
                                WHEN e.value <= th.t1 THEN 1
                                WHEN e.value <= th.t2 THEN 2
                                ELSE 3 END AS bucket,
                           e.value
                    FROM events e JOIN th USING (event_type)
                    WHERE e.value IS NOT NULL)
              SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
                     CAST(count(*) AS BIGINT) AS n,
                     min(value) AS lo, max(value) AS hi
              FROM b GROUP BY 1, 2""")),

    // KS drift between the same two halves — the distribution-FREE
    // sibling of dq05 (PSI needs a bin width; KS is rank-based): both
    // halves sketched with the bounded bottom-256 row sample, sup
    // |F̂₁−F̂₂| over the union of sample points. Exact integer-ratio
    // CDFs ⇒ bitwise cross-engine agreement on an "approximate" stat.
    Q("dq07_ks_drift",
      (s, d) => graft.operators.Quality.ksDrift(
        Tables.events(s, d), "event_type", "event_id", "value",
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")), 256),
      Some("""WITH h AS (
                SELECT event_type, CAST(value AS DOUBLE) AS v,
                       CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
                       (ts < TIMESTAMP '2024-01-16 00:00:00') AS base
                FROM events WHERE value IS NOT NULL),
              s AS (
                SELECT event_type, v, base,
                       row_number() OVER (PARTITION BY event_type, base
                                          ORDER BY h, v) AS rh
                FROM h),
              samp AS (SELECT event_type, v, base FROM s WHERE rh <= 256),
              ms AS (SELECT event_type,
                            CAST(count(CASE WHEN base THEN 1 END) AS DOUBLE) AS ma,
                            CAST(count(CASE WHEN NOT base THEN 1 END) AS DOUBLE) AS mb
                     FROM samp GROUP BY 1),
              pts AS (SELECT DISTINCT event_type, v AS x FROM samp),
              cdf AS (SELECT p.event_type, p.x,
                             CAST(count(CASE WHEN sa.base AND sa.v <= p.x THEN 1 END) AS DOUBLE) AS ca,
                             CAST(count(CASE WHEN (NOT sa.base) AND sa.v <= p.x THEN 1 END) AS DOUBLE) AS cb
                      FROM pts p JOIN samp sa USING (event_type)
                      GROUP BY 1, 2)
              SELECT c.event_type, CAST(ms.ma AS BIGINT) AS n_base,
                     CAST(ms.mb AS BIGINT) AS n_cur,
                     round(max(abs(c.ca / ms.ma - c.cb / ms.mb)), 6) AS ks
              FROM cdf c JOIN ms USING (event_type)
              WHERE ms.ma > 0 AND ms.mb > 0
              GROUP BY 1, 2, 3""")),

    // Benford first-digit conformance per source — the classic
    // synthetic/fabricated-data detector: natural size-like quantities
    // (here document lengths) follow log10(1+1/d) first-digit
    // frequencies; template-stamped or generated data does not. χ²
    // with never-produced digits folded in closed form (no
    // group×digit densification join); digits come from the decimal
    // STRING (libm log10 is not correctly rounded at powers of ten);
    // expectations are shared 9-decimal literals from ONE Scala
    // definition.
    Q("dq08_benford",
      (s, d) => graft.operators.Quality.benford(
        Tables.documents(s, d), "source", "n_chars"),
      Some({
        val values = graft.operators.Quality.benfordExpected
          .map { case (dgt, p) => s"($dgt, $p)" }.mkString(", ")
        val ptot = graft.operators.Quality.benfordTotal
        s"""WITH obs AS (SELECT source,
                CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                CAST(count(*) AS BIGINT) AS c
              FROM documents WHERE n_chars > 0 GROUP BY 1, 2),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM obs GROUP BY 1),
expd AS (SELECT * FROM (VALUES $values) AS t(digit, p_exp)),
terms AS (SELECT o.source, t.n,
                 (CAST(o.c AS DOUBLE) / t.n - e.p_exp) *
                 (CAST(o.c AS DOUBLE) / t.n - e.p_exp) / e.p_exp - e.p_exp AS tt
          FROM obs o
          JOIN tot t ON t.source = o.source
          JOIN expd e ON e.digit = o.digit)
SELECT source, max(n) AS n_pos, round((sum(tt) + $ptot) * max(n), 6) AS chi2
FROM terms GROUP BY source"""
      })),

    // Distribution-drift gate (PSI) between the first and second half
    // of the month, per event type — the fixture's value distribution
    // is stationary, so PSI lands near 0 (the interesting check is
    // that both engines agree bit-for-bit on the smoothed formula; the
    // drift-detection spec injects a real shift).
    Q("dq05_drift_psi",
      (s, d) => graft.operators.Quality.psiDrift(
        Tables.events(s, d), "event_type", "value",
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")), 25.0),
      Some("""WITH b AS (
                SELECT event_type,
                       CAST(floor(value / 25.0) AS BIGINT) AS bin,
                       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS bc,
                       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END) AS BIGINT) AS cc
                FROM events GROUP BY 1, 2),
              t AS (
                SELECT event_type, CAST(sum(bc) AS BIGINT) AS tb,
                       CAST(sum(cc) AS BIGINT) AS tc,
                       CAST(count(*) AS BIGINT) AS nbins
                FROM b GROUP BY 1),
              sh AS (
                SELECT b.event_type,
                       (bc + CAST(0.5 AS DOUBLE)) / (tb + CAST(0.5 AS DOUBLE) * nbins) AS p,
                       (cc + CAST(0.5 AS DOUBLE)) / (tc + CAST(0.5 AS DOUBLE) * nbins) AS q
                FROM b JOIN t USING (event_type))
              SELECT event_type, round(sum((p - q) * ln(p / q)), 6) AS psi
              FROM sh GROUP BY event_type""")),

    Q("ex08_json_extract",
      (s, d) => EventOps.jsonExtractAgg(Tables.events(s, d)),
      // TRY_CAST + count of the casted value so both engines count only
      // successfully-parsed numerics (Spark's cast('long') is non-strict).
      Some("""SELECT event_type,
               CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k
              FROM events GROUP BY event_type""")),

    // ANSI lead/lag over the per-user event sequence: inter-event gap
    // (µs — exact integers, no float formatting hazard) plus the
    // neighboring event types. ONE window shuffle keyed by user_id
    // (high-cardinality — parallel at any scale; the per-user frame is
    // bounded by that user's history, the classic sessionization shape).
    Q("ex20_lead_lag",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d).select(
          col("user_id"), col("event_id"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
            .as("gap_us"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
      },
      Some("""SELECT user_id, event_id,
               epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
               lag(event_type, 1) OVER w AS prev_type,
               lead(event_type, 1) OVER w AS next_type
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""")),

    // ANSI first_value / last_value / nth_value over the full per-user
    // frame (unbounded both ways — last_value needs the explicit frame
    // or it degenerates to "current row" in both engines). Same single
    // user-keyed window shuffle as ex20.
    Q("ex21_first_last_window",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d).select(
          col("user_id"), col("event_id"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"),
          nth_value(col("event_type"), 2).over(w).as("second_type"))
      },
      Some("""SELECT user_id, event_id,
               first_value(event_type) OVER w AS first_type,
               last_value(event_type) OVER w AS last_type,
               nth_value(event_type, 2) OVER w AS second_type
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),

    // ANSI distribution windows — ntile / percent_rank / cume_dist over
    // the per-type value ranking. The ORDER BY is total (value then
    // event_id) so every rank function is deterministic; one window
    // shuffle keyed by event_type. NOTE the key is low-cardinality —
    // fine for a per-category ranking report, but a 100 TB percentile
    // over few types should use ex19's fixed-width histogram quantiles
    // (or ex09's approx_percentile) instead of an exact window sort.
    // percent_rank/cume_dist are exact
    // rationals evaluated identically by both engines (k/(n-1), k/n on
    // the same integer ranks), so the doubles hash-match at 1e-9.
    Q("ex22_ntile_dist",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").asc, col("event_id").asc)
        Tables.events(s, d).select(
          col("event_id"), col("event_type"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 9).as("pct_rank"),
          round(cume_dist().over(w), 9).as("cume"))
      },
      Some("""SELECT event_id, event_type,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               round(percent_rank() OVER w, 9) AS pct_rank,
               round(cume_dist() OVER w, 9) AS cume
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)""")),

    // ANSI rank vs dense_rank vs row_number on a TIED order (value
    // rounded to integers so ties are guaranteed): the three tie
    // semantics side by side — gaps after ties (rank), no gaps
    // (dense_rank), arbitrary-but-pinned total order (row_number with
    // the event_id tiebreak). One user-keyed window shuffle.
    Q("ex24_rank_ties",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tied = Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            floor(col("value")).cast("long").as("v"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("v").asc)
        val wTotal = Window.partitionBy(col("user_id"))
          .orderBy(col("v").asc, col("event_id").asc)
        tied.select(col("event_id"), col("user_id"), col("v"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          row_number().over(wTotal).as("rn"))
      },
      Some("""SELECT event_id, user_id, v,
               CAST(rank() OVER w AS INTEGER) AS rnk,
               CAST(dense_rank() OVER w AS INTEGER) AS drnk,
               CAST(row_number() OVER wt AS INTEGER) AS rn
              FROM (SELECT event_id, user_id,
                           CAST(floor(value) AS BIGINT) AS v FROM events) t
              WINDOW w AS (PARTITION BY user_id ORDER BY v ASC),
                     wt AS (PARTITION BY user_id ORDER BY v ASC, event_id ASC)""")),

    // Schema-evolution read: the lake's oldest files predate a column
    // (ingest batches written before c_mktsegment existed), the newest
    // carry it — ONE mergeSchema scan serves the union schema with
    // NULL for pre-evolution rows, no rewrite of the old 100 TB. The
    // oracle derives the same nullability from the batch-membership
    // rule, so a merge that dropped, reordered, or backfilled the
    // column fails the hash. (Evolution here is strictly ADDITIVE —
    // the safe kind; type changes still need a rewrite.)
    Q("lake06_schema_evolution",
      (s, d) => {
        val root = graft.Scratch.dir("lake_se", d)
        val c = Tables.customer(s, d)
        c.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_acctbal"))
          .write.mode("overwrite").parquet(root)
        c.filter(col("c_custkey") % 2 === 1)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
          .write.mode("append").parquet(root)
        s.read.option("mergeSchema", "true").parquet(root)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
              .as("total"))
      },
      Some("""SELECT CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS segment,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
              FROM customer GROUP BY 1""")),

    // Last-touch conversion attribution: each purchase credited to the
    // latest view/click of the same user within a 7-day lookback, else
    // 'direct' — the channel-revenue read every event pipeline serves.
    // Engine: EventOps.attributeLastTouch (ONE user-keyed asof window,
    // never a per-key range join); oracle: DuckDB's native ASOF LEFT
    // JOIN with the same post-match lookback predicate. Simultaneous
    // touches collapse by max event_id on BOTH sides (max_by), so the
    // tie is pinned, not engine-dependent.
    Q("ex29_attribution",
      (s, d) => EventOps.attributeLastTouch(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type",
          Seq("view", "click"), "purchase", lookbackDays = 7)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("revenue")),
      Some("""WITH conv AS (
                SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'purchase'),
              tch AS (
                SELECT user_id, ts, max_by(event_type, event_id) AS channel
                FROM events WHERE event_type IN ('view', 'click')
                GROUP BY 1, 2),
              att AS (
                SELECT c.value,
                       CASE WHEN t.ts IS NOT NULL
                                 AND t.ts >= c.ts - INTERVAL 7 DAY
                            THEN t.channel ELSE 'direct' END AS channel
                FROM conv c ASOF LEFT JOIN tch t
                  ON c.user_id = t.user_id AND t.ts <= c.ts)
              SELECT channel, CAST(count(*) AS BIGINT) AS n,
                     round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                       AS revenue
              FROM att GROUP BY channel""")),
  )
}
