package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession configuration so the driver mains (Verify/Bench)
  * and tests agree on semantics-critical settings. */
object Sessions {
  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, least-recently-used, default
    * 100). One `TurnosJob.run` + `CorpusJob.run` pass compiles 388–423
    * distinct classes (a whole-stage source counts once per class
    * loader that compiles it, the driver's and the executor's), and
    * repeated passes settle at about 440 cache entries (adaptive
    * execution numbers and fuses some stages differently from run to
    * run). At the default the cache is flushed within every pass, so
    * each repeated pass recompiled 410–419 classes and spent 4.6–8.8 s
    * in Janino (perfbench `batch_jobs` input, 4-core VM); at 1,000 a
    * repeated pass compiles 0–25 classes. 1,000 covers the working set
    * with headroom for the ad-hoc queries a session runs next to the
    * jobs.
    *
    * The setting is static and read once per JVM, when the cache is
    * created (the first use of Spark's `CodeGenerator`), from the
    * configuration active then: the first session in a JVM fixes it, a
    * later builder cannot change it, and code generated before any
    * session exists leaves the default of 100. Executor JVMs of a
    * cluster deployment create their own cache from the configuration
    * a task carries; that they pick this value up is unverified (only
    * `local[N]` was measured, where driver and executors share one
    * cache). */
  private val CodegenCacheEntries = 1000

  /** Cores of the dev mains' `local[N]` session (Bench, ScaleCheck,
    * StreamBench, TimeQuery, ExplainQuery): `SPARK_GRAFT_CPUS`, else the
    * processors this JVM may use — the rule `tools/gate.py` applies. */
  def devCpus: String = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .getOrElse(Runtime.getRuntime.availableProcessors.toString)

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // saveAsTable targets (bucketed tables) land in tmp, not the cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // The `events` fixture stores ts as parquet TIMESTAMP(NANOS), which
      // Spark cannot represent natively (TimestampType is µs). Read the
      // raw int64 and convert in Tables.events via integer division.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The round-9 fixtures write every timestamp as TIMESTAMP_NTZ(µs)
      // (isAdjustedToUTC=false). Read those as plain TimestampType AT
      // THE SCAN (session TZ is UTC, so the instant is unchanged and
      // matches the DuckDB oracle's naive read): inferring
      // TimestampNTZType instead would (a) break functions that demand
      // TIMESTAMP (unix_micros & co.) and (b) force a cast above the
      // scan that kills timestamp predicate pushdown. Tables.load keeps
      // a cast-based fallback for sessions built without this config.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
}
