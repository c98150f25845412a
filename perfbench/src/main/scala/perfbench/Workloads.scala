package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Similarity
import graft.sinks.Publish

/** What one run of a workload needs from the driver loop. */
final class Ctx(val spark: SparkSession, val spans: Spans, val in: String,
                val out: String) {
  /** True while the traced part of a traced run is under way. */
  @volatile var tracing = false
  def read(table: String): DataFrame = spark.read.parquet(s"$in/$table.parquet")
}

/** A workload: a set-up that makes the first timed operation warm, and
  * one closed-loop operation over the seeded input the runner generated
  * (perfbench/gen.py). Every call into the engine goes through a span
  * named `<module>.<what>`. */
trait Workload {
  def name: String
  /** Set-up work on the workload's own operations (timed as set-up). */
  def warmUp(c: Ctx): Unit
  /** One closed-loop operation; `i` numbers operations from 1. */
  def op(c: Ctx, i: Int): Unit
  /** Untimed housekeeping between operations. */
  def between(c: Ctx): Unit = ()
  /** Work after the loop, in traced runs only: per-layer figures. */
  def finish(c: Ctx, ops: Int): Unit = ()
  /** Bytes on disk of what the operation publishes. */
  def outputBytes(c: Ctx): Long
  /** In-JVM output checks; failures are messages. */
  def check(c: Ctx, ops: Int): Seq[String]
  /** DuckDB oracle checks handed to the runner: (name, published table
    * directory, registry query whose oracle SQL must match it). */
  def oracleChecks(c: Ctx): Seq[(String, String, String)] = Nil
  /** Names of the per-layer figures the workload measures itself; every
    * traced run reports all workloads' names, 0 where not measured. */
  def extraNames: Seq[String] = Nil
  def extra(c: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(BatchJobs, AnnIndex)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filterNot(_.getName.startsWith("."))
      .map(k => dirBytes(k.getPath)).sum
  }

  def dataFiles(path: String): Int = {
    val f = new java.io.File(path)
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(k => dataFiles(k.getPath)).sum
  }

  def version(i: Int): String = f"$i%06d"
}

/** One production job that publishes a new version per run under its
  * own root through `sinks.Publish`; the previous version is vacuumed
  * between operations (untimed). */
final class PublishingJob(name: String, span: String, oracles: Seq[(String, String)],
                          job: (SparkSession, String, String, String) => Unit) {
  private def root(c: Ctx) = s"${c.out}/$name"
  def current(c: Ctx): String =
    s"${root(c)}/${Publish.currentVersion(c.spark, root(c)).getOrElse("none")}"

  def run(c: Ctx, i: Int): Unit =
    c.spans(span)(job(c.spark, c.in, root(c), Workloads.version(i)))
  def vacuum(c: Ctx): Unit = Publish.vacuum(c.spark, root(c), keepLast = 0)

  /** `_CURRENT` names the last operation's version. */
  def check(c: Ctx, ops: Int): Option[String] = {
    val want = Some(s"v-${Workloads.version(ops)}")
    val got = Publish.currentVersion(c.spark, root(c))
    if (got == want) None else Some(s"$name: _CURRENT names $got, expected $want")
  }

  def oracleChecks(c: Ctx): Seq[(String, String, String)] =
    oracles.map { case (table, query) => (table, s"${current(c)}/$table", query) }
}

/** The engine's two production jobs back to back, as a nightly batch
  * runs them: the paper's HIS star-schema ETL (`his.TurnosJob`), then the
  * LLM corpus build (`llm.CorpusJob`), each publishing a new version. */
object BatchJobs extends Workload {
  val name = "batch_jobs"
  private val his = new PublishingJob("his", "his.TurnosJob.run", Seq(
    "paciente" -> "his_paciente", "turno" -> "his_turno",
    "prestacion" -> "his_prestacion", "prestacion_x_turno" -> "his_prestacion_x_turno"),
    graft.his.TurnosJob.run(_, _, _, _))
  private val llm = new PublishingJob("llm", "llm.CorpusJob.run", Seq(
    "shard_manifest" -> "tx46_corpus_e2e"),
    graft.llm.CorpusJob.run(_, _, _, _))
  private val jobs = Seq(his, llm)

  def warmUp(c: Ctx): Unit = op(c, 0)
  def op(c: Ctx, i: Int): Unit = jobs.foreach(_.run(c, i))
  override def between(c: Ctx): Unit = jobs.foreach(_.vacuum(c))
  def outputBytes(c: Ctx): Long = jobs.map(j => Workloads.dirBytes(j.current(c))).sum
  def check(c: Ctx, ops: Int): Seq[String] = jobs.flatMap(_.check(c, ops))
  override def oracleChecks(c: Ctx): Seq[(String, String, String)] = jobs.flatMap(_.oracleChecks(c))

  override val extraNames = Seq("his_published_mb", "publish.files", "publish.mb_written")
  override def extra(c: Ctx): Map[String, Double] = Map(
    "his_published_mb" -> Workloads.dirBytes(his.current(c)) / 1e6,
    "publish.files" -> jobs.map(j => Workloads.dataFiles(j.current(c))).sum.toDouble,
    "publish.mb_written" -> jobs.map(j => Workloads.dirBytes(j.current(c))).sum / 1e6)
}

/** Writes beside reads on the four stored ANN index families: build all
  * four in set-up, then rounds of (append one seeded batch, answer one
  * query batch on every family); traced runs end with compaction and a
  * last query round over the compacted bucket index. */
object AnnIndex extends Workload {
  val name = "ann_index"
  /** The generated input's shape (perfbench/gen.py VECTORS). */
  val AppendBatches = 6
  val QueriesPerRound = 20
  val QueryIdBase = 10000000L

  val K = 10
  /** Index settings are the engine's defaults, except the LSH planes
    * (default 8: 256 buckets, whose write tasks do not fit the run budget
    * on 4 cores; see README). The graph index has no defaults and takes
    * the registry's ann14b settings. */
  val Planes = 6
  val GraphK = 5
  val GraphCap = Some(200)
  val Beam = 8
  val BeamRounds = 3
  val Families = Seq("bucketed", "ivf", "ivfpq", "graph")
  /** Lowest recall@10 against exact search that passes the check: the
    * lowest of seeds 1–10 at the baseline (0.16, 0.935, 0.48, 0.235),
    * less 0.1. */
  val RecallFloor = Map("bucketed" -> 0.06, "ivf" -> 0.835, "ivfpq" -> 0.38, "graph" -> 0.135)

  private def path(c: Ctx, family: String) = s"${c.out}/$family"
  private def pairs(df: DataFrame): DataFrame = df.select("query_id", "vec_id")
  private def collect(pairs: DataFrame): Set[(Long, Long)] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def rows(df: DataFrame): Set[(Long, Long)] = collect(pairs(df))
  private def compacted(c: Ctx) = s"${c.out}/bucketed_compacted"
  private var bucketedPath: Ctx => String = path(_, "bucketed")
  private var rounds = 0

  /** Append batch of round `r`: the generated batches cycle under fresh ids. */
  private def batch(c: Ctx, r: Int): DataFrame =
    c.read(s"batch_${r % AppendBatches}")
      .select((col("vec_id") + (r / AppendBatches).toLong * 100000).as("vec_id"), col("embedding"))

  /** Query batch of round `r`: the generated batches cycle. */
  private def queries(c: Ctx, r: Int): DataFrame = {
    val lo = QueryIdBase + (r % AppendBatches).toLong * QueriesPerRound
    c.read("queries").filter(col("vec_id") >= lo && col("vec_id") < lo + QueriesPerRound)
  }

  def build(c: Ctx): Unit = c.spans("similarity.build") {
    val emb = c.read("embeddings")
    c.spans("similarity.build.bucketed")(
      Similarity.writeBucketedCorpus(emb, path(c, "bucketed"), Planes))
    c.spans("similarity.build.ivf")(
      Similarity.writeIvfCorpus(emb, path(c, "ivf")))
    c.spans("similarity.build.ivfpq")(
      Similarity.writeIvfPqCorpus(emb, path(c, "ivfpq")))
    c.spans("similarity.build.graph")(
      Similarity.writeGraphIndex(emb, path(c, "graph"), GraphK, Planes, maxBucketSize = GraphCap))
  }

  private def append(c: Ctx, batch: DataFrame): Unit = c.spans("similarity.append") {
    c.spans("similarity.append.bucketed")(
      Similarity.appendToStoredBuckets(batch, path(c, "bucketed"), Planes))
    c.spans("similarity.append.ivf")(
      Similarity.appendToIvfCorpus(c.spark, batch, path(c, "ivf")))
    c.spans("similarity.append.ivfpq")(
      Similarity.appendToIvfPqCorpus(c.spark, batch, path(c, "ivfpq")))
  }

  /** One k=10 query batch on every family; returns each family's rows. */
  def query(c: Ctx, q: DataFrame): Map[String, Set[(Long, Long)]] =
    c.spans("similarity.query") {
      /** Rows of a family whose final plan scans the stored index; the
        * traced part also records the scan's files read / index files. */
      def scanned(df: DataFrame, index: String) = {
        val p = pairs(df)
        val r = collect(p)
        if (c.tracing) Main.recordScans(p, index)
        r
      }
      Map(
        "bucketed" -> c.spans("similarity.query.bucketed")(scanned(
          Similarity.bucketedTopKStored(c.spark, bucketedPath(c), q, K, Planes),
          bucketedPath(c))),
        "ivf" -> c.spans("similarity.query.ivf")(scanned(
          Similarity.ivfTopKStored(c.spark, path(c, "ivf"), q, K), path(c, "ivf"))),
        "ivfpq" -> c.spans("similarity.query.ivfpq")(scanned(
          Similarity.ivfPqTopKStored(c.spark, path(c, "ivfpq"), q, K),
          path(c, "ivfpq"))),
        "graph" -> c.spans("similarity.query.graph")(rows(
          Similarity.beamSearchTopKStored(c.spark, path(c, "graph"), c.read("embeddings"),
            q, K, Beam, BeamRounds, Planes))))
    }

  private var lastAnswers = Map.empty[String, Set[(Long, Long)]]
  private var builtBytes = 0L

  /** The build of all four indexes is the warm-up; a warm round on top
    * would add a fifth to every run, which the run budget cannot carry. */
  def warmUp(c: Ctx): Unit = {
    bucketedPath = path(_, "bucketed")
    rounds = 0
    build(c)
    builtBytes = Families.map(f => Workloads.dirBytes(path(c, f))).sum
  }

  def op(c: Ctx, i: Int): Unit = {
    append(c, batch(c, rounds))
    rounds += 1
    answer(c, queries(c, i))
  }

  private var lastQuery: DataFrame = _
  private def answer(c: Ctx, q: DataFrame): Unit = {
    lastQuery = q
    lastAnswers = query(c, q)
  }

  override def finish(c: Ctx, ops: Int): Unit = {
    c.spans("similarity.compact")(
      Similarity.compactStoredBuckets(c.spark, path(c, "bucketed"), compacted(c),
        numBuckets = 1 << Planes))
    bucketedPath = compacted
    answer(c, queries(c, ops + 1))
  }

  def outputBytes(c: Ctx): Long = builtBytes

  /** Every vector the stored indexes hold after `rounds` appends. */
  private def corpus(c: Ctx): DataFrame =
    (0 until rounds).foldLeft(c.read("embeddings").select("vec_id", "embedding")) { (acc, r) =>
      acc.unionByName(batch(c, r))
    }

  private var recall = Map.empty[String, Double]

  /** Stored top-k ≡ the in-flight counterpart over the same vectors and
    * models, per family, on the last query round, and recall against
    * exact search at least the family's floor. */
  def check(c: Ctx, ops: Int): Seq[String] = {
    val q = lastQuery
    val all = graft.operators.NearDup.stage(corpus(c))
    val built = c.read("embeddings")
    val inFlight = Map(
      "bucketed" -> rows(Similarity.bucketedTopK(all, q, K, Planes)),
      "ivf" -> rows(Similarity.ivfTopK(all, q, K,
        centsOpt = Some(c.spark.read.parquet(s"${path(c, "ivf")}/_centroids")))),
      "ivfpq" -> rows(Similarity.ivfPqTopK(all, q, K,
        centsOpt = Some(c.spark.read.parquet(s"${path(c, "ivfpq")}/_centroids")),
        cbOpt = Some(c.spark.read.parquet(s"${path(c, "ivfpq")}/_codebook")))),
      "graph" -> rows(Similarity.beamSearchTopK(
        Similarity.knnGraph(built, GraphK, Planes, maxBucketSize = GraphCap), built, q,
        Similarity.bucketSeeds(built, Planes, maxBucketSize = GraphCap), K, Beam, BeamRounds)))
    val exact = rows(Similarity.bruteForceTopK(all, q, K))
    val exactBuilt = rows(Similarity.bruteForceTopK(built, q, K))
    recall = Families.map { f =>
      val truth = if (f == "graph") exactBuilt else exact
      f -> lastAnswers(f).count(truth.contains).toDouble / truth.size
    }.toMap
    all.unpersist()
    recall.toSeq.sorted.foreach { case (f, r) => System.err.println(s"[perfbench] $f recall@$K = $r") }
    Families.flatMap { f =>
      if (lastAnswers(f) == inFlight(f)) None
      else Some(s"$f: stored top-$K differs from in-flight on ${(lastAnswers(f) diff inFlight(f)).size} rows")
    } ++ Families.flatMap { f =>
      if (recall(f) >= RecallFloor(f)) None
      else Some(s"$f: recall@$K ${recall(f)} is below its floor ${RecallFloor(f)}")
    }
  }

  override def extraNames: Seq[String] =
    Seq("ann_recall_at_10", "ann_index_mb") ++ Families.map(f => s"similarity.$f.recall_at_10")
  override def extra(c: Ctx): Map[String, Double] =
    Map(
      "ann_recall_at_10" -> recall.values.sum / math.max(recall.size, 1),
      "ann_index_mb" -> (Seq(bucketedPath(c), path(c, "ivf"), path(c, "ivfpq"), path(c, "graph"))
        .map(Workloads.dirBytes).sum / 1e6)) ++
      recall.map { case (f, v) => s"similarity.$f.recall_at_10" -> v }
}
