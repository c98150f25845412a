package graft

import java.util.concurrent.{CancellationException, ExecutionException, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Stage a shared frame once, overlap independent chains, release
  * everything afterwards: the Spark analog of the reference's
  * all-or-nothing load lifecycle (SURVEY OP-31/34), for every job and
  * operator.
  *
  * Staging caveats, stated once:
  *  - EAGER: [[stage]] runs its Spark job at DataFrame CONSTRUCTION, so
  *    merely building a staged query (plan inspection included)
  *    computes the staged subtree. A lazy checkpoint would reintroduce
  *    the first-action materialization race staging exists to remove.
  *  - NOT FAULT-TOLERANT: `localCheckpoint` blocks live in executor
  *    block managers with the lineage above them cut, so they do not
  *    survive executor loss. A deployment that can lose executors
  *    should stage through persist(DISK) or a staging parquet dir; the
  *    structure (compute once, fan out) is the same.
  */
object Stages {

  /** Frames staged while a [[scoped]] body runs; `before` holds the
    * persistent RDD ids that existed when it opened. */
  private final class Scope(val before: collection.Set[Int]) {
    val frames = mutable.ArrayBuffer[DataFrame]()
    def add(df: DataFrame): Unit = synchronized(frames += df)
  }

  private val current = new ThreadLocal[Scope]
  private val inFlight = new AtomicInteger
  private val started = new AtomicLong
  private val groups = new AtomicLong

  /** Eagerly materialize `df` (`localCheckpoint(true)`) and cut its
    * lineage. AQE exchange reuse does NOT cover multi-branch
    * consumption of a multi-stage subtree (measured: dd07 recomputed
    * the shingle→minhash→band→jaccard chain in three branches), and
    * persist() races parallel cache fills; staging computes the subtree
    * exactly once, before any consumer plans against it — the
    * in-process analog of a temp table.
    *
    * Inside a [[scoped]] body the frame is released when the scope
    * ends. Outside one it is untracked and lives until Spark's
    * ContextCleaner collects it: registry queries build lazy frames
    * over staged data and rely on that. */
  def stage(df: DataFrame): DataFrame = {
    // inFlight before started: releaseOrphans relies on the order
    inFlight.incrementAndGet()
    started.incrementAndGet()
    val s = try df.localCheckpoint(true) finally inFlight.decrementAndGet()
    Option(current.get).foreach(_.add(s))
    s
  }

  /** Run `body`, then release every frame [[stage]]d inside it — on this
    * thread, deep inside operators, or in an [[overlap]] chain started
    * from it — whether it returned or threw. A frame that must outlive
    * the scope has to be staged outside it. */
  def scoped[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = current.get
    val scope = new Scope(sc.getPersistentRDDs.keySet)
    current.set(scope)
    try body
    finally {
      current.set(outer)
      scope.frames.foreach(release)
      releaseOrphans(sc, scope.before)
    }
  }

  /** `Dataset.unpersist` does not reach a staged frame's blocks: it only
    * uncaches `persist`ed plans, and a staged frame scans its checkpoint
    * RDD, which holds them. */
  private[graft] def release(staged: DataFrame): Unit = staged.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** A stage whose job failed or was cancelled leaves its checkpoint RDD
    * persisted with no frame to release it. Such an RDD (made at
    * [[stage]]'s localCheckpoint, never checkpointed) is unambiguous
    * only while no stage runs anywhere — a running stage's RDD looks the
    * same — so otherwise the sweep is skipped and the ContextCleaner
    * reclaims the leftovers once they are garbage. */
  private def releaseOrphans(sc: SparkContext, before: collection.Set[Int]): Unit = {
    val seq = started.get
    if (inFlight.get == 0) {
      val orphans = sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) && !rdd.isCheckpointed &&
          rdd.toString.contains(" at Stages.scala:") => rdd
      }
      if (started.get == seq) orphans.foreach(_.unpersist(blocking = false))
    }
  }

  /** Run the labelled chains concurrently; results come back in argument
    * order. Each chain runs on a thread created from the caller's, so it
    * carries the caller's Spark local properties and [[scoped]] scope,
    * under its own job group with the label as job description (what
    * the Spark UI, listeners and [[ProgressReporter]] show). Every chain
    * is awaited until it has settled. The first failure cancels the
    * other chains' job groups (`cancelJobGroupAndFutureJobs` also stops
    * jobs not yet submitted) and is rethrown once all have settled.
    * Running tasks are not interrupted, so a write never dies mid-file.
    *
    * Overlap pays when the chains are independent sequences of barrier
    * jobs: each chain's jobs back-fill the other's stage tails (guide
    * §2.6). A chain must be deterministic in isolation so that the
    * interleaving cannot change what it computes. */
  def overlap[A](chains: (String, () => A)*): Seq[A] = {
    val sc = SparkSession.active.sparkContext
    val scope = current.get
    val named = chains.map { case (label, body) =>
      (s"graft-stages-${groups.incrementAndGet()}", label, body)
    }
    val first = new AtomicReference[Throwable]
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(chains.size, Runtime.getRuntime.availableProcessors)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = named.map { case (group, label, body) => Future {
        if (first.get != null)
          throw new CancellationException(s"chain '$label' not started: a sibling chain failed")
        sc.setJobGroup(group, label, interruptOnCancel = false)
        current.set(scope)
        try body()
        catch {
          case e: Throwable =>
            if (first.compareAndSet(null, e))
              named.foreach { case (g, _, _) => sc.cancelJobGroupAndFutureJobs(g) }
            // a Future never completes on a fatal error: box it
            throw (if (NonFatal(e)) e else new ExecutionException(e))
        } finally {
          current.remove()
          sc.clearJobGroup()
        }
      }}
      runs.foreach(Await.ready(_, Duration.Inf))
      Option(first.get).foreach(e => throw e)
      runs.map(_.value.get.get)
    } finally pool.shutdown()
  }
}
