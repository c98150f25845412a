package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.functions._
import graft.operators.NearDup

class StagesSpec extends SparkSpec {
  import spark.implicits._

  private def persistentKeys: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox leaps over the lazy dog"),
    (4L, "completely different content about spark engines here"),
  ).toDF("doc_id", "text")

  /** One ~200 ms job per call: four one-row partitions that each sleep. */
  private val slow = spark.range(0, 4, 1, 4)
    .select(udf { (x: Long) => Thread.sleep(200); x }.apply(col("id")).as("id"))

  test("scoped releases the stages operators make deep inside it") {
    val before = persistentKeys
    val (labels, stagedInside) = Stages.scoped(spark) {
      val labels = NearDup.canonicalize(docs, "doc_id", "text").collect()
      (labels, persistentKeys -- before)
    }
    assert(labels.length == 4)
    assert(stagedInside.nonEmpty, "canonicalize stages its intermediates")
    val added = persistentKeys -- before
    assert(added.isEmpty, s"${added.size} staged RDDs outlived the scope")
  }

  test("a frame staged outside any scope stays readable after a scope ends") {
    def build() = Stages.stage(docs.filter($"doc_id" > 1L))
    val outside = build()
    Stages.scoped(spark)(Stages.stage(docs).count())
    assert(outside.count() == 3)
    assert(outside.join(docs, "doc_id").count() == 3)
    outside.unpersist()
  }

  test("overlap returns results in argument order and carries the caller's properties and scope") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.stages.probe", "caller")
    try {
      val before = persistentKeys
      val got = Stages.scoped(spark) {
        Stages.overlap(
          "a" -> (() => (sc.getLocalProperty("graft.stages.probe"), Stages.stage(docs).count())),
          "b" -> (() => (sc.getLocalProperty("spark.job.description"), 0L)))
      }
      assert(got == Seq(("caller", 4L), ("b", 0L)))
      assert((persistentKeys -- before).isEmpty, "a chain's stage belongs to the caller's scope")
    } finally sc.setLocalProperty("graft.stages.probe", null)
  }

  test("overlap: a failing chain cancels a sibling's multi-job chain before its next job") {
    val sc = spark.sparkContext
    val before = persistentKeys
    val jobsTried = new AtomicInteger
    val slowSettled = new AtomicBoolean
    val running = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Stages.scoped(spark) {
        Stages.overlap(
          "slow" -> { () =>
            try (1 to 20).foreach { _ =>
              jobsTried.incrementAndGet()
              running.countDown()
              Stages.stage(slow)
            } finally slowSettled.set(true)
          },
          "failing" -> { () =>
            running.await()
            Thread.sleep(100) // the slow chain's first job is running now
            throw boom
          })
      }
    }
    assert(thrown eq boom)
    assert(slowSettled.get, "overlap returned before the sibling settled")
    assert(jobsTried.get <= 2, s"the sibling went on to its job ${jobsTried.get} of 20")
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a cancelled chain's job still runs")
    val added = persistentKeys -- before
    assert(added.isEmpty, s"the cancelled stage left ${added.size} persisted RDDs behind")
  }

  test("overlap rethrows the first failure in time, not in argument order") {
    val early = new IllegalArgumentException("early")
    val thrown = intercept[Exception] {
      Stages.overlap(
        "late" -> { () => Thread.sleep(300); throw new IllegalStateException("late") },
        "early" -> { () => throw early })
    }
    assert(thrown eq early)
  }
}
