package graft.util

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The settle-both contract of [[Overlap.both]] — the r22 fix for the
  * r21 zombie-write hole: a failed branch must NOT propagate while the
  * sibling is still running, because the caller may be inside a
  * [[StoreLease.withLease]] whose `finally` releases the lease — a
  * retrying writer could then acquire it and race the orphaned write,
  * violating the single-writer guarantee. */
class OverlapSpec extends SparkSpec {

  test("a failed branch does not return until the sibling settles; " +
    "the first failure is rethrown with the sibling's suppressed") {
    val siblingDone = new AtomicLong(0L)
    val e = intercept[RuntimeException] {
      Overlap.both(spark) {
        throw new RuntimeException("branch A died")
      } {
        Thread.sleep(500)
        siblingDone.set(System.nanoTime())
        "b-ok"
      }
    }
    val thrownAt = System.nanoTime()
    e.getMessage shouldBe "branch A died"
    // the sibling had already completed when both() threw
    siblingDone.get() should be > 0L
    siblingDone.get() should be <= thrownAt
    // both branches failing: first (argument-order) failure wins,
    // second rides along as suppressed
    val e2 = intercept[RuntimeException] {
      Overlap.both(spark) {
        Thread.sleep(100); throw new RuntimeException("first")
      } { throw new RuntimeException("second") }
    }
    e2.getMessage shouldBe "first"
    e2.getSuppressed.map(_.getMessage) should contain("second")
  }

  test("inside withLease, the lease outlives a failed branch's " +
    "sibling: the slow write still observes the lease file, and the " +
    "lease is only released after both branches settled") {
    val lp = new Path("/tmp/graft_test_sinks/lease/overlap.lease")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lp, false)
    val leaseHeldAtSiblingEnd = new AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      StoreLease.withLease(spark, lp, "overlapWriter") { _ =>
        Overlap.both(spark) {
          throw new RuntimeException("fast branch died")
        } {
          Thread.sleep(500)
          // the kill-one-write assertion: the sibling must still be
          // covered by the lease when it finishes its work
          leaseHeldAtSiblingEnd.set(fs.exists(lp))
        }
      }
    }
    e.getMessage shouldBe "fast branch died"
    leaseHeldAtSiblingEnd.get() shouldBe true
    fs.exists(lp) shouldBe false // released after both settled
  }

  test("branches inherit the caller's job group (cancellation scope " +
    "survives the thread hop)") {
    val sc = spark.sparkContext
    sc.setJobGroup("overlap-spec-group", "overlap spec", false)
    try {
      val (a, b) = Overlap.both(spark) {
        sc.getLocalProperty("spark.jobGroup.id")
      } {
        sc.getLocalProperty("spark.jobGroup.id")
      }
      a shouldBe "overlap-spec-group"
      b shouldBe "overlap-spec-group"
    } finally sc.clearJobGroup()
  }

  test("branches restore the pool threads' local properties: a later " +
    "ExecutionContext.global task sees no inherited job group") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    // enough short tasks to land on every pool worker
    def groupsSeen(): Set[String] = Await.result(Future.traverse(
      (1 to 8 * Runtime.getRuntime.availableProcessors).toList) { _ =>
        Future {
          Thread.sleep(5)
          String.valueOf(sc.getLocalProperty("spark.jobGroup.id"))
        }
      }, 1.minute).toSet
    // start every worker while this thread holds no group: a worker
    // created later would inherit this thread's properties at birth
    groupsSeen()
    sc.setJobGroup("overlap-leak", "stale", false)
    try Overlap.both(spark)(1)(2) shouldBe ((1, 2))
    finally sc.clearJobGroup()
    groupsSeen() should not contain "overlap-leak"
  }

  test("bothOrRelease releases the second branch's result when the " +
    "first fails, and only then") {
    val released = new AtomicLong(0L)
    intercept[RuntimeException] {
      Overlap.bothOrRelease(spark) {
        throw new RuntimeException("first died")
      }("handle")(_ => released.incrementAndGet())
    }.getMessage shouldBe "first died"
    released.get() shouldBe 1L
    Overlap.bothOrRelease(spark)(1)("handle")(_ =>
      released.incrementAndGet()) shouldBe ((1, "handle"))
    released.get() shouldBe 1L
  }
}
