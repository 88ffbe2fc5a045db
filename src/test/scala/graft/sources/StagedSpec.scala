package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.{SparkSpec, Tables}

/** [[SourceOps.staged]], the in-memory build-once memo every staged
  * artifact goes through: one build per (session, dataset, name), one
  * lock per key, nested builds, and nothing recorded for a build that
  * throws. Each test stages under names no engine artifact uses. */
class StagedSpec extends SparkSpec {

  private def thread(body: => Unit): Thread = {
    val th = new Thread(() => body)
    th.start()
    th
  }

  test("concurrent cold consumers: staged runs the build exactly once") {
    val built = new AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ths = (0 until 4).map(_ => thread {
      seen.add(SourceOps.staged(tables, "spec_cold") {
        built.incrementAndGet()
        Thread.sleep(200)
        "artifact"
      })
    })
    ths.foreach(_.join(60000))
    assert(built.get() == 1)
    assert(seen.size == 4 && seen.toArray.forall(_ == "artifact"))
  }

  test("a build that stages another key completes: no deadlock, no " +
      "recursive-update error") {
    def inner(): Int = SourceOps.staged(tables, "spec_inner") {
      Thread.sleep(100); 21
    }
    def outer(): Int = SourceOps.staged(tables, "spec_outer")(inner() * 2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // outer builders and direct inner consumers race on the inner key
    val ths = Seq(outer _, inner _, outer _, inner _)
      .map(f => thread { results.add(f()) })
    ths.foreach(_.join(60000))
    assert(ths.forall(!_.isAlive))
    assert(results.toArray.toSeq.map(_.asInstanceOf[Int]).sorted ==
      Seq(21, 21, 42, 42))
    assert(SourceOps.staged[Int](tables, "spec_inner")(sys.error("rebuilt")) == 21)
  }

  test("unrelated keys build concurrently") {
    val aBuilding = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    @volatile var sawB = false
    val a = thread {
      sawB = SourceOps.staged(tables, "spec_slow_a") {
        aBuilding.countDown()
        bDone.await(30, TimeUnit.SECONDS)
      }
    }
    assert(aBuilding.await(30, TimeUnit.SECONDS))
    // a per-map lock would block here until a's build timed out
    assert(SourceOps.staged(tables, "spec_slow_b")(1) == 1)
    bDone.countDown()
    a.join(60000)
    assert(sawB)
  }

  test("a build that throws records nothing; the next call builds") {
    val built = new AtomicInteger(0)
    intercept[IllegalStateException] {
      SourceOps.staged[Int](tables, "spec_fail") {
        built.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(SourceOps.staged(tables, "spec_fail") { built.incrementAndGet(); 7 } == 7)
    assert(SourceOps.staged(tables, "spec_fail") { built.incrementAndGet(); 8 } == 7)
    assert(built.get() == 2)
  }

  test("two sessions on the same dataset get separate builds") {
    val built = new AtomicInteger(0)
    val other = Tables(spark.newSession(), sfDir)
    def stage(t: Tables): Int =
      SourceOps.staged(t, "spec_sessions")(built.incrementAndGet())
    assert(stage(tables) == 1)
    assert(stage(other) == 2)
    assert(stage(tables) == 1 && stage(other) == 2)
    // and one session on two datasets likewise
    assert(stage(Tables(spark, s"$sfDir/other")) == 3)
  }
}
