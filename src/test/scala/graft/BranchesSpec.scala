package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.SparkSession

class BranchesSpec extends SparkSpec {

  test("branches run side by side; results come back in branch order") {
    // each branch waits for all three: run one after another, they time out
    val barrier = new CyclicBarrier(3)
    val out = Branches.awaitAll(Seq(1, 2, 3).map(i => () => {
      barrier.await(10, TimeUnit.SECONDS); i * 10
    }))
    assert(out === Seq(10, 20, 30))
    assert(Branches.awaitAll(Seq.empty[() => Int]) === Nil)
  }

  test("a failure is rethrown as thrown, only after every branch has ended") {
    val boom = new IllegalStateException("boom")
    val failed = new CountDownLatch(1)
    val siblingEnded = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Branches.awaitAll(Seq[() => Unit](
        () => try throw boom finally failed.countDown(),
        () => {
          failed.await(10, TimeUnit.SECONDS)
          Thread.sleep(200)
          siblingEnded.set(true)
        }))
    }
    assert(e eq boom)
    assert(siblingEnded.get, "the call returned while a sibling branch still ran")
  }

  test("later failures ride on the first one as suppressed") {
    val first = new RuntimeException("first")
    val second = new RuntimeException("second")
    val firstThrown = new CountDownLatch(1)
    val e = intercept[RuntimeException] {
      Branches.awaitAll(Seq[() => Unit](
        () => { firstThrown.await(10, TimeUnit.SECONDS); Thread.sleep(100); throw second },
        () => try throw first finally firstThrown.countDown()))
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq === Seq(second))
  }

  test("branches inherit the caller's Spark local properties and active session") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.branches.probe", "caller")
    SparkSession.setActiveSession(spark)
    try {
      val seen = Branches.awaitAll(Seq.fill(2)(() =>
        (sc.getLocalProperty("graft.branches.probe"), SparkSession.getActiveSession)))
      assert(seen === Seq.fill(2)(("caller", Some(spark))))
    } finally sc.setLocalProperty("graft.branches.probe", null)
  }

  test("an interrupt of the caller reaches the branches, which end before it is rethrown") {
    val started = new CountDownLatch(1)
    val branchEnded = new AtomicBoolean(false)
    val outcome = new AtomicReference[(Throwable, Boolean)]()
    val caller = new Thread(() =>
      try Branches.awaitAll(Seq[() => Unit](() => {
        started.countDown()
        try Thread.sleep(60000)
        finally { Thread.sleep(100); branchEnded.set(true) }
      }))
      catch { case t: Throwable => outcome.set((t, branchEnded.get)) })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive)
    val (t, endedFirst) = outcome.get
    assert(t.isInstanceOf[InterruptedException])
    assert(endedFirst, "the interrupt was rethrown while the branch still ran")
  }
}
