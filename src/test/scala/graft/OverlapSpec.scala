package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Overlap
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Task-side state for the spec's long job (local mode: the executor is
  * this JVM, so tasks and the driver see the same object).
  */
object OverlapSpecState {
  val started = new AtomicInteger
  val ended = new AtomicInteger
}

class OverlapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("results come back in branch order") {
    val out = Overlap.all(spark)(
      () => { Thread.sleep(300); spark.range(10).count() },
      () => spark.range(20).count(),
      () => { Thread.sleep(100); spark.range(30).count() })
    assert(out == Seq(10L, 20L, 30L))
  }

  test("a failing branch cancels its sibling's long job and rethrows") {
    OverlapSpecState.started.set(0)
    OverlapSpecState.ended.set(0)
    // Each task spins until killed, or for 2 minutes.
    val spin = udf { (id: Long) =>
      OverlapSpecState.started.incrementAndGet()
      val until = System.currentTimeMillis() + 120000L
      try while (!TaskContext.get().isInterrupted() && System.currentTimeMillis() < until)
        Thread.sleep(20)
      finally OverlapSpecState.ended.incrementAndGet()
      id
    }
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Overlap.all(spark)(
        () => spark.range(0, 2, 1, 2).select(spin(col("id"))).collect().length,
        () => {
          while (OverlapSpecState.started.get() == 0) Thread.sleep(20)
          throw new IllegalStateException("boom")
        })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage == "boom")
    assert(secs < 60, s"sibling ran on for $secs s after the failure")
    // the sibling's tasks were killed: they end long before their 2 min
    val deadline = System.nanoTime() + 30e9.toLong
    while (OverlapSpecState.ended.get() < OverlapSpecState.started.get() &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(OverlapSpecState.ended.get() == OverlapSpecState.started.get(),
      s"${OverlapSpecState.ended.get()} of ${OverlapSpecState.started.get()} tasks ended")
  }

  test("an overlap nested inside a branch completes") {
    val out = Overlap.all(spark)(
      () => Overlap.all(spark)(() => spark.range(5).count(), () => spark.range(6).count()).sum,
      () => Overlap.all(spark)(() => spark.range(7).count()).sum)
    assert(out == Seq(11L, 7L))
  }
}
