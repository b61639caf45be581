package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

class GraftActionsSpec extends SparkSpec {

  // branches capture the caller's session: start it before the first
  override def beforeAll(): Unit = { super.beforeAll(); spark }

  test("results come back in branch order, the first branch on the calling thread") {
    val caller = Thread.currentThread()
    val (onCaller, n) = GraftActions.together(
      Thread.currentThread() eq caller, spark.range(10).count())
    assert(onCaller)
    assert(n === 10L)
    // later branches finish first; results still come back in branch order
    assert(GraftActions.all(Seq(
      () => { Thread.sleep(200); "x" }, () => { Thread.sleep(100); "y" }, () => "z"))
      === Seq("x", "y", "z"))
    assert(GraftActions.all(Seq.empty[() => Int]) === Seq.empty)
    assert(GraftActions.all(Seq(() => 7)) === Seq(7))
  }

  test("a throwing branch surfaces its own exception, after its siblings have finished") {
    val finished = new AtomicInteger()
    def slow(v: Int): Int = { Thread.sleep(300); finished.incrementAndGet(); v }
    val first = intercept[IllegalStateException](GraftActions.all(Seq(
      () => throw new IllegalStateException("first"),
      () => slow(1),
      () => throw new IllegalArgumentException("third"))))
    assert(first.getMessage === "first")
    assert(finished.get === 1)
    // a pool branch's exception arrives unwrapped too
    val second = intercept[IllegalArgumentException](GraftActions.all(Seq(
      () => slow(1),
      () => throw new IllegalArgumentException("second"),
      () => slow(3))))
    assert(second.getMessage === "second")
    assert(finished.get === 3)
  }

  test("nested use past the pool's thread bound completes") {
    // 6 × 6 leaves want more threads than the pool has: the surplus
    // branches run on their submitting threads
    val sums = GraftActions.all((1 to 6).map { i => () =>
      GraftActions.all((1 to 6).map { j => () =>
        spark.range(i * j).count()
      }).sum
    })
    assert(sums === (1 to 6).map(i => (1 to 6).map(j => (i * j).toLong).sum))
  }

  test("built builds a cache once and leaves the plan's results unchanged") {
    val df = spark.range(100).selectExpr("id % 7 AS k").cache()
    try {
      val (_, buildJobs) = withJobCount(GraftActions.built(df))
      assert(buildJobs === 1)
      val (_, again) = withJobCount(GraftActions.built(df))
      assert(again === 0)
      assert(df.groupBy("k").count().collect().map(_.getLong(1)).sum === 100L)
      val (_, uncached) = withJobCount(GraftActions.built(spark.range(5).toDF()))
      assert(uncached === 0)
    } finally df.unpersist()
  }
}
