package org.apache.spark.sql

import java.util.concurrent.{ExecutionException, SynchronousQueue, ThreadPoolExecutor, TimeUnit}

import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Independent Spark actions run together instead of one after another.
  * A small table is one split, so each of its jobs is a single task and
  * a queue of them keeps one core busy; submitted together, they share
  * the scheduler's slots. Each branch runs with the caller's local
  * properties (job group, span tags) and active session, captured the
  * way AQE's own stage threads capture them
  * (`SQLExecution.withThreadLocalCaptured`), so jobs are attributed to
  * the caller as if it had run them itself. */
object GraftActions {

  /** Branch threads. No queue: a branch either gets a thread or the
    * submitting thread runs it itself, so nested use (a branch that
    * forks again) can never wait on a full pool. */
  private val pool = new ThreadPoolExecutor(0, 16, 30L, TimeUnit.SECONDS,
    new SynchronousQueue[Runnable](),
    (r: Runnable) => { val t = new Thread(r, "graft-actions"); t.setDaemon(true); t },
    new ThreadPoolExecutor.CallerRunsPolicy())

  /** Runs `branches` as concurrent actions and returns their results in
    * order. The calling thread runs the first branch itself. When a
    * branch throws, the first failing branch's exception is rethrown —
    * only after every branch has finished, so no job outlives the call. */
  def all[T](branches: Seq[() => T]): Seq[T] =
    if (branches.sizeIs <= 1) branches.map(_())
    else {
      val session = SparkSession.active.asInstanceOf[classic.SparkSession]
      val rest = branches.tail.map(b =>
        SQLExecution.withThreadLocalCaptured(session, pool)(b()))
      val first = attempt(branches.head())
      val outcomes = first +: rest.map(f => attempt(
        try f.get() catch { case e: ExecutionException if e.getCause != null => throw e.getCause }))
      outcomes.map(_.fold(throw _, identity))
    }

  /** [[all]] over two branches of different result types. */
  def together[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all(Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case t: Throwable => Left(t) }

  /** Builds every cache `df` reads that is not built yet, on the calling
    * thread, with the job AQE's first reader of the cache would submit
    * (all partitions of the cached batches, nothing consumed). Concurrent
    * readers of an unbuilt cache would each plan that job; built first,
    * they all read it. Returns `df`. */
  def built(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.withCachedData.foreach {
      case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
        ds.sparkSession.sparkContext.runJob(r.cacheBuilder.cachedColumnBuffers,
          (_: Iterator[_]) => ())
      case _ =>
    }
    df
  }
}
