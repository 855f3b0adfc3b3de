package graft

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedDeque,
  ConcurrentLinkedQueue, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}

/** A scope of overlapped, independent Spark actions — the one place in
  * the engine that starts threads or waits on them (optimization guide
  * §2.6: the scheduler runs concurrent jobs fine; sequential driver code
  * is what serializes them).
  *
  * `Overlap(spark) { s => ... }` opens the scope:
  *  - `s.fork(desc) { body }` runs `body` on a daemon thread of the
  *    scope's own cached pool, inside a job group of its own (described
  *    by `desc`, tasks interrupted on cancel, cleared when the branch
  *    ends);
  *  - `s.join(b)` waits for branch `b` and returns its value; a branch
  *    the body never joins is still waited for before the scope
  *    returns, and its failure still fails the scope;
  *  - `s.release(df)` registers a cached or checkpointed frame that the
  *    scope frees ([[Memos.free]]) when it exits, newest first: a frame
  *    cached on top of another is freed before its input, so Spark's
  *    non-cascading uncache never has a dependent entry to rebuild.
  *
  * The first failure — a branch's or the scope body's own — cancels
  * every branch's job group, running and future jobs alike, and is what
  * `join` and the scope rethrow; the errors that cancellation causes in
  * the other branches ride along as suppressed. On every exit the scope
  * stops its pool, waits for its threads to end, frees the released
  * frames and restores the caller's job description.
  *
  * The pool is per scope, not process-wide: Spark's local properties are
  * inheritable thread-locals, so a thread shared across scopes would
  * carry one caller's job group into another caller's branches.
  */
final class Overlap private (sc: SparkContext) {
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-overlap-${Overlap.ids.incrementAndGet()}")
    t.setDaemon(true)
    t
  }
  private val groups = new ConcurrentLinkedQueue[String]()
  private val frames = new ConcurrentLinkedDeque[Dataset[_]]()
  private val failure = new AtomicReference[Throwable]()

  def fork[T](desc: String)(body: => T): CompletableFuture[T] = {
    val group = s"graft-overlap-${Overlap.ids.incrementAndGet()}"
    groups.add(group)
    if (failure.get != null) cancel(group) // forked after the failure
    CompletableFuture.supplyAsync(() => {
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      try body
      catch { case t: Throwable => fail(t); throw t }
      finally sc.clearJobGroup()
    }, pool)
  }

  def join[T](branch: CompletableFuture[T]): T =
    try branch.get()
    catch { case _: ExecutionException => throw failure.get }

  def release[D <: Dataset[_]](df: D): D = { frames.push(df); df }

  private def cancel(group: String): Unit =
    sc.cancelJobGroupAndFutureJobs(group,
      "because an overlapped sibling branch failed")

  private def fail(t: Throwable): Unit =
    if (failure.compareAndSet(null, t)) groups.forEach(g => cancel(g))
    else if (failure.get ne t) failure.get.addSuppressed(t)
}

object Overlap {
  private val ids = new AtomicLong()

  def apply[T](spark: SparkSession)(body: Overlap => T): T = {
    val sc = spark.sparkContext
    val s = new Overlap(sc)
    val callerDesc = sc.getLocalProperty("spark.job.description")
    try {
      val out = body(s)
      s.pool.shutdown()
      s.pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      if (s.failure.get != null) throw s.failure.get
      out
    } catch { case t: Throwable => s.fail(t); throw s.failure.get }
    finally {
      s.pool.shutdownNow()
      s.pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      s.frames.forEach(df => Memos.free(df))
      sc.setJobDescription(callerDesc)
    }
  }
}
