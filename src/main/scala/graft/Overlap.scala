package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  ConcurrentLinkedDeque, ConcurrentLinkedQueue, ExecutionException,
  Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}

/** A scope of overlapped, independent Spark actions — the one place in
  * the engine that starts threads or waits on them (optimization guide
  * §2.6: the scheduler runs concurrent jobs fine; sequential driver code
  * is what serializes them) — and the one owner of every frame the
  * engine caches, memoizes per query or local-checkpoints.
  *
  * `Overlap(spark) { s => ... }` opens the scope:
  *  - `s.fork(desc) { body }` runs `body` on a daemon thread of the
  *    scope's own cached pool, inside a job group of its own (described
  *    by `desc`, tasks interrupted on cancel, cleared when the branch
  *    ends);
  *  - `s.join(b)` waits for branch `b` and returns its value; a branch
  *    the body never joins is still waited for before the scope
  *    returns, and its failure still fails the scope;
  *  - `s.release(df)` registers a cached or checkpointed frame that
  *    this scope frees ([[Memos.free]]) when it exits.
  *
  * Ownership. The scope that runs the work frees what the work cached:
  * [[Overlap.own]] and [[Overlap.memo]] register with the OUTERMOST
  * scope open on the calling thread — a branch runs with the owner of
  * the scope that forked it — so an operator's intermediates live until
  * the query, sample or run that called it ends, never past it and
  * never shorter (an operator's own inner scope is not the owner).
  * Outside every scope they register with a process root that
  * [[Memos.clearDerived]] drains. A scope frees its frames on every
  * exit, newest first: a frame cached on top of another is freed before
  * its input, so Spark's non-cascading uncache never has a dependent
  * entry to rebuild. The one frame a scope RETURNS is not freed: it
  * passes to the owner of the caller (a connected-components result,
  * a checkpoint a bench formulation hands back), so return the cached
  * frame itself, not a projection of it.
  *
  * Process-wide, outside every owner, on purpose: the raw-table tier
  * (`io.Sources`, bounded by the files on disk and warm across
  * queries), the fitted-model memos (`mlx.Clustering`,
  * `mlx.QualityModel`, the IVF centroids in `ext.Similarity`:
  * plain numbers in the JVM, no storage blocks), the corpus fingerprints
  * (`Similarity.corpusFp`, strings) and `io.Sources`' schema and size
  * memos.
  *
  * The first failure — a branch's or the scope body's own — cancels
  * every branch's job group, running and future jobs alike, and is what
  * `join` and the scope rethrow; the errors that cancellation causes in
  * the other branches ride along as suppressed. On every exit the scope
  * stops its pool, waits for its threads to end, frees its frames and
  * restores the caller's job description.
  *
  * The pool is per scope, not process-wide: Spark's local properties are
  * inheritable thread-locals, so a thread shared across scopes would
  * carry one caller's job group into another caller's branches.
  */
final class Overlap private (sc: SparkContext, owner: Overlap.Holding,
    held: Overlap.Holding) {
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-overlap-${Overlap.ids.incrementAndGet()}")
    t.setDaemon(true)
    t
  }
  private val groups = new ConcurrentLinkedQueue[String]()
  private val failure = new AtomicReference[Throwable]()

  def fork[T](desc: String)(body: => T): CompletableFuture[T] = {
    val group = s"graft-overlap-${Overlap.ids.incrementAndGet()}"
    groups.add(group)
    if (failure.get != null) cancel(group) // forked after the failure
    CompletableFuture.supplyAsync(() => {
      Overlap.current.set(owner)
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      try body
      catch { case t: Throwable => fail(t); throw t }
      finally { sc.clearJobGroup(); Overlap.current.remove() }
    }, pool)
  }

  def join[T](branch: CompletableFuture[T]): T =
    try branch.get()
    catch { case _: ExecutionException => throw failure.get }

  def release[D <: Dataset[_]](df: D): D = held.hold(df)

  private def cancel(group: String): Unit =
    sc.cancelJobGroupAndFutureJobs(group,
      "because an overlapped sibling branch failed")

  private def fail(t: Throwable): Unit =
    if (failure.compareAndSet(null, t)) groups.forEach(g => cancel(g))
    else if (failure.get ne t) failure.get.addSuppressed(t)
}

object Overlap {
  private val ids = new AtomicLong()

  /** Frames held until [[close]] frees them, newest first, and the
    * per-query memos [[close]] forgets.
    */
  private[graft] final class Holding {
    private val frames = new ConcurrentLinkedDeque[Dataset[_]]()
    private val memos =
      new ConcurrentHashMap[String, ConcurrentHashMap[String, AnyRef]]()

    def hold[D <: Dataset[_]](df: D): D = { frames.push(df); df }

    def memo[T <: AnyRef](tag: String, key: String)(build: => T): T =
      memos.computeIfAbsent(tag, _ => new ConcurrentHashMap[String, AnyRef]())
        .computeIfAbsent(key, _ => build).asInstanceOf[T]

    def forget(tag: String, key: String): Unit =
      memos.getOrDefault(tag, new ConcurrentHashMap()).remove(key) match {
        case df: Dataset[_] => Memos.free(df)
        case _ =>
      }

    /** Free every held frame except `keep`; true when `keep` was held. */
    def close(keep: AnyRef): Boolean = {
      memos.clear()
      val kept = frames.removeIf(_ eq keep)
      Iterator.continually(frames.poll()).takeWhile(_ != null)
        .foreach(Memos.free)
      kept
    }
  }

  /** The owner of the calling thread's work; unset outside every scope. */
  private val current = new ThreadLocal[Holding]
  private val root = new Holding
  private def owner: Holding = Option(current.get).getOrElse(root)

  /** Register a cached or checkpointed frame with the owner of the
    * calling thread's work (see the class doc).
    */
  def own[D <: Dataset[_]](df: D): D = owner.hold(df)

  /** Memoize `build` under (`tag`, `key`) in the owner of the calling
    * thread's work: the owner's later calls share one value, and the
    * entry goes when the owner closes. A frame `build` caches is
    * registered with [[own]], so the owner frees it then.
    */
  def memo[T <: AnyRef](tag: String, key: String)(build: => T): T =
    owner.memo(tag, key)(build)

  /** Drop (and free) one memo entry of the calling thread's owner. */
  def forget(tag: String, key: String): Unit = owner.forget(tag, key)

  private[graft] def closeRoot(): Unit = root.close(null)

  def apply[T](spark: SparkSession)(body: Overlap => T): T = {
    val sc = spark.sparkContext
    val outer = current.get
    val held = new Holding
    val s = new Overlap(sc, if (outer == null) held else outer, held)
    if (outer == null) current.set(held)
    val callerDesc = sc.getLocalProperty("spark.job.description")
    var out: AnyRef = null // set once the scope has succeeded
    try {
      val result = body(s)
      s.pool.shutdown()
      s.pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      if (s.failure.get != null) throw s.failure.get
      out = result.asInstanceOf[AnyRef]
      result
    } catch { case t: Throwable => s.fail(t); throw s.failure.get }
    finally {
      s.pool.shutdownNow()
      s.pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      if (outer == null) current.remove()
      if (held.close(out)) own(out.asInstanceOf[Dataset[_]])
      sc.setJobDescription(callerDesc)
    }
  }
}
