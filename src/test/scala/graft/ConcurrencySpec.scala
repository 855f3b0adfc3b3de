package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException

/** Library-embedding hardening: a resident engine serves many queries
  * from ONE SparkSession concurrently, while Bench/Verify drive it
  * strictly sequentially — so the session-shared state (the raw tier
  * and the scope-owned memos with their computeIfAbsent + cache calls, temp
  * function registration, broadcast thresholds) is otherwise never
  * exercised under contention. Round 8 already burned one such hazard
  * (connectedComponents mutating session shuffle partitions); this
  * spec pins the rest of the read-only analytic surface: a mixed
  * query set runs twice in parallel across 8 threads and every result
  * must equal its sequential baseline.
  *
  * Deliberately excluded: queries that write shared artifacts (io
  * round-trips, the ANN index build/probe pair, streaming checkpoints
  * keyed by input dir) — those are sequential by contract, like any
  * table-writing job.
  */
class ConcurrencySpec extends SparkSuite {

  private val names = Seq(
    "q1_agg", "j2_join_3way_broadcast", "a7_summary_stats",
    "f8_when_chain", "x_quality_score", "x_tfidf", "x_cosine_topk",
    "e10_funnel", "x_embedding_drift", "prof1_completeness",
    "x_knn_classify", "x_event_anomaly", "x_pseudonymize",
    "x_forget_user", "x_dedup_threshold_sweep")

  test("concurrent registered queries equal their sequential results") {
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    def canon(n: String): String =
      reg(n).fn(spark, sf).collect().map(_.toString).sorted.mkString("\n")

    val baseline = names.map(n => n -> canon(n)).toMap

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      // two interleaved waves, reversed order in the second so cache
      // population races cache reuse both ways
      val runs = names ++ names.reverse
      val results = Await.result(
        Future.traverse(runs)(n => Future(n -> canon(n))), 10.minutes)
      results.foreach { case (n, c) =>
        assert(c == baseline(n), s"$n diverged under concurrency")
      }
    } finally pool.shutdown()
  }

  test("a streaming query racing batch queries leaks no session conf") {
    // Round 9's pinnedStreamConf set shuffle.partitions=8 on the SHARED
    // session and restored it in finally — correct sequentially, but a
    // batch query planned concurrently on another thread would silently
    // plan at 8 partitions. Streaming now plans on a dedicated child
    // session; this race pins the parent's conf as never-written while
    // a streaming query runs, and the batch results as unchanged.
    val reg = SparkEntry.registry.map(q => q.name -> q).toMap
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    def canon(n: String): String =
      reg(n).fn(spark, sf).collect().map(_.toString).sorted.mkString("\n")
    val batchNames = Seq("q1_agg", "x_event_anomaly")
    val baseline = batchNames.map(n => n -> canon(n)).toMap
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      val stream = Future(canon("s7_stream_tumbling"))
      val sampled = Future.traverse((1 to 6).toList)(_ => Future {
        (spark.conf.get("spark.sql.shuffle.partitions"),
          batchNames.map(canon))
      })
      val streamRes = Await.result(stream, 5.minutes)
      assert(streamRes.nonEmpty)
      Await.result(sampled, 5.minutes).foreach { case (parts, res) =>
        assert(parts == parts0,
          "parent session shuffle.partitions mutated during streaming")
        batchNames.zip(res).foreach { case (n, c) =>
          assert(c == baseline(n), s"$n diverged while streaming ran")
        }
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    } finally pool.shutdown()
  }

  /** Fault injection for [[Overlap]]: one branch holds every core with
    * a job whose tasks would sleep for a minute, a sibling then throws.
    * The scope must rethrow the sibling's own exception (the long job's
    * cancellation error rides along as suppressed), cancel the long job
    * instead of waiting it out, free both released frames — a cached
    * one and a local checkpoint — restore the caller's job description,
    * and leave no non-daemon thread of its own running.
    */
  test("overlap: a failing branch cancels its siblings and frees the " +
      "scope's frames") {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    var released = Set.empty[Int]
    val threadsBefore = Thread.getAllStackTraces.keySet.asScala.toSet
    val boom = new IllegalStateException("injected branch failure")
    sc.setJobDescription("caller")
    try {
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException] {
        Overlap(spark) { s =>
          val cached = s.release(spark.range(1000).toDF("id").cache())
          assert(cached.count() == 1000L)
          s.release(spark.range(1000).toDF("id").localCheckpoint(true))
          released = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
          assert(released.size == 2,
            "expected one cached RDD and one checkpoint RDD")
          val long = s.fork("sleeps for a minute") {
            sc.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }
              .count()
          }
          s.fork("fails") {
            val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
            while (sc.statusTracker.getActiveJobIds().isEmpty &&
                System.nanoTime() < deadline) Thread.sleep(20)
            Thread.sleep(500) // let the long job's tasks start
            throw boom
          }
          s.join(long)
        }
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(err eq boom, s"scope rethrew $err, not the failing branch's own")
      assert(err.getSuppressed.exists(_.isInstanceOf[SparkException]),
        "the cancelled sibling's error is not attached as suppressed")
      assert(elapsed < 20.0,
        f"scope took $elapsed%.1f s — the long sibling was not cancelled")
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
      assert((sc.getPersistentRDDs.keySet & released).isEmpty,
        "released frames survived the failed scope")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val leaked = Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && !t.isDaemon && !threadsBefore(t))
      assert(leaked.isEmpty,
        s"non-daemon threads outlived the scope: ${leaked.map(_.getName)}")
    } finally sc.setJobDescription(null)
  }

  /** Round-15 directive 6: `x_ann_index_update` claims append-only
    * signature partitions make probes safe during maintenance. The
    * mechanism that makes the claim TRUE is the versioned snapshot
    * manifest (`Similarity.annIncrSnapshot`: pointer -> immutable file
    * list), because a raw directory listing mid-append can catch a
    * subset of the delta's bucket files — a torn candidate set. This
    * drill stands up the base index, then races a probe loop against
    * the delta append: every snapshot read during the race must
    * resolve to EXACTLY the base vector set or EXACTLY the base+delta
    * set (result-set membership, not just no-crash), and the final
    * read must be the full set.
    */
  test("a probe racing the incremental-index append sees base or " +
      "base+delta, never a torn read") {
    import graft.ext.Similarity
    val path = Similarity.annIncrBase(spark, sf)
    def snapIds(): Set[Long] = Similarity.annIncrSnapshot(spark, path)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val baseIds = snapIds()
    val allIds = graft.io.Sources.table(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(baseIds == allIds.filter(_ % 5 != 4),
      "base snapshot is not the expected base vector set")

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val prober = Future {
        val seen = scala.collection.mutable.ListBuffer[Set[Long]]()
        while (!stop.get) seen += snapIds()
        seen.toList
      }
      val updater = Future(Similarity.annIncrAppend(spark, sf))
      Await.result(updater, 5.minutes)
      stop.set(true)
      val racedSnaps = Await.result(prober, 5.minutes)
      assert(racedSnaps.nonEmpty, "probe loop never sampled — no race")
      racedSnaps.foreach { s =>
        assert(s == baseIds || s == allIds,
          s"torn snapshot: ${s.size} vectors (base ${baseIds.size}, " +
            s"full ${allIds.size}) — " +
            s"unexpected ids ${(s -- allIds).take(5)}, " +
            s"partial delta ${((s -- baseIds) != (allIds -- baseIds)) &&
              (s -- baseIds).nonEmpty}")
      }
      // the post-append snapshot is the full set — the pointer flipped
      assert(snapIds() == allIds,
        "post-append snapshot does not expose the delta")
    } finally pool.shutdown()
  }
}
