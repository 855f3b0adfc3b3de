package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** A named engine query: the Spark implementation plus an optional DuckDB
  * oracle SQL (ANSI, runnable on the same parquet tables). `bench = true`
  * marks headline queries timed by [[graft.Bench]]; `benchDefault = false`
  * excludes a query from Bench's all-queries run (used for superseded
  * API-compatibility demos — they stay registered, verified, and
  * invariant-tested, but don't count against the engine's headline total).
  *
  * `benchFn`, when set, is the formulation [[graft.Bench]] times instead
  * of `fn`. Used where the oracle-checkable formulation deliberately
  * adds verification-only work that the production plan would never run
  * (e.g. a band-oracle that recomputes an exact aggregate next to its
  * sketch): Verify keeps hash-checking `fn`, the bench keeps measuring
  * the scale path. The two formulations must compute the same operator —
  * the invariant specs pin them together.
  *
  * This is the registration unit for every operator in SURVEY.md §2: each
  * module exposes a `qs: Seq[Q]` and [[SparkEntry]] concatenates them.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    bench: Boolean = false,
    benchDefault: Boolean = true,
    doc: String = "",
    benchFn: Option[(SparkSession, String) => DataFrame] = None,
    confs: Map[String, String] = Map.empty)

object Q {
  /** Session-conf overrides applied (via [[Sessions.withConfs]]) around
    * the execution of queries whose aggregation state is k-BOUNDED.
    *
    * TypedImperativeAggregates (topk_structs, simhash_agg) run under
    * ObjectHashAggregateExec, whose in-memory hash map falls back to
    * SORT-based aggregation after just 128 distinct keys
    * (spark.sql.objectHashAggregate.sortBased.fallbackThreshold default
    * — set that low because object states are opaque to the memory
    * manager). For the tagged queries the states are k-bounded (top-k
    * heaps, fixed-width simhash counters: ~0.2 KB each), so the default
    * turns any >128-group top-k into a full sort of the PRE-aggregation
    * rows — measured on the 500k-vector drill fixture: the knn vote's
    * 10k query groups pushed ~970M joined candidate rows into a
    * per-task sort+spill (20+ min stage) where hash aggregation holds
    * 10k x 0.2 KB = 2 MB and finishes in seconds; it also disables
    * effective map-side partial top-k, so the shuffle carries raw
    * candidates instead of per-task heaps. 256k keys x ~0.2 KB bounded
    * state ~= 50 MB/task — safe at any executor size we'd deploy.
    *
    * Scoped PER-QUERY, not set globally in [[Sessions.local]]: raising
    * the dial session-wide would also remove the sort-based safety
    * valve for aggregates with UNBOUNDED states (collect_list/
    * collect_set) below the threshold — states the memory manager
    * cannot see or spill — so a library user's 200k-group collect_list
    * would OOM where the stock default degrades to disk-backed sort.
    * `OperatorInvariantsSpec` pins the tagged set: every tagged query's
    * plan runs an ObjectHashAggregate of engine k-bounded aggregates
    * and none aggregates collect_list/collect_set.
    */
  val KBoundedAggConfs: Map[String, String] = Map(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      (1 << 18).toString)

  /** The band-oracle verdict, one row: `recall_ok` = the approximate
    * run's `found` rows hit at least `minRecall` of the `truth` rows
    * (matched on `keys`), and with `withFp` first
    * `no_false_positives` = no found row lies outside the truth set.
    * A band-oracled query emits its engine-independent truth rows
    * cross-joined with this row, and its DuckDB oracle pins the
    * booleans TRUE.
    */
  def recallVerdict(truth: DataFrame, found: DataFrame, keys: Seq[String],
      minRecall: Double, withFp: Boolean): DataFrame = {
    val t = truth.select(keys.map(col): _*)
    val counts = t.agg(count(lit(1)).as("n_truth"))
      .crossJoin(t.join(found, keys, "left_semi")
        .agg(count(lit(1)).as("n_hit")))
    val recallOk = (col("n_hit") >= col("n_truth") * minRecall)
      .as("recall_ok")
    if (!withFp) counts.select(recallOk)
    else counts
      .crossJoin(found.join(t, keys, "left_anti")
        .agg(count(lit(1)).as("n_fp")))
      .select((col("n_fp") === 0).as("no_false_positives"), recallOk)
  }
}

/** The one way to free a cached or checkpointed frame ([[free]]), and
  * the two resets: [[clearDerived]] for what work outside every scope
  * cached, [[clear]] for that plus the raw-table tier. Every frame the
  * engine caches belongs to an [[Overlap]] scope or to the raw-table
  * tier; Overlap's class doc states the ownership rule and which memos
  * stay process-wide.
  */
object Memos {
  /** Release a cached OR checkpointed frame. `Dataset.unpersist` alone
    * does nothing to a local checkpoint: its blocks belong to the
    * checkpointed RDD under the frame's `LogicalRDD`, not to a cache
    * entry, so that RDD is unpersisted directly.
    */
  def free(df: Dataset[_]): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD
        if l.rdd.getStorageLevel.isValid =>
      l.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Free and forget what work outside every [[Overlap]] scope cached
    * or memoized (the process root); the raw tier stays.
    */
  def clearDerived(): Unit = Overlap.closeRoot()

  /** [[clearDerived]], then unpersist and forget the raw tier too. */
  def clear(): Unit = { clearDerived(); io.Sources.uncacheTables() }
}

/** Session factory with the engine's standard configs.
  *
  * - ANSI off: the reference (PySpark, pre-ANSI defaults) relies on
  *   cast-failure => null semantics (`pre_analysis.py:244-258` uses failed
  *   `to_timestamp`/int casts as its validity probe). Spark 4 defaults
  *   ANSI on, so we opt out explicitly.
  * - UTC session TZ so timestamps hash-match the DuckDB oracle.
  * - AQE on; shuffle partitions sized for local mode, not the 200 default.
  */
object Sessions {
  /** The APP-scoped memo key (round-16 directive 1/2: every memo key
    * in the engine now derives from one of the two named scopes here).
    * `spark.sparkContext.applicationId` is constant for the lifetime of
    * the SparkContext and SHARED by every SparkSession cloned from it,
    * unlike an identity- or UUID-keyed session handle, which changes
    * whenever a harness hands the engine a different session wrapper
    * over the same context — the round-15 driver bench ran extra LBFGS
    * fits inside the timed window with unchanged code, the exact
    * failure mode an identity-keyed memo cannot survive in a foreign
    * harness.
    *
    * App scope is for state whose VALUE is session-free:
    *  - model memos (fitted k-means/PCA/LBFGS/IVF): driver-side
    *    numbers, deterministic given (dir + the pinned fit layout) —
    *    bit-identical whichever session fits them;
    *  - the assembled/signals fit-input frames: cached read-only views
    *    consumed only by those fits — sessions cloned from one context
    *    share its cache manager, and no per-session planning rule
    *    targets their shape, so one copy serves the app.
    * A STOPPED context yields a fresh applicationId, so nothing leaks
    * across contexts.
    */
  def appKey(spark: SparkSession, dir: String): String =
    s"${spark.sparkContext.applicationId}/$dir"

  /** The SESSION-scoped memo key — the documented exception to
    * app-wide sharing (round-17; the directive-2 unification was tried
    * and reverted for these tiers with a failing test to show for it).
    * A cached DataFrame pins PLANNING to its birth session: derived
    * Datasets inherit `df.sparkSession`, so a frame resolved once
    * under session A is analyzed and optimized under A's extensions
    * forever after, whichever session asks for it. The raw-table tier
    * and the similarity corpus feed plans that per-session Catalyst
    * flags must see — `AnnIndexRewrite`/`NgramChainRewrite` build the
    * SAME logical shape inside a flag-enabled `newSession()` child, and
    * an app-keyed corpus frame served from the parent session makes the
    * child's rule silently miss (`AnnIndexRewriteSpec` "the drill's
    * branch assertion" fails exactly this way) — or, worse, a frame
    * born in a flag-enabled child would leak the rewrite INTO parent
    * queries. So frame tiers whose consumers are session-flag-sensitive
    * stay session-scoped; the recompute cost under a wrapping harness
    * is one cached scan per table (bounded by the dataset), not a
    * model refit. Identity of the session object is the scope
    * (SparkSession exposes no public per-session id), but derived HERE
    * so no call site hand-rolls a third keyspace.
    */
  def sessionKey(spark: SparkSession, dir: String): String =
    s"${System.identityHashCode(spark)}/$dir"

  /** Run `body` with session-conf overrides set, restoring each key's
    * prior state (value or unset) afterwards — the scoping primitive
    * for [[Q.confs]]: planning happens at action time, so the override
    * must bracket the whole build-and-execute of one query and may not
    * leak into the next. No-op (no save/restore churn) when empty.
    */
  def withConfs[T](spark: SparkSession, confs: Map[String, String])
      (body: => T): T = {
    if (confs.isEmpty) body
    else {
      val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      // set INSIDE the try: if a set throws (typed-conf parse error,
      // non-modifiable key), the keys already applied must still be
      // restored — a leak here contaminates every later query on the
      // session, the exact cross-query bleed this helper exists to stop
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        body
      }
      finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors.toString),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive timestamp[us] parquet (the round-8 testdata generation)
      // reads as LTZ TimestampType, not TIMESTAMP_NTZ: watermarks
      // reject NTZ event time, and with the UTC session TZ the values
      // are identical — this pins the engine to one timestamp type
      // across testdata generations
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // allow dynamic-partition-pruning subqueries even when no
      // broadcast exchange is reusable: the ANN serving index is
      // signature-PARTITIONED and its probe joins on the partition key
      // from a small probe-pair frame — with the default
      // reuseBroadcastOnly=true Spark plans the DPP filter then degrades
      // it to literal true (measured: partitionFilters =
      // dynamicpruningexpression(true), every bucket dir opened). The
      // standalone subquery is one dedup over the small probe side and
      // buys opening ONLY the probed signature directories — the 100 TB
      // contract of the index layout (BucketingSpec pins it).
      .config("spark.sql.optimizer.dynamicPartitionPruning" +
        ".reuseBroadcastOnly", "false")
      // NOTE: spark.sql.objectHashAggregate.sortBased.fallbackThreshold
      // is deliberately NOT raised here. The k-bounded top-k/simhash
      // queries that need it carry [[Q.KBoundedAggConfs]] and get it
      // scoped around their own execution — a session-wide raise would
      // remove the sort-based safety valve for UNBOUNDED collect_list/
      // collect_set states below the threshold (see Q.KBoundedAggConfs).
      .config("spark.sql.warehouse.dir", io.Sources.WarehouseDir)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
