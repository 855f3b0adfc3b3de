package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Q
import graft.io.Sources.{dirKey, rmTree, schemaOf, table, tmpDir}

/** Structured Streaming over the events table (SURVEY.md §2.10 [EXT]).
  *
  * The same tumbling-window aggregation as the batch op
  * `Eventing.e1TumblingWindow`, but executed as a streaming query:
  * `readStream` (file source) -> watermark -> windowed agg -> memory
  * sink, drained synchronously with `processAllAvailable`. Batch/stream
  * parity is exactly the Spark-native contract — one declarative plan,
  * two execution modes — so the DuckDB oracle for the batch twin also
  * oracles this.
  *
  * At scale the file source becomes Kafka and the memory sink a Delta /
  * parquet sink; watermark + windowed state bound memory per executor.
  *
  * Every query but [[streamLateData]] (which writes a file between two
  * triggers) drains through [[drain]]: [[drainToParquet]] for the
  * full-volume sinks, [[drainToMemory]] for the small complete-mode
  * aggregates, and `drain` itself for the foreachBatch upsert.
  * Streams plan on the pinned child session; a parquet sink is read
  * back on the CALLER's session, so the child's 8-partition conf stays
  * out of the batch read-back plan.
  */
object EventStream {

  /** The CHILD SparkSession every streaming query here plans on: shared
    * SparkContext / catalog / cache manager (so raw-table caches and the
    * cached parquet scans are shared with the batch side), isolated
    * SQLConf with the streaming micro-batch conf pinned — 8 shuffle
    * partitions (= state-store instances at stream start, committed into
    * the fresh checkpoint — per-instance commit overhead dominates at
    * bench scale, so 32 instances cost 4x the state round-trips of 8 for
    * the same data) and, unless `noData`, no trailing no-data
    * micro-batch (all sinks here emit eagerly; the no-data batch
    * contributes nothing but one more state commit cycle — except
    * [[streamLateData]], which NEEDS the no-data batch to commit the
    * advanced watermark and gets its own `noData = true` child).
    *
    * Through round 9 these two settings were set-and-RESTORED on the
    * shared session — correct in isolation, but a batch query planned
    * CONCURRENTLY on another thread of the same session would silently
    * plan at 8 shuffle partitions (the same session-global-conf hazard
    * class round 9 removed from pageRank/connectedComponents). A child
    * session makes the pin invisible outside the streaming plan by
    * construction. One child per (parent, noData) pair, memoized, so
    * [[graft.io.Sources.table]]'s session-identity-keyed raw memo stays
    * warm across the whole bench/verify run instead of re-caching per
    * query.
    */
  // WeakHashMap keyed by the PARENT session: when a parent becomes
  // unreachable (stopped and dropped by its owner), its entry — and
  // with it the child SessionStates, including the temp catalogs that
  // pin every memory-sink table registered on them — is collectable
  // instead of accumulating for the JVM lifetime. Values hold the
  // [default, noData] children.
  private val streamSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Array[SparkSession]]())
  private def streamSession(spark: SparkSession,
      noData: Boolean = false): SparkSession = {
    val slots = streamSessions.computeIfAbsent(spark,
      _ => new Array[SparkSession](2))
    val i = if (noData) 1 else 0
    slots.synchronized {
      if (slots(i) == null) {
        val s = spark.newSession()
        // newSession() inherits only BUILD-time SparkConf — a SQL conf
        // set at runtime on the parent (session timezone, ANSI mode)
        // would silently not apply to streaming plans. Copy exactly the
        // SEMANTIC confs at child creation — a curated list, not a
        // getAll snapshot: the shared session also carries transient
        // save/restore overrides (test guards, A/B caps), and freezing
        // whichever happened to be live when the FIRST streaming query
        // memoized the child would leak them into every later streaming
        // plan. (Inheritance boundary: confs the parent sets AFTER the
        // child is memoized still don't propagate — the memo trades
        // that for raw-cache reuse; a caller changing semantics mid-run
        // should build a new parent.)
        Seq("spark.sql.session.timeZone", "spark.sql.ansi.enabled")
          .foreach { k =>
            spark.conf.getOption(k).foreach(v => s.conf.set(k, v))
          }
        s.conf.set("spark.sql.shuffle.partitions", "8")
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
          noData.toString)
        slots(i) = s
      }
      slots(i)
    }
  }

  /** The events schema as the parquet file source must declare it when
    * `ts` is on-disk TIMESTAMP(NANOS) (which Spark surfaces only as a
    * raw nanosecond long, under nanosAsLong). [[eventsStream]] swaps the
    * `ts` field to TimestampType when the generation at hand is plain
    * timestamp[us].
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of the events table with `ts` normalized to
    * TimestampType(µs) regardless of the on-disk encoding. Driver
    * testdata generations have shipped `ts` both as TIMESTAMP(NANOS)
    * (a raw nanosecond long to Spark) and as plain timestamp[us]; one
    * batch footer read decides which conversion this generation needs —
    * the same probe the batch-side [[graft.io.Sources.table]] does. The
    * µs truncation of the nanos case matches DuckDB's, so the oracles
    * hold under either encoding.
    */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val onDiskTs = spark.read.parquet(s"$dir/events.parquet").schema
      .find(_.name == "ts").map(_.dataType).getOrElse(LongType)
    val tsIsLong = onDiskTs == LongType
    // mirror the batch-read type exactly (TIMESTAMP_NTZ for naive
    // timestamp[us] files under inferTimestampNTZ) so stream and batch
    // plans stay row- AND type-identical
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts" && !tsIsLong) f.copy(dataType = onDiskTs)
      else f))
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (tsIsLong) src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else src
  }

  /** Streaming scan of testdata table `name` under its declared schema. */
  private def tableStream(s: SparkSession, dir: String,
      name: String): DataFrame =
    s.readStream.schema(schemaOf(name))
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir)

  /** Start the query, process everything available, stop it even when
    * processing fails.
    */
  private def drain(w: DataStreamWriter[Row]): Unit = {
    val q = w.start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Drain `stream` into an append-mode parquet sink under
    * `tmpDir(sub)/dirKey(dir)` and read the sink back on `spark`, the
    * caller's session (not the pinned child). The sink and checkpoint
    * start fresh: a leftover checkpoint from an earlier code version
    * would silently skip the input files. The read declares
    * `stream.schema`, so a sink no row reached reads as zero rows where
    * schema inference would refuse the empty dir.
    */
  private[graft] def drainToParquet(spark: SparkSession, stream: DataFrame,
      sub: String, dir: String): DataFrame = {
    val out = tmpDir(sub) + "/" + dirKey(dir)
    rmTree(out)
    drain(stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt"))
    spark.read.schema(stream.schema).parquet(s"$out/data")
  }

  /** Drain `stream` into a complete-mode memory sink named
    * `<name>_<dirKey>` and return that table on the stream's session.
    */
  private def drainToMemory(stream: DataFrame, name: String,
      dir: String): DataFrame = {
    val qname = name + "_" + dirKey(dir)
    drain(stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(qname))
    stream.sparkSession.table(qname)
  }

  def streamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(streamSession(spark), dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("n_events"),
        col("sum_value"))
    drainToMemory(agg, "stream_tumbling", dir).orderBy(col("ws"))
  }

  private val streamTumblingSql =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1 ORDER BY ws"""

  /** Compact event for the stateful sessionizer. */
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** One emitted session. */
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset stateful-processing surface (§2.10 [EXT]).
    * Same 30-minute-gap semantics as `Eventing.e2SessionWindow`, and it
    * hash-matches the SAME DuckDB oracle: a custom state op proven
    * equivalent to its declarative twin.
    *
    * In batch mode each key's events arrive as one group (sorted here);
    * under a stream the GroupState would carry the open session across
    * triggers with an event-time timeout.
    */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMicros = 30L * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Session], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[Session]]) =>
          // full microsecond precision: Timestamp.getTime is ms-truncated
          // while the events data carries sub-ms components — gaps and
          // ordering must use micros or boundary sessions diverge from
          // the SQL oracle / session_window twin
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000 + t.getNanos / 1000
          val sorted = evs.toArray.sortBy(e => (micros(e.ts), e.value))
          val out = List.newBuilder[Session]
          var start: java.sql.Timestamp = null
          var prevMicros = 0L
          var n = 0L
          var sum = 0.0
          sorted.foreach { e =>
            val tMicros = micros(e.ts)
            if (start == null || tMicros - prevMicros >= gapMicros) {
              if (start != null)
                out += Session(user, start, n,
                  graft.functions.Rounding.jvm(sum, 2))
              start = e.ts; n = 0L; sum = 0.0
            }
            prevMicros = tMicros
            n += 1
            sum += e.value
          }
          if (start != null)
            out += Session(user, start, n, graft.functions.Rounding.jvm(sum, 2))
          out.result().iterator
      }
  }

  /** t2 entry: the stateful sessionizer over the events table, checked
    * against the SAME oracle SQL as the declarative session_window op.
    */
  def statefulSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = table(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("value")).as[Ev]
    sessionize(evs).toDF()
      .orderBy(col("user_id"), col("session_start"))
  }

  private val statefulSessionsSql =
    """WITH gaps AS (
         SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       sess AS (
         SELECT user_id, ts, value,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS sid
         FROM gaps)
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM sess GROUP BY user_id, sid
       ORDER BY user_id, session_start"""

  /** Streaming deduplication: `dropDuplicates` over a semantic event
    * key ((user, type, minute) — "the same action reported twice within
    * a minute is one event") with a watermark bounding the dedup state,
    * drained through the memory sink and summarized per event type.
    * The standard exactly-once-ingest shape: at scale the source is
    * Kafka (at-least-once) and this operator is what makes the
    * downstream tables idempotent; the watermark is what keeps the
    * dedup state finite.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(streamSession(spark), dir)
      .withColumn("minute", date_trunc("minute", col("ts")))
      .withWatermark("minute", "2 hours")
      .dropDuplicates("user_id", "event_type", "minute")
      .select(col("user_id"), col("event_type"), col("minute"))
    // file sink, not the memory sink: the deduped row stream is
    // full-volume data and belongs on executors/storage — only the
    // summary below is driver-sized.
    // dropDuplicates emits first-seen rows eagerly in append mode; the
    // watermark only evicts state — streamSession's settings are
    // exactly the right ones here (it cut streamStreamJoin 12s->2s).
    drainToParquet(spark, deduped, "stream_dedup", dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy(col("event_type"))
  }

  private val streamDedupSql =
    """SELECT event_type, count(*) AS n_unique FROM (
         SELECT DISTINCT user_id, event_type,
           time_bucket(INTERVAL '1 minute', ts) AS minute
         FROM events) t
       GROUP BY event_type ORDER BY event_type"""

  /** Stream-static enrichment join: the event stream joined to the
    * (batch) customer dim, aggregated per market segment. The static
    * side is re-read per micro-batch and broadcast — the canonical
    * pattern for enriching a stream against a slowly-changing dim
    * without any stream-stream state.
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark)
    val dim = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventsStream(s, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    drainToMemory(enriched, "stream_static", dir)
      .orderBy(col("c_mktsegment"))
  }

  private val streamStaticJoinSql =
    """SELECT c_mktsegment, count(*) AS n_events,
       round(sum(value), 2) AS sum_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Watermarked stream-stream interval join — the hardest streaming
    * case: each side buffers state until the watermark plus the join's
    * time bound proves no more matches can arrive. Semantics:
    * view→purchase attribution — every (view, purchase) pair of the
    * same user with the purchase inside the hour after the view. Both
    * branches of one self-joined stream carry a 2-hour watermark and
    * the condition time-bounds BOTH event times, so per-key state is
    * finite regardless of stream length. The full pair stream lands in
    * a file sink (executor-sized, like [[streamDedup]]); only the
    * per-user attribution summary is driver-sized. Hash-matches the
    * DuckDB interval self-join on the same data.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(streamSession(spark), dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    val pairs = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"),
      "inner")
    // Inner-join matches emit eagerly (the watermark only evicts
    // state) — streamSession's settings cut this query 12s->2s when
    // they landed in round 5.
    drainToParquet(spark, pairs, "stream_stream", dir)
      .groupBy(col("v_user").as("user_id"))
      .agg(count(lit(1)).as("n_attributed"),
        round(sum(col("p_value")), 2).as("attributed_value"))
      .orderBy(col("user_id"))
  }

  private val streamStreamJoinSql =
    """SELECT v.user_id AS user_id, count(*) AS n_attributed,
         round(sum(p.value), 2) AS attributed_value
       FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
       JOIN (SELECT user_id, ts, value FROM events
             WHERE event_type = 'purchase') p
         ON v.user_id = p.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
       GROUP BY v.user_id ORDER BY user_id"""

  /** Streaming upsert sink via foreachBatch: every micro-batch merges
    * the latest event per user into a keyed JDBC state table — the
    * "current state per entity" materialization a serving layer reads.
    * The merge is read-union-dedup-overwrite against embedded Derby
    * (stage table first, so the state table is never read and dropped
    * in the same job; with a MERGE-capable warehouse sink the same
    * foreachBatch body collapses to one MERGE INTO). Keyed dedup takes
    * the max event time per user with `event_id` as the tie-break
    * sort key — determinism is guaranteed by the schema ((user_id, ts,
    * event_id) is necessarily unique), not by an assumption about the
    * fixture's ts distribution. Emits the final state table summarized
    * per event_type.
    *
    * Scale: per-batch cost is |state ∪ batch| through one keyed
    * window — at warehouse scale the state side stays in the sink and
    * MERGE pushes the rendezvous there; nothing here is driver-sized.
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = tmpDir("stream_upsert") + "/" + dirKey(dir)
    // Derby keeps a database BOOTED in the JVM after q.stop(): deleting
    // its files out from under the booted instance leaves the next
    // create=true connection resolving to the stale in-memory boot.
    // Shut it down first; the 08006 "shutdown succeeded" SQLException
    // (or XJ004 "no such database" on first run) is the expected path.
    try java.sql.DriverManager
      .getConnection(s"jdbc:derby:$base/db;shutdown=true")
    catch { case _: java.sql.SQLException => () }
    rmTree(base)
    val url = s"jdbc:derby:$base/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // plan on the pinned CHILD session like every other op here: the
    // micro-batch jobs (and the foreachBatch window below, via
    // batch.sparkSession) must snapshot the child's pinned confs, not
    // whatever transient overrides are live on the shared parent —
    // this was the one streaming query planned on the parent
    val s = streamSession(spark)
    val src = eventsStream(s, dir)
      .select(col("user_id"), col("event_id"), col("ts").as("ts_ev"),
        col("event_type"), col("value"))
    drain(src.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        val existing = scala.util.Try(
          s.read.jdbc(url, "user_state", props)).toOption
        val merged = existing.fold(batch)(batch.unionByName(_))
        val latest = merged
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts_ev").desc, col("event_id").desc)))
          .filter(col("rk") === 1).drop("rk")
        latest.write.mode("overwrite").jdbc(url, "user_state_stage", props)
        s.read.jdbc(url, "user_state_stage", props)
          .write.mode("overwrite").jdbc(url, "user_state", props)
        // drop the stage table after the swap: a partial failure on a
        // LATER run must never find (and silently read) a stale stage
        val conn = java.sql.DriverManager.getConnection(url)
        try conn.createStatement().execute("DROP TABLE user_state_stage")
        finally conn.close()
        ()
      })
    spark.read.jdbc(url, "user_state", props)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        expr("floor(sum(value) * 100 + 0.5) / 100").as("sum_value"))
      .orderBy(col("event_type"))
  }

  private val streamUpsertSql =
    """WITH latest AS (
         SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rk
         FROM events)
       SELECT event_type, count(*) AS n_users,
         floor(sum(value) * 100 + 0.5) / 100 AS sum_value
       FROM latest WHERE rk = 1 GROUP BY event_type ORDER BY event_type"""

  /** Streaming quality gate — the curation tier's map-only signals
    * ([[graft.ext.Curation.qualityGate]]'s length / word-shape /
    * repetition checks) applied to `documents` as a STREAM: because the
    * three signals are stateless scan-projection arithmetic, they run
    * per micro-batch with zero state, no watermark, and no shuffle
    * before the sink — the proof that the batch curation stages are
    * streaming-safe as written. The model-dependent fluency signal is
    * deliberately absent: on a stream it is a static-model join
    * (yesterday's bigram tables joined per batch — exactly
    * [[streamStaticJoin]]'s shape), not a per-batch recomputation.
    * Output: the gate manifest summarized per (reason_mask, keep).
    */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val src = tableStream(streamSession(spark), dir, "documents")
    // the SAME projection the batch gate runs (Curation.gateSignals) —
    // not a copy: the stream literally executes the batch stage's code
    val gated = graft.ext.Curation.gateSignals(src
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("words")))
      .withColumn("reason_mask",
        (when(col("s_len"), 0).otherwise(1)
          + when(col("s_shape"), 0).otherwise(2)
          + when(col("s_rep"), 0).otherwise(4)).cast("int"))
      .select(col("doc_id"), col("lang"), col("reason_mask"),
        (col("reason_mask") === 0).as("keep"))
    drainToParquet(spark, gated, "stream_gate", dir)
      .groupBy(col("reason_mask"), col("keep"))
      .agg(count(lit(1)).cast("int").as("n_docs"))
      .orderBy(col("reason_mask"))
  }

  // the signal CTE + predicates interpolate from Curation's shared
  // constants — the stream oracle cannot drift from the batch oracle
  private val streamQualityGateSql =
    s"""WITH t AS (
         SELECT doc_id, lang, string_split(text, ' ') AS words
         FROM documents),
       base AS (
         ${graft.ext.Curation.gateBaseCteSql}),
       g AS (
         SELECT doc_id,
           (CASE WHEN ${graft.ext.Curation.sLenSql} THEN 0 ELSE 1 END)
           + (CASE WHEN ${graft.ext.Curation.sShapeSql} THEN 0 ELSE 2 END)
           + (CASE WHEN ${graft.ext.Curation.sRepSql} THEN 0 ELSE 4 END)
             AS reason_mask
         FROM base)
       SELECT CAST(reason_mask AS INT) AS reason_mask,
         reason_mask = 0 AS keep, CAST(count(*) AS INT) AS n_docs
       FROM g GROUP BY reason_mask ORDER BY reason_mask"""

  /** [EXT] Streaming anomaly screen — [[graft.ext.Governance]]'s
    * z-score governance check with the event log as a STREAM: each
    * micro-batch projects to integer cents and scores against the
    * broadcast per-type stats computed BATCH-side over the full
    * events table. NOTE the reference here is the same table being
    * streamed (so each event is scored against a distribution that
    * includes itself) — that is what the DuckDB oracle replays. A
    * real deployment would use yesterday's stats as the standing
    * reference (the s14/s15 base/delta posture): filter the stats
    * frame to the base partition and mirror that WHERE clause in the
    * oracle.
    * Zero stream state: the projection, broadcast join, z arithmetic,
    * and threshold are all map-only — and they are literally
    * [[graft.ext.Governance.centsProjection]]/[[graft.ext.Governance.withZ]],
    * the batch screen's code, not a copy (the `gateSignals`
    * discipline). Flagged events land in a file sink; the registered
    * output is the per-type flag summary, fully DuckDB-replayable
    * because nothing depends on micro-batch boundaries.
    */
  def streamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark)
    val flagged = graft.ext.Governance
      .withZ(graft.ext.Governance.centsProjection(eventsStream(s, dir)),
        graft.ext.Governance.typeStats(s, dir))
      .filter(col("az_bps") >= graft.ext.Governance.AnomalyFlagBps)
      .select(col("event_id"), col("event_type"), col("az_bps"))
    drainToParquet(spark, flagged, "stream_anomaly", dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("int").as("n_flagged"),
        min(col("event_id")).as("first_event"),
        max(col("az_bps")).as("max_az_bps"))
      .orderBy(col("event_type"))
  }

  private val streamAnomalySql =
    s"""WITH c AS (SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
       s AS (SELECT event_type, count(*) AS n, sum(cents) AS sc,
               sum(cents * cents) AS sc2 FROM c GROUP BY event_type),
       z AS (SELECT c.event_id, c.event_type,
               CAST(floor(abs(
                 CASE WHEN (sc2 - CAST(sc AS DOUBLE) * sc / n) / n > 0
                   THEN (c.cents - CAST(sc AS DOUBLE) / n)
                     / sqrt((sc2 - CAST(sc AS DOUBLE) * sc / n) / n)
                   ELSE 0 END)
                 * 10000 + 0.5) AS BIGINT) AS az_bps
             FROM c JOIN s ON c.event_type = s.event_type)
       SELECT event_type, CAST(count(*) AS INT) AS n_flagged,
         min(event_id) AS first_event, max(az_bps) AS max_az_bps
       FROM z WHERE az_bps >= ${graft.ext.Governance.AnomalyFlagBps}
       GROUP BY event_type ORDER BY event_type"""

  /** Streaming incremental-ingest dedup gate —
    * [[graft.ext.Dedup.incrementalDedup]]'s EXACT layer with the delta
    * as a STREAM: each micro-batch of arriving documents (the fixture's
    * `doc_id % 5 == 4` delta partition, filtered in-stream) computes
    * its content fingerprint map-side and left-joins the STATIC base
    * corpus fingerprint set ([[streamStaticJoin]]'s
    * broadcast-per-batch shape) — "is this document already in
    * yesterday's corpus" decided with ZERO stream state, no watermark,
    * no pre-sink shuffle. The near-dup (Jaccard) layer deliberately
    * stays batch-side: its posting-list state is a standing index, not
    * per-batch arithmetic — on a stream it is the same static join
    * against yesterday's postings, refreshed by the batch op between
    * increments. Per-doc verdicts land in a file sink (full-volume,
    * executor-sized); only the verdict summary is driver-sized.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark)
    val src = tableStream(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 4)
    val baseFp = table(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5)) =!= 4)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("exact_match"))
    val verdicts = src
      .withColumn("fp", md5(col("text").cast("binary")))
      .join(broadcast(baseFp), Seq("fp"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact")
          .otherwise("novel").as("verdict"),
        coalesce(col("exact_match"), lit(-1L)).as("match_id"))
    drainToParquet(spark, verdicts, "stream_incr", dir)
      .groupBy(col("verdict"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("verdict"))
  }

  /** [EXT] Streaming NEAR-dup candidate layer — completes
    * [[streamIncrementalDedup]], which reconciles only the exact-md5
    * layer against the static base: the banded-MinHash candidate probe
    * as a BROADCAST STANDING INDEX the stream joins every micro-batch.
    *
    * Build (batch side, refreshed between increments — "yesterday's
    * index", the same posture as s14's fingerprint set): each BASE
    * doc's 16 permutation min-hashes fold into 8 two-row band
    * signatures; index rows are (band, sig, base_id, base_grams).
    *
    * Probe (stream side, ZERO state): each micro-batch computes the
    * same signatures for its delta docs as PURE COLUMN EXPRESSIONS —
    * `array_min(transform(grams, g -> xxhash64(i, g)))` per
    * permutation, not the batch op's explode+groupBy (a streaming
    * aggregation would demand watermark state; the expression form is
    * map-only) — joins the broadcast index on (band, sig), and
    * exact-verifies candidates IN THE SAME MAP TASK (the index carries
    * each base doc's gram set), so nothing unverified reaches the
    * sink. Multi-band collisions of one pair dedupe at read-back.
    *
    * 100 TB posture: the broadcast index is the verify-scale stand-in
    * for a bucketed signature table the probe would shuffle-join
    * (signature = bucket key, exactly [[graft.ext.Similarity]]'s ANN
    * index layout), with exact-verify pulling base gram sets by
    * base_id; per-batch candidate work is |delta × colliding buckets|,
    * never base².
    *
    * Registered output = the band-oracle pattern: the BATCH truth rows
    * ([[graft.ext.Dedup.incrementalNearBest]], which DuckDB replays
    * from the posting-list CTEs) plus two booleans distilled from the
    * streamed run — candidate recall >= 0.9 of the batch near
    * verdicts, and zero sink rows that are below-threshold OR whose
    * streamed jaccard disagrees with a batch-side recompute from the
    * gram sets (the recompute makes the check non-tautological: the
    * writer plan itself enforces the threshold on the streamed value).
    */
  /** The PRODUCTION probe alone — standing-index build, streamed
    * probe, and the raw verified sink read back. No batch truth
    * replay: that is verification-only work the serving pipeline never
    * runs, so [[graft.Bench]] times this via `benchFn` (the
    * `x_ann_ivf` / `x_curation_neardup` convention) while Verify keeps
    * hash-checking the band-oracled [[streamNearDupProbe]] wrapper.
    */
  private[graft] def streamNearDupProbeRun(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.ext.Dedup.{MinhashPerms, bandStructs}
    def withSigs(df: DataFrame): DataFrame = {
      val withMins = (0 until MinhashPerms).foldLeft(df) { (d, i) =>
        d.withColumn(s"m$i",
          expr(s"array_min(transform(grams, g -> xxhash64($i, g)))"))
      }
      withMins.withColumn("bs", explode(array(bandStructs: _*)))
        .withColumn("band", col("bs.band"))
        .withColumn("sig", col("bs.sig"))
    }
    val s = streamSession(spark)
    val baseIdx = withSigs(graft.ext.Dedup.withGrams(
        table(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(5)) =!= 4)))
      .select(col("doc_id").as("base_id"), col("grams").as("base_grams"),
        col("band"), col("sig"))
    val src = tableStream(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 4)
    val verified = withSigs(graft.ext.Dedup.withGrams(src))
      .select(col("doc_id"), col("grams"), col("band"), col("sig"))
      .join(broadcast(baseIdx), Seq("band", "sig"), "inner")
      .withColumn("n_inter",
        size(array_intersect(col("grams"), col("base_grams"))))
      .withColumn("jaccard", graft.ext.Dedup.jaccard(col("n_inter"),
        size(col("grams")), size(col("base_grams"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_id"), col("base_id"), col("jaccard"))
    drainToParquet(spark, verified, "stream_neardup", dir)
  }

  /** Best base match per delta doc out of the probe's verified sink —
    * ONE definition shared by the benched deliverable and the verified
    * wrapper, so a tie-break or dedup-key change can never
    * desynchronize what the bench times from what Verify hash-checks.
    * Multi-band collisions of one pair dedupe here; rank by jaccard
    * desc with base_id as the deterministic tie-break.
    */
  private def bestPerDoc(streamed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("base_id"))
    streamed.dropDuplicates("doc_id", "base_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("base_id"), col("jaccard"))
  }

  /** The serving deliverable [[graft.Bench]] times: best base match
    * per delta doc out of the probe's verified sink.
    */
  private def streamNearDupProbeBench(spark: SparkSession, dir: String)
      : DataFrame =
    bestPerDoc(streamNearDupProbeRun(spark, dir)).orderBy(col("doc_id"))

  def streamNearDupProbe(spark: SparkSession, dir: String): DataFrame = {
    val streamed = streamNearDupProbeRun(spark, dir)
    val streamBest = bestPerDoc(streamed).select(col("doc_id"), col("base_id"))
    val truth = graft.ext.Dedup.incrementalNearBest(spark, dir)
    // NON-tautological false-positive check: the writer plan already
    // enforces `jaccard >= 0.5` on the STREAMED value two lines before
    // the sink, so re-filtering the sink on the same column could
    // never fail. Instead RECOMPUTE the jaccard batch-side from the
    // gram sets for every sink pair and require the streamed value to
    // match it exactly at the 1e-4 quantum AND clear the threshold —
    // this catches stream-side signature/gram/quantization drift, not
    // just filter placement. The sink is delta-best-sized, so the
    // recompute joins are trivially small.
    val grams = graft.ext.Dedup.withGrams(table(spark, dir, "documents"))
      .select(col("doc_id"), col("grams"))
    val recomputed = streamed
      .join(grams, Seq("doc_id"))
      .join(grams.select(col("doc_id").as("base_id"),
        col("grams").as("base_grams")), Seq("base_id"))
      .withColumn("n_inter",
        size(array_intersect(col("grams"), col("base_grams"))))
      .withColumn("jaccard_batch", graft.ext.Dedup.jaccard(col("n_inter"),
        size(col("grams")), size(col("base_grams"))))
    val nBad = recomputed.filter(col("jaccard") < 0.5 ||
        col("jaccard") =!= col("jaccard_batch"))
      .agg(count(lit(1)).as("n_bad"))
    val verdict = Q.recallVerdict(truth, streamBest,
        Seq("doc_id", "base_id"), minRecall = 0.9, withFp = false)
      .crossJoin(nBad)
      .select(col("recall_ok").as("stream_recall_ok"),
        (col("n_bad") === 0).as("stream_no_false_positives"))
    truth.crossJoin(broadcast(verdict))
      .select(col("doc_id"), col("base_id"), col("jaccard"),
        col("stream_recall_ok"), col("stream_no_false_positives"))
      .orderBy(col("doc_id"))
  }

  private val streamNearDupProbeSql =
    s"""WITH ${graft.ext.Dedup.incrementalNearCtes}
       SELECT doc_id, base_id, jaccard,
         TRUE AS stream_recall_ok, TRUE AS stream_no_false_positives
       FROM best ORDER BY doc_id"""

  private val streamIncrementalDedupSql =
    """WITH basefp AS (SELECT md5(text) AS fp, min(doc_id) AS exact_match
                FROM documents WHERE doc_id % 5 <> 4 GROUP BY md5(text)),
       d AS (SELECT doc_id, md5(text) AS fp FROM documents
             WHERE doc_id % 5 = 4),
       v AS (SELECT d.doc_id,
               CASE WHEN b.exact_match IS NOT NULL THEN 'exact'
                    ELSE 'novel' END AS verdict
             FROM d LEFT JOIN basefp b USING (fp))
       SELECT verdict, CAST(count(*) AS INT) AS n_docs,
         min(doc_id) AS first_doc
       FROM v GROUP BY verdict ORDER BY verdict"""

  /** [EXT] Streaming k-NN label serving — the ONLINE end of the
    * `x_knn_ann` serving story: newly-arriving embeddings (the
    * `vec_id % 5 == 4` delta, filtered in-stream — the s14/s15
    * incremental-ingest convention) are labeled per micro-batch by
    * 5-NN majority vote against the STANDING base index, broadcast
    * like s15's band-signature index. Every stage before the sink is
    * map-only with ZERO stream state: the norm and LSH signature are
    * pure column expressions (codegen `vec_dot` / `lsh_sig`), the
    * Hamming <= [[graft.ext.Similarity.KnnProbeHamming]] probe set is
    * a static explode, candidates come from one broadcast-hash join,
    * and the bps-quantized score is arithmetic. Scored candidate rows
    * land in a file sink (executor-sized — bounded by probed-bucket
    * occupancy per query, never base x stream); the exact rank + vote
    * run at read-back, so nothing depends on micro-batch boundaries
    * and DuckDB replays the whole thing ([[graft.ext.Similarity.streamKnnProbeSql]]).
    *
    * 100 TB posture: this is model-free online inference on the
    * streaming engine — the broadcast index refreshes between
    * increments via `x_ann_index_update`'s partition-local append,
    * and per-batch cost is |delta| x probed-bucket occupancy. The
    * probe explode does amplify each arriving vector's embedding
    * payload by the mask count IN FLIGHT — deliberately accepted
    * here, unlike the batch twin's two-broadcast shape: these rows
    * are map-transient (explode and join in the same task, never
    * crossing an exchange or reaching the sink), and the alternative
    * — re-attaching the payload by q_id after the bucket join — would
    * be a stream-to-stream self-join, i.e. real watermarked state for
    * what is otherwise a zero-state pipeline.
    */
  def streamKnnProbe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = streamSession(spark)
    graft.functions.VectorOps.register(s)
    val all = graft.ext.Similarity.corpus(s, dir)
    val nBits = graft.ext.Similarity.autoBits(all.count())
    graft.functions.LshSignature.register(s, nBits)
    val baseIdx = all.filter(pmod(col("vec_id"), lit(5)) =!= 4)
      .withColumn("sig", expr("lsh_sig(emb)"))
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("emb").as("c_emb"), col("nrm").as("c_nrm"), col("sig"))
    val flips = (1 until (1 << nBits))
      .filter(m => Integer.bitCount(m) <=
        graft.ext.Similarity.KnnProbeHamming)
    val src = tableStream(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(5)) === 4)
      .withColumn("emb",
        expr("transform(embedding, v -> cast(v AS double))"))
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
      .withColumn("sig", expr("lsh_sig(emb)"))
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"), col("sig"))
      .withColumn("probe", explode(array(
        col("sig") +: flips.map(m => col("sig").bitwiseXOR(lit(m))): _*)))
      .drop("sig").withColumnRenamed("probe", "sig")
    val scored = src.join(broadcast(baseIdx), Seq("sig"), "inner")
      .withColumn("cos_bps",
        floor(expr("vec_dot(q_emb, c_emb)") / (col("q_nrm") * col("c_nrm"))
          * 10000 + lit(0.5)).cast("long"))
      .select(col("q_id"), col("q_label"), col("c_id"), col("c_label"),
        col("cos_bps"))
    val cand = drainToParquet(spark, scored, "stream_knn", dir)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_bps").desc, col("c_id"))
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("cnt").desc, col("c_label"))
    cand.withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= 5)
      .groupBy(col("q_id"), col("q_label"), col("c_label"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label").as("true_label"),
        col("c_label").as("pred_label"),
        col("cnt").cast("int").as("n_votes"),
        when(col("c_label") === col("q_label"), 1).otherwise(0)
          .cast("int").as("correct"))
      .orderBy(col("q_id"))
  }

  /** [EXT] Late-data accounting under a watermark — the streaming
    * correctness contract made visible: which rows does a 1-hour
    * watermark actually DROP, and which windows get finalized?
    *
    * The harness forces the scenario deterministically: the event log
    * is split into an on-time file (days >= 16) and a late file (days
    * < 16), and the ORDERING mechanism is arrival time — the late
    * file is written to the watched dir only AFTER the first
    * `processAllAvailable()` returns (by which point micro-batch 1 and
    * the no-data batch that commits the advanced watermark have run),
    * so it cannot land in batch 1 regardless of file listing order.
    * Micro-batch 1 processes the on-time file and advances the
    * watermark to max(on-time ts) - 1h; micro-batch 2 then (a) drops
    * EVERY late-file row — all its event times precede the watermark —
    * and (b) emits (append mode) exactly the on-time windows whose end
    * is at or below the watermark. The DuckDB oracle replays both
    * effects in plain SQL, so the engine's drop/emit boundary is
    * hash-checked, not just asserted.
    *
    * At 100 TB this is THE knob that bounds streaming state: watermark
    * delay = max out-of-orderness tolerated; everything later is
    * dropped, and this query is the audit of that drop. Unemitted
    * open windows (end above the watermark) stay in state — visible
    * here as the missing tail hours.
    */
  def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    val qname = "stream_late_" + dirKey(dir)
    val base = tmpDir("stream_late") + "/" + dirKey(dir)
    rmTree(base)
    new java.io.File(base).mkdirs()
    val ev = table(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // on-time-then-late ordering comes from ARRIVAL TIME alone: the
    // late file is written only after the first processAllAvailable()
    // below — no mtime staging or per-trigger file cap needed
    def writeOne(df: DataFrame, name: String): Unit = {
      val staging = s"$base-staging-$name"
      df.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(base, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    val cut = to_date(col("ts")) >= lit("2024-01-16").cast("date")
    writeOne(ev.filter(cut), "ontime")
    // this query NEEDS no-data micro-batches (the default child turns
    // them off for run-to-run timing stability): the operator-level
    // watermark advances between batches only when a batch runs, and
    // probing showed the late batch still FILTERS with the stale
    // pre-advance watermark — the intermediate no-data batch is what
    // commits the advanced watermark before the late file arrives.
    // Hence the dedicated noData = true child session.
    val s = streamSession(spark, noData = true)
    val schema = s.read.parquet(base).schema
    val agg = s.readStream.schema(schema).parquet(base)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("n_events"))
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(qname)
      .start()
    try {
      // batch 1: only the on-time file exists — the watermark
      // advances to max(on-time ts) - 1h once it commits
      q.processAllAvailable()
      // batch 2: the late file arrives AFTER the watermark moved;
      // every row in it precedes the watermark and must be dropped
      writeOne(ev.filter(!cut), "late")
      q.processAllAvailable()
    } finally q.stop()
    s.table(qname).orderBy(col("ws"))
  }

  private val streamLateDataSql =
    """WITH a AS (SELECT ts FROM events
                  WHERE CAST(ts AS DATE) >= DATE '2024-01-16'),
       wm AS (SELECT max(ts) - INTERVAL '1 hour' AS w FROM a),
       h AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
               count(*) AS n_events
             FROM a GROUP BY 1)
       SELECT ws, n_events FROM h, wm
       WHERE ws + INTERVAL '1 hour' <= w ORDER BY ws"""

  val qs: Seq[Q] = Seq(
    Q("s7_stream_tumbling", streamTumbling, Some(streamTumblingSql)),
    Q("s8_stateful_sessions", statefulSessions, Some(statefulSessionsSql)),
    Q("s9_stream_dedup", streamDedup, Some(streamDedupSql)),
    Q("s10_stream_static_join", streamStaticJoin, Some(streamStaticJoinSql)),
    Q("s11_stream_stream_join", streamStreamJoin, Some(streamStreamJoinSql)),
    Q("s12_stream_upsert", streamUpsert, Some(streamUpsertSql)),
    Q("s13_stream_quality_gate", streamQualityGate,
      Some(streamQualityGateSql)),
    Q("s14_stream_incremental_dedup", streamIncrementalDedup,
      Some(streamIncrementalDedupSql)),
    Q("s15_stream_neardup_probe", streamNearDupProbe,
      Some(streamNearDupProbeSql),
      benchFn = Some(streamNearDupProbeBench)),
    Q("s18_stream_late_data", streamLateData, Some(streamLateDataSql)),
    Q("s19_stream_anomaly", streamAnomaly, Some(streamAnomalySql)),
    Q("s20_stream_knn_probe", streamKnnProbe,
      Some(graft.ext.Similarity.streamKnnProbeSql)))
}
