package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming semantics beyond the batch-parity check in
  * OperatorInvariantsSpec: watermark-driven append-mode emission
  * (windows emit only once the watermark passes their end) and late-row
  * dropping — the state-bounding behavior a 100 TB stream needs.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("append mode + watermark: only closed windows emit; late rows drop") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("window.start").as("ws"), col("n"), col("sv"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      // batch 1: rows in the 10:00 and 10:10 windows; max ts 10:12
      // => watermark 10:07 — no window closed yet, nothing emits
      mem.addData((ts(1), 1.0), (ts(4), 2.0), (ts(12), 3.0))
      q.processAllAvailable()
      assert(spark.table("wm_test").count() == 0)

      // batch 2: ts 10:21 => watermark 10:16 — closes the 10:00 window
      mem.addData((ts(21), 4.0))
      q.processAllAvailable()
      val emitted = spark.table("wm_test").collect()
      assert(emitted.map(_.getAs[java.sql.Timestamp]("ws")).toSeq ==
        Seq(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      assert(emitted.head.getAs[Long]("n") == 2)

      // batch 3: a LATE row for the already-closed 10:00 window is
      // dropped; a row for 10:10 plus ts 10:31 closes the 10:10 window
      // WITHOUT the late row's contribution
      mem.addData((ts(2), 100.0), (ts(31), 5.0))
      q.processAllAvailable()
      val after = spark.table("wm_test").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ws").toString,
          r.getAs[Long]("n"), r.getAs[Double]("sv"))).sortBy(_._1)
      assert(after.toSeq == Seq(
        ("2024-01-01 10:00:00.0", 2L, 3.0),   // late 100.0 NOT included
        ("2024-01-01 10:10:00.0", 1L, 3.0)))
    } finally q.stop()
  }

  test("drainToParquet reads a sink no row reached as an empty frame " +
      "with the stream's schema") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    mem.addData((1L, "a", 1.5), (2L, "b", 2.5))
    val stream = mem.toDF().toDF("id", "t", "v").filter(col("id") < 0)
    val back = streaming.EventStream.drainToParquet(spark, stream,
      "drain_empty", "memory_stream")
    assert(back.count() == 0)
    // a file source reads every column as nullable; names and types
    // are what the read-back must keep
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(fields(back.schema) == fields(stream.schema))
  }

  test("stream-stream interval join: purchase joins clicks within 10 min") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val c = clicks.toDF().toDF("c_user", "c_ts")
      .withWatermark("c_ts", "1 minute")
    val b = buys.toDF().toDF("b_user", "b_ts")
      .withWatermark("b_ts", "1 minute")
    val joined = b.join(c,
      col("c_user") === col("b_user") &&
        col("c_ts") >= col("b_ts") - expr("INTERVAL 10 minutes") &&
        col("c_ts") <= col("b_ts"), "inner")
      .select(col("b_user"), col("b_ts"), col("c_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      // user 1 clicks at 10:05, buys at 10:12 (within 10 min => match);
      // user 2 clicks at 10:00, buys at 10:20 (outside => no match)
      clicks.addData((1L, ts(5)), (2L, ts(0)))
      buys.addData((1L, ts(12)), (2L, ts(20)))
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](2)))
      assert(rows.toSeq == Seq((1L, ts(5))))
    } finally q.stop()
  }

  test("s14 stream verdicts pin to the batch incremental-dedup exact layer") {
    // the streaming gate IS the batch op's exact layer: per-verdict
    // totals must reconcile — stream 'exact' == batch 'exact', and the
    // stream's 'novel' covers the batch's near+novel (the Jaccard layer
    // deliberately stays batch-side)
    val streamCounts = streaming.EventStream
      .streamIncrementalDedup(spark, sf).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val batchCounts = ext.Dedup.incrementalDedup(spark, sf).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(streamCounts.getOrElse("exact", 0)
      == batchCounts.getOrElse("exact", 0))
    assert(streamCounts.values.sum == batchCounts.values.sum)
  }

  test("s15 streamed near-dup candidates reconcile with the batch near layer") {
    // the streamed banded-MinHash probe must recover the batch op's
    // near verdicts: both verdict booleans pinned TRUE (recall >= 0.9
    // of incrementalNearBest, zero unverified sink rows), and the
    // emitted rows ARE the batch truth rows — the oracle identity
    val rows = streaming.EventStream.streamNearDupProbe(spark, sf).collect()
    assert(rows.nonEmpty, "no near-dup truth rows at verify scale")
    rows.foreach { r =>
      assert(r.getBoolean(3), "stream candidate recall below 0.9")
      assert(r.getBoolean(4), "unverified candidate reached the sink")
    }
    val truth = ext.Dedup.incrementalNearBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == truth)
  }

  test("s19 streamed anomaly flags equal the batch governance screen's") {
    // zero stream state means micro-batch boundaries must be invisible:
    // the per-type flag summary out of the streamed run must equal the
    // same summary computed in one batch pass through the SHARED
    // centsProjection/withZ code path
    import org.apache.spark.sql.functions._
    val streamed = streaming.EventStream.streamAnomaly(spark, sf)
    val batch = ext.Governance
      .withZ(
        ext.Governance.centsProjection(io.Sources.table(spark, sf, "events")),
        ext.Governance.typeStats(spark, sf))
      .filter(col("az_bps") >= ext.Governance.AnomalyFlagBps)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("int").as("n_flagged"),
        min(col("event_id")).as("first_event"),
        max(col("az_bps")).as("max_az_bps"))
    assert(streamed.except(batch).count() == 0 &&
      batch.except(streamed).count() == 0,
      "stream flags diverge from the batch screen")
    assert(streamed.agg(sum(col("n_flagged"))).head().getLong(0) > 0,
      "no flagged events at verify scale — threshold too high")
  }

  test("s20 streamed knn labels every arriving vector, deterministically") {
    import org.apache.spark.sql.functions._
    // zero stream state: the label a vector receives cannot depend on
    // micro-batch boundaries — coverage is total (at the verify sfs the
    // Hamming<=4 probe set spans every bucket, so no arriving vector
    // can miss the index) and two full runs agree row-for-row
    val r1 = streaming.EventStream.streamKnnProbe(spark, sf).collect()
    val nDelta = io.Sources.table(spark, sf, "embeddings")
      .filter(pmod(col("vec_id"), lit(5)) === 4).count()
    assert(r1.length == nDelta, "an arriving vector went unlabeled")
    assert(r1.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 5))
    val r2 = streaming.EventStream.streamKnnProbe(spark, sf).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq,
      "streamed knn labels are not run-deterministic")
  }

  test("foreachBatch: stream micro-batches land in the JDBC sink") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dbDir = graft.io.Sources.tmpDir("derby") + "/stream_db"
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val q = mem.toDF().toDF("k", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode(if (id == 0) "overwrite" else "append")
          .jdbc(url, "stream_sink", props)
      }
      .start()
    try {
      mem.addData((1L, 1.5), (2L, 2.5))
      q.processAllAvailable()
      mem.addData((3L, 3.5))
      q.processAllAvailable()
      val back = spark.read.jdbc(url, "stream_sink", props)
      assert(back.count() == 3)
      assert(back.agg(sum(col("v"))).collect()(0).getDouble(0) == 7.5)
    } finally q.stop()
  }

  test("restart from checkpoint: second run resumes exactly-once") {
    // the recovery contract a long-lived ingest needs: stop the query,
    // deliver more data, restart from the SAME checkpoint — the first
    // file must not be reprocessed (no duplicates), the new file must
    // be picked up (no loss)
    def rmTree(p: String): Unit = {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(p))
    }
    val base = io.Sources.tmpDir("restart_probe")
    rmTree(base)
    val (srcDir, sinkDir, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    new java.io.File(srcDir).mkdirs()
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    def deliver(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val staging = s"$base/staging-$name"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
      ()
    }
    val firstHalf = col("event_id") % 2 === 0
    deliver(ev.filter(firstHalf), "gen1")
    def run(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    deliver(ev.filter(!firstHalf), "gen2")
    run() // restart from the same checkpoint
    val out = spark.read.parquet(sinkDir)
    assert(out.count() == ev.count(), "loss or duplication across restart")
    assert(out.select("event_id").distinct().count() == ev.count(),
      "event ids duplicated across restart")
  }

  test("s18 late-data accounting closes: emitted + dropped + open = total") {
    val emitted = streaming.EventStream.streamLateData(spark, sf)
    val events = spark.read.parquet(s"$sf/events.parquet")
    val cutover = to_date(col("ts")) >= lit("2024-01-16").cast("date")
    val total = events.count()
    val dropped = events.filter(!cutover).count() // the whole late file
    val wm = events.filter(cutover)
      .agg((max(col("ts")).cast("long") - 3600L).as("w")).head().getLong(0)
    // on-time rows whose hour window had not closed at the final
    // watermark stay in state, unemitted
    val open = events.filter(cutover)
      .filter((floor(col("ts").cast("long") / 3600) + 1) * 3600 > wm)
      .count()
    val emittedRows = emitted.agg(sum(col("n_events"))).head().getLong(0)
    assert(emittedRows + dropped + open == total,
      s"$emittedRows emitted + $dropped dropped + $open open != $total")
    assert(dropped > 0 && open > 0, "scenario must exercise both buckets")
  }
}
