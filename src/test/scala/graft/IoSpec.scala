package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IO round-trip edge cases beyond the oracled happy paths: quote and
  * escape handling in multiline CSV (the reference's S2 quirk,
  * `pre_analysis.py:52-59`), empty-frame sinks, and the schema memo
  * behind `Sources.table`.
  */
class IoSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("t", StringType)))

  test("multiline CSV round-trips embedded quotes, commas, newlines") {
    val nasty = Seq(
      (1L, "plain"),
      (2L, "with \"quotes\" inside"),
      (3L, "comma, separated, values"),
      (4L, "line1\nline2\nline3"),
      (5L, "all: \"q\", comma,\nnewline"),
      (6L, ""))
      .toDF("id", "t")
    val back = io.Sources.csvMultilineRoundTrip(spark, nasty,
      io.Sources.tmpDir("csv_nasty"), schema).orderBy(col("id"))
    val got = back.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val want = nasty.orderBy(col("id")).collect().map(r =>
      (r.getLong(0), r.getString(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("empty frame round-trips through CSV with schema intact") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val back = io.Sources.csvRoundTrip(spark, empty,
      io.Sources.tmpDir("csv_empty"), schema)
    assert(back.count() == 0 && back.schema == schema)
  }

  test("partitioned sink: a partition filter prunes to one directory") {
    val out = io.Sources.tmpDir("part_docs_prune")
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val filtered = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") &&
      scan.contains("isnotnull(lang"),
      s"partition filter did not reach the scan:\n$scan")
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(filtered.count() == expected)
  }

  test("latestPartition fails with a clear message on an empty dir") {
    val d = io.Sources.tmpDir("latest_empty")
    val e = intercept[IllegalArgumentException] {
      io.Sources.latestPartition(spark, d, schema)
    }
    assert(e.getMessage.contains("no part-* files"))
  }

  test("compact collapses a 64-shard landing into listing-sized files") {
    def partFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    val in = io.Sources.tmpDir("compact_in")
    val out = io.Sources.tmpDir("compact_out")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.repartition(64).write.mode("overwrite").parquet(in)
    assert(partFiles(in).length == 64)
    val back = io.Sources.compact(spark, in, out, targetBytes = 8L << 20)
    // sf0.001 documents are well under one 8 MB target file
    assert(partFiles(out).length == 1,
      s"expected 1 output file, got ${partFiles(out).length}")
    assert(back.count() == docs.count())
    assert(back.orderBy(col("doc_id")).collect().toSeq ==
      docs.orderBy(col("doc_id")).collect().toSeq)
  }

  test("dirKey: collision-free for punctuation-variant dirs, " +
      "identifier-safe, deterministic") {
    // round-13 ADVICE: sanitization alone mapped /x/a.b and /x/a_b to
    // one key, and two colliding dirs share one sink/checkpoint path —
    // the second query's fresh-sink rmTree deleting the first's live
    // results. The md5 suffix makes the key injective in the raw dir.
    val variants = Seq("/x/a.b", "/x/a_b", "/x/a-b", "/x/a/b", "/x/a..b")
    val keys = variants.map(io.Sources.dirKey)
    assert(keys.distinct.size == variants.size,
      s"colliding dirKeys: ${variants.zip(keys)}")
    // valid identifier fragment everywhere a key is embedded (memory
    // sink table names, checkpoint paths, temp view names)
    keys.foreach(k => assert(k.matches("[A-Za-z0-9_]+"), k))
    // deterministic across calls (sink and checkpoint must agree)
    assert(io.Sources.dirKey("/x/a.b") == io.Sources.dirKey("/x/a.b"))
    // readable prefix survives (operators grep sink dirs by corpus)
    assert(io.Sources.dirKey("/root/testdata/sf0.01")
      .startsWith("root_testdata_sf0_01_"))
  }

  test("IO queries keep punctuation-variant input dirs' scratch apart") {
    // csvRoundTripQ reads its CSV scratch back lazily: had /x/a.b and
    // /x/a_b one scratch dir, the second call would overwrite the
    // first frame's input before it is collected
    val root = io.Sources.tmpDir("io_dir_variants")
    val region = spark.read.parquet(s"$sf/region.parquet")
    val (dirA, dirB) = (s"$root/a.b", s"$root/a_b")
    region.filter(col("r_regionkey") < 2).write.mode("overwrite")
      .parquet(s"$dirA/region.parquet")
    region.filter(col("r_regionkey") >= 2).write.mode("overwrite")
      .parquet(s"$dirB/region.parquet")
    val a = io.IoQueries.csvRoundTripQ(spark, dirA)
    val b = io.IoQueries.csvRoundTripQ(spark, dirB).collect()
    assert(a.collect().map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(b.map(_.getInt(0)).forall(_ >= 2) && b.nonEmpty)
  }

  /** Replace `$dir/$name.parquet` in place with `df` as one file. */
  private def writeTableFile(df: org.apache.spark.sql.DataFrame,
      dir: String, name: String): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_io_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("t").toString)
    val part = stage.resolve("t").toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("table() re-reads the schema of a table file rewritten in place") {
    val dir = io.Sources.tmpDir("schema_rewrite")
    writeTableFile(Seq((1L, "a")).toDF("id", "t"), dir, "t")
    assert(io.Sources.table(spark, dir, "t").columns.toSeq == Seq("id", "t"))
    val bytes = io.Sources.tableBytes(spark, dir, "t")
    writeTableFile(Seq((2L, 2.5, "b")).toDF("id", "x", "t"), dir, "t")
    val back = io.Sources.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "x", "t"))
    assert(back.collect().toSeq == Seq(Row(2L, 2.5, "b")))
    val file = new java.io.File(s"$dir/t.parquet").length
    assert(file != bytes && io.Sources.tableBytes(spark, dir, "t") == file,
      "tableBytes kept the size of the file before the rewrite")
  }

  test("table() infers a file's schema once; evictTable forgets it") {
    val dir = io.Sources.tmpDir("schema_evict")
    writeTableFile(Seq((1L, "a")).toDF("id", "t"), dir, "t")
    io.Sources.table(spark, dir, "t")
    assert(Trace(spark)(io.Sources.table(spark, dir, "t")).jobs.isEmpty,
      "a second read of an unchanged file inferred its schema again")
    io.Sources.evictTable(spark, dir, "t")
    assert(Trace(spark)(io.Sources.table(spark, dir, "t")).jobs.size == 1,
      "a read after evictTable did not infer the schema again")
  }

  test("table() infers a fresh file's schema once for concurrent readers") {
    val dir = io.Sources.tmpDir("schema_single_flight")
    writeTableFile(Seq((1L, "a")).toDF("id", "t"), dir, "t")
    val threads = 4
    val ready = new java.util.concurrent.CountDownLatch(threads)
    val go = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val jobs = Trace(spark) {
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() =>
          try { ready.countDown(); go.await(); io.Sources.table(spark, dir, "t") }
          catch { case e: Throwable => failures.add(e) })
        t.start()
        t
      }
      ready.await()
      go.countDown()
      ts.foreach(_.join())
    }.jobs.size
    assert(failures.isEmpty, s"a reader failed: ${failures.peek()}")
    assert(jobs == 1,
      s"$threads concurrent first reads started $jobs schema-inference jobs")
  }

  test("a second Features.build on one dir starts no Spark job") {
    feature.Features.build(spark, sf)
    assert(Trace(spark)(feature.Features.build(spark, sf)).jobs.isEmpty)
  }
}
