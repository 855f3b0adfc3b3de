package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IO round-trip edge cases beyond the oracled happy paths: quote and
  * escape handling in multiline CSV (the reference's S2 quirk,
  * `pre_analysis.py:52-59`), and empty-frame sinks.
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
}
