package graft.io

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q
import graft.io.Sources._

/** t2 entries for the source/sink operators (SURVEY.md §2.1). Each is a
  * round-trip: write with the reference's sink shape, read back with the
  * engine's schema'd reader, compare against the DuckDB view of the
  * original table — proving both directions.
  */
object IoQueries {

  /** S1+S5: header CSV write (overwrite, `pre_process.py:304-306`) and
    * schema'd header CSV read (`pre_analysis.py:36-38` — but typed, not
    * all-string).
    */
  def csvRoundTripQ(spark: SparkSession, dir: String): DataFrame =
    csvRoundTrip(spark, table(spark, dir, "region"),
      tmpDir(s"csv_region_${dirKey(dir)}"), schemaOf("region"))
      .orderBy(col("r_regionkey"))

  private val csvSql = "SELECT * FROM region ORDER BY r_regionkey"

  /** S2: multiLine+escape CSV round-trip (`pre_analysis.py:52-59`) over
    * text with embedded newlines (spaces rewritten to '\n' so every
    * field is multi-line).
    */
  def csvMultilineQ(spark: SparkSession, dir: String): DataFrame = {
    val wrapped = table(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        regexp_replace(col("text"), " ", "\n").as("wrapped"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("wrapped", StringType)))
    csvMultilineRoundTrip(spark, wrapped,
      tmpDir(s"csv_multiline_${dirKey(dir)}"), schema)
      .orderBy(col("doc_id"))
  }

  private val csvMultilineSql =
    """SELECT doc_id, replace(text, ' ', chr(10)) AS wrapped
       FROM documents WHERE doc_id < 50 ORDER BY doc_id"""

  /** S3+S4: object-store listing + latest-partition scan
    * (`transform.py:36-51`): two `part-*` snapshot files with distinct
    * modification times; the reader must pick the newest (full nation)
    * over the stale one (truncated nation).
    */
  def latestPartitionQ(spark: SparkSession, dir: String): DataFrame = {
    val target = tmpDir(s"latest_${dirKey(dir)}")
    new File(target).listFiles().foreach(_.delete())
    val n = table(spark, dir, "nation")

    def writeSnapshot(df: DataFrame, name: String, mtime: Long): Unit = {
      val staging = tmpDir(s"latest_staging_${dirKey(dir)}_$name")
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(staging)
      val part = new File(staging).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dest = Paths.get(target, s"part-$name.csv")
      Files.copy(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(mtime)
    }

    val now = System.currentTimeMillis()
    writeSnapshot(n.filter(col("n_nationkey") < 10), "00000-stale",
      now - 3600000L)
    writeSnapshot(n, "00001-fresh", now)
    latestPartition(spark, target, schemaOf("nation"))
      .orderBy(col("n_nationkey"))
  }

  private val latestSql = "SELECT * FROM nation ORDER BY n_nationkey"

  /** S6: JDBC sink overwrite + read-back (`transform.py:260`), embedded
    * Derby standing in for Azure SQL.
    */
  def jdbcRoundTripQ(spark: SparkSession, dir: String): DataFrame =
    jdbcRoundTrip(spark, table(spark, dir, "nation"),
      tmpDir("derby") + s"/db_${dirKey(dir)}", "analysis")
      .orderBy(col("n_nationkey"))

  /** S5b: hive-partitioned parquet sink — `partitionBy(lang)` lays out
    * one directory per partition value, the layout that makes partition
    * pruning possible at 100 TB (a `lang = 'en'` filter reads one
    * directory, asserted on the plan in `IoSpec`).
    */
  def partitionedSinkQ(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir(s"part_docs_${dirKey(dir)}")
    table(spark, dir, "documents")
      .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(out)
    spark.read.parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  private val partitionedSinkSql =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY lang ORDER BY lang"""

  /** S1-adjacent [EXT]: JSONL round-trip over documents — free text
    * with quotes and punctuation exercises JSON string escaping in
    * both the sink and the schema'd source.
    */
  def jsonlRoundTripQ(spark: SparkSession, dir: String): DataFrame =
    jsonlRoundTrip(spark, table(spark, dir, "documents"),
      tmpDir(s"jsonl_docs_${dirKey(dir)}"), schemaOf("documents"))
      .orderBy(col("doc_id"))

  private val jsonlSql = "SELECT * FROM documents ORDER BY doc_id"

  /** S1-adjacent [EXT]: ORC round-trip over documents — Spark's other
    * first-class columnar format (native reader/writer, predicate
    * pushdown, the format half of many warehouse estates). The sink
    * writes ORC with zlib, the schema'd source reads it back, and the
    * hash compare against the parquet-sourced oracle proves the
    * content crossed the format boundary bit-for-bit — the same
    * losslessness contract s15 pins for JSONL.
    */
  def orcRoundTripQ(spark: SparkSession, dir: String): DataFrame = {
    val out = tmpDir(s"orc_docs_${dirKey(dir)}")
    table(spark, dir, "documents")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zlib").orc(out)
    spark.read.schema(schemaOf("documents")).orc(out)
      .orderBy(col("doc_id"))
  }

  private val orcSql = "SELECT * FROM documents ORDER BY doc_id"

  /** S16 [EXT]: small-file compaction round-trip — documents scattered
    * into 64 shard files (the micro-batch landing shape), compacted by
    * [[Sources.compact]] into input-listing-sized output files. The
    * query proves content survives the rewrite bit-for-bit; `IoSpec`
    * asserts the file count actually collapsed.
    */
  def compactionQ(spark: SparkSession, dir: String): DataFrame = {
    val scattered = tmpDir(s"scatter_docs_${dirKey(dir)}")
    val compacted = tmpDir(s"compact_docs_${dirKey(dir)}")
    table(spark, dir, "documents")
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(scattered)
    compact(spark, scattered, compacted, targetBytes = 8L << 20)
      .orderBy(col("doc_id"))
  }

  private val compactionSql = "SELECT * FROM documents ORDER BY doc_id"

  /** S17 [EXT]: schema evolution — generation 1 lands without `source`,
    * generation 2 adds it; `mergeSchema` reads both under the widened
    * schema with nulls for the missing column. The survival path every
    * long-lived 100 TB table needs: columns get added, history stays
    * readable, no rewrite of old generations.
    */
  def schemaEvolutionQ(spark: SparkSession, dir: String): DataFrame = {
    val root = tmpDir(s"evolve_docs_${dirKey(dir)}")
    val docs = table(spark, dir, "documents")
    docs.filter(col("doc_id") < 250)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/gen=1")
    docs.filter(col("doc_id") >= 250)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/gen=2")
    spark.read.option("mergeSchema", "true").parquet(s"$root/gen=1",
        s"$root/gen=2")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val schemaEvolutionSql =
    """SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
       FROM documents WHERE doc_id < 250
       UNION ALL
       SELECT doc_id, lang, n_chars, source
       FROM documents WHERE doc_id >= 250
       ORDER BY doc_id"""

  val qs: Seq[Q] = Seq(
    Q("s5_partitioned_sink", partitionedSinkQ, Some(partitionedSinkSql)),
    Q("s1_csv_roundtrip", csvRoundTripQ, Some(csvSql)),
    Q("s2_csv_multiline", csvMultilineQ, Some(csvMultilineSql)),
    Q("s4_latest_partition", latestPartitionQ, Some(latestSql)),
    Q("s6_jdbc_roundtrip", jdbcRoundTripQ, Some(latestSql)),
    Q("s15_jsonl_roundtrip", jsonlRoundTripQ, Some(jsonlSql)),
    Q("s21_orc_roundtrip", orcRoundTripQ, Some(orcSql)),
    Q("s16_compaction", compactionQ, Some(compactionSql)),
    Q("s17_schema_evolution", schemaEvolutionQ, Some(schemaEvolutionSql)))
}
