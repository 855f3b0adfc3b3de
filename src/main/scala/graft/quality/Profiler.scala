package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.r2
import graft.io.Sources.table

/** Data-quality profiling (reference stage 1, `pre_analysis.py`).
  *
  * The reference runs 1-2 Spark jobs PER COLUMN (completeness loop
  * `pre_analysis.py:75-85`, uniqueness loop `139-149`, integrity checks
  * `224-295` each two `count()`s — ~80 jobs, each re-scanning CSV). Our
  * engine fuses each metric family into ONE aggregate job
  * (SURVEY.md §4.3.1): a single scan computes every per-column
  * null/distinct count as `sum(when(...))`/`count(distinct ...)`
  * columns, then unpivots. At 100 TB this is the difference between 80
  * full scans and one.
  */
object Profiler {

  /** Per-column profile of a DataFrame in one pass: total rows, null
    * count, completeness %, distinct count. The generic engine API.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      count(lit(1)).as("n_total") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__dist_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"__null_$c").as("n_null"),
      col(s"__dist_$c").as("n_distinct")))
    one.select(col("n_total"), explode(array(entries: _*)).as("e"))
      .select(col("e.column_name").as("column_name"), col("n_total"),
        col("e.n_null").as("n_null"), col("e.n_distinct").as("n_distinct"))
      .select(col("column_name"), col("n_total"), col("n_null"),
        r2(lit(100.0) * (col("n_total") - col("n_null")) / col("n_total"))
          .as("completeness_pct"),
        col("n_distinct"))
      .orderBy(col("column_name"))
  }

  /** t2 entry: completeness + uniqueness profile over orders columns,
    * including a derived nullable column (the testdata has no raw nulls;
    * the otherwise-less `when` reproduces the reference's null-bearing
    * inputs, `pre_process.py:274-276`).
    */
  def profileCompleteness(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .withColumn("maybe_price",
        when(col("o_orderstatus") =!= "O", col("o_totalprice")))
    profile(o, Seq("o_custkey", "o_orderstatus", "o_orderpriority",
      "maybe_price"))
  }

  private def completenessOracleCol(c: String, expr: String): String =
    s"""SELECT '$c' AS column_name, count(*) AS n_total,
        CAST(sum(CASE WHEN $expr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        floor((CAST(100 AS DOUBLE) * (count(*) - sum(CASE WHEN $expr IS NULL THEN 1 ELSE 0 END))
          / count(*)) * 100 + 0.5) / 100 AS completeness_pct,
        count(DISTINCT $expr) AS n_distinct FROM src"""

  private[graft] val profileCompletenessSql = {
    val cols = Seq(
      "maybe_price" -> "maybe_price",
      "o_custkey" -> "o_custkey",
      "o_orderpriority" -> "o_orderpriority",
      "o_orderstatus" -> "o_orderstatus")
    val selects = cols.map { case (n, e) => completenessOracleCol(n, e) }
    s"""WITH src AS (SELECT *,
          CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END AS maybe_price
          FROM orders)
        ${selects.mkString("", " UNION ALL ", "")}
        ORDER BY column_name"""
  }

  /** Integrity rule registry, fused (mirror of the reference's
    * `validation_functions` dict, `pre_analysis.py:331-359`): a
    * `Map[String, Column]` of named validity predicates evaluated as ONE
    * aggregate of `sum(when(rule, 1))` — vs. the reference's 2 jobs per
    * rule.
    */
  def integrityRules: Seq[(String, Column)] = Seq(
    "valid_prio_format" -> col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"),
    "valid_status" -> col("o_orderstatus").isin("P", "O", "F"),
    "nonneg_price" -> (col("o_totalprice") >= 0),
    "date_in_range" -> col("o_orderdate").between("1992-01-01", "1998-12-31"),
    "key_present" -> col("o_custkey").isNotNull)

  def profileIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val aggs = count(lit(1)).as("n_total") +:
      integrityRules.map { case (name, rule) =>
        sum(when(rule, 1).otherwise(0)).as(name) }
    o.agg(aggs.head, aggs.tail: _*)
  }

  private val profileIntegritySql =
    """SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                THEN 1 ELSE 0 END) AS BIGINT) AS valid_prio_format,
       CAST(sum(CASE WHEN o_orderstatus IN ('P','O','F') THEN 1 ELSE 0 END)
         AS BIGINT) AS valid_status,
       CAST(sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS nonneg_price,
       CAST(sum(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1992-01-01'
                AND TIMESTAMP '1998-12-31' THEN 1 ELSE 0 END) AS BIGINT)
         AS date_in_range,
       CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS key_present
       FROM orders"""

  /** [EXT] Dataset card: the per-(lang, source) corpus summary every
    * training-data release ships — document/char/word totals plus the
    * exact-duplicate rate, in ONE aggregate job. The shuffle carries
    * (lang, source, md5) — 16-byte fingerprints, never the text — and
    * the counts/sums are map-side combined; only `count(distinct md5)`
    * pays a second phase (at 100 TB swap it for the
    * `approx_count_distinct` twin `x_approx_distinct` already
    * established — the card is a summary, HLL's 2% is fine there).
    * `dup_bps` (duplicate basis points) uses integer `div` so both
    * engines quantize identically.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    graft.io.Sources.tableWide(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_words"),
        countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
      .select(col("lang"), col("source"), col("n_docs"), col("total_chars"),
        col("total_words"), col("n_unique"),
        expr("((n_docs - n_unique) * 10000L) div n_docs").as("dup_bps"))
      .orderBy(col("lang"), col("source"))

  private val datasetCardSql =
    """SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
       count(DISTINCT md5(text)) AS n_unique,
       (count(*) - count(DISTINCT md5(text))) * 10000 // count(*)
         AS dup_bps
       FROM documents GROUP BY lang, source ORDER BY lang, source"""

  val qs: Seq[Q] = Seq(
    Q("prof1_completeness", profileCompleteness,
      Some(profileCompletenessSql)),
    Q("prof2_integrity", profileIntegrity, Some(profileIntegritySql),
      bench = true),
    Q("prof3_dataset_card", datasetCard, Some(datasetCardSql)))
}
