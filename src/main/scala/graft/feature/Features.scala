package graft.feature

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.r2
import graft.io.Sources.table
import graft.ops.Relational.asOf

/** Feature-building (reference stage 3, `transform.py`).
  *
  * The reference joins users onto onboarding and derives 8 feature
  * columns (`transform.py:93-190`): an age-group when-chain, a seller
  * flag, a 4-way-conjunction drop flag, three datediff features against
  * `current_date()`, a `greatest`-of-dates recency, and a null-as-(-1)
  * days-until-first-event. Our twin derives the same shapes from
  * customer + orders + lineitem, with the nondeterministic
  * `current_date()` replaced by the explicit `asOf` parameter
  * (SURVEY.md §7.4 determinism).
  *
  * Plan shape for scale: both fact tables are pre-aggregated to one row
  * per customer BEFORE the join (shuffle carries |customers| rows, and
  * AQE broadcasts the aggregates when small), never a fact×dim join.
  */
object Features {

  def build(spark: SparkSession, dir: String): DataFrame = {
    val asOfD = lit(asOf).cast("date")
    val orderAgg = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("tx_count_raw"),
        round(sum(col("o_totalprice")), 2).as("spend_raw"),
        min(to_date(col("o_orderdate"))).as("first_order_dt"),
        max(to_date(col("o_orderdate"))).as("last_order_dt"))
    val shipAgg = table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("ship_custkey")), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("ship_custkey"))
      .agg(max(to_date(col("l_shipdate"))).as("last_ship_dt"))
    val c = table(spark, dir, "customer")

    c.join(orderAgg, c("c_custkey") === orderAgg("o_custkey"), "left")
      .join(shipAgg, c("c_custkey") === shipAgg("ship_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        // age_group twin (`transform.py:93-100`): nested when-chain
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("bal_group"),
        // is_seller twin (`transform.py:111-114`)
        when(col("c_acctbal") > 7500, 1).otherwise(0).as("is_seller"),
        coalesce(col("tx_count_raw"), lit(0L)).as("tx_count"),
        coalesce(col("spend_raw"), lit(0.0)).as("total_spend"),
        // days_since_first_login twin (`transform.py:144`)
        when(col("first_order_dt").isNull, -1)
          .otherwise(datediff(lit(asOf).cast("date"), col("first_order_dt")))
          .as("days_since_first_order"),
        // days_since_last_transaction twin (`transform.py:155`):
        // greatest over null-skipping date columns
        when(col("last_order_dt").isNull && col("last_ship_dt").isNull, -1)
          .otherwise(datediff(asOfD,
            greatest(col("last_order_dt"), col("last_ship_dt"))))
          .as("days_since_last_activity"),
        // no_events / drop 4-way conjunction twin (`transform.py:125-134`)
        when(coalesce(col("tx_count_raw"), lit(0L)) === 0 &&
          col("c_acctbal") < 5000 && col("c_acctbal") >= 0 &&
          col("last_ship_dt").isNull, 1).otherwise(0).as("drop_flag"),
        // days_until_first_transaction twin (`transform.py:177-179`):
        // null => -1
        when(col("first_order_dt").isNull, -1)
          .otherwise(datediff(col("first_order_dt"),
            lit("1992-01-01").cast("date")))
          .as("days_until_first_order"))
      .orderBy(col("c_custkey"))
  }

  private[graft] val buildSql =
    s"""WITH order_agg AS (
          SELECT o_custkey, count(*) AS tx_count_raw,
                 round(sum(o_totalprice), 2) AS spend_raw,
                 min(CAST(o_orderdate AS DATE)) AS first_order_dt,
                 max(CAST(o_orderdate AS DATE)) AS last_order_dt
          FROM orders GROUP BY o_custkey),
        ship_agg AS (
          SELECT o_custkey AS ship_custkey,
                 max(CAST(l_shipdate AS DATE)) AS last_ship_dt
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_custkey)
        SELECT c_custkey, c_name,
          CASE WHEN c_acctbal < 0 THEN 'negative'
               WHEN c_acctbal < 5000 THEN 'low'
               ELSE 'high' END AS bal_group,
          CASE WHEN c_acctbal > 7500 THEN 1 ELSE 0 END AS is_seller,
          coalesce(tx_count_raw, 0) AS tx_count,
          coalesce(spend_raw, CAST(0 AS DOUBLE)) AS total_spend,
          CASE WHEN first_order_dt IS NULL THEN -1
               ELSE CAST(datediff('day', first_order_dt, DATE '$asOf') AS INT)
               END AS days_since_first_order,
          CASE WHEN last_order_dt IS NULL AND last_ship_dt IS NULL THEN -1
               ELSE CAST(datediff('day',
                 greatest(last_order_dt, last_ship_dt), DATE '$asOf') AS INT)
               END AS days_since_last_activity,
          CASE WHEN coalesce(tx_count_raw, 0) = 0 AND c_acctbal < 5000
                AND c_acctbal >= 0 AND last_ship_dt IS NULL
               THEN 1 ELSE 0 END AS drop_flag,
          CASE WHEN first_order_dt IS NULL THEN -1
               ELSE CAST(datediff('day', DATE '1992-01-01', first_order_dt) AS INT)
               END AS days_until_first_order
        FROM customer
        LEFT JOIN order_agg ON c_custkey = o_custkey
        LEFT JOIN ship_agg ON c_custkey = ship_custkey
        ORDER BY c_custkey"""

  /** Quantile-bucketed spend feature: per-customer lifetime spend cut
    * into deciles within the customer's market segment (`ntile(10)`) —
    * the categorical-from-continuous encoding step of a feature
    * pipeline. Scale shape: orders pre-aggregate to one row per
    * customer before anything else, so the window input is the skinny
    * |customers| frame, partitioned by segment; spend is grid-rounded
    * (cents) BEFORE the ntile ordering so bucket boundaries — not just
    * printed values — are engine-identical, with c_custkey as the
    * total-order tiebreak.
    */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(r2(sum(col("o_totalprice"))).as("spend"))
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    cust.join(spend, col("c_custkey") === col("o_custkey"))
      .withColumn("decile", ntile(10).over(
        Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("spend").desc, col("c_custkey"))))
      .select(col("c_custkey"), col("c_mktsegment"), col("spend"),
        col("decile"))
      .orderBy(col("c_custkey"))
  }

  private val spendDecilesSql =
    """WITH spend AS (
         SELECT o_custkey, floor(sum(o_totalprice) * 100 + 0.5) / 100
           AS spend
         FROM orders GROUP BY o_custkey)
       SELECT c_custkey, c_mktsegment, spend,
         CAST(ntile(10) OVER (PARTITION BY c_mktsegment
           ORDER BY spend DESC, c_custkey) AS INT) AS decile
       FROM customer JOIN spend ON c_custkey = o_custkey
       ORDER BY c_custkey"""

  val qs: Seq[Q] = Seq(
    Q("feat1_build", build, Some(buildSql), bench = true),
    Q("feat2_spend_deciles", spendDeciles, Some(spendDecilesSql)))
}
