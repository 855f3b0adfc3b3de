package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Q
import graft.io.Sources.table
import graft.schema.Order

/** Typed Dataset surface: case-class rows + a custom
  * `Aggregator[IN, BUF, OUT]` (the user-facing typed-aggregate API,
  * SURVEY.md §1.4) — compile-time field checks on the pipeline layer
  * while still compiling to the same Catalyst aggregate physical plan
  * (partial aggregation, codegen) as the untyped version.
  */
object TypedOps {

  /** Price-weighted mean discount: a custom two-field-buffer Aggregator
    * (the `TypedImperativeAggregate` family's friendly face).
    */
  object WeightedDisc extends Aggregator[(Double, Double), (Double, Double), Double] {
    override def zero: (Double, Double) = (0.0, 0.0)
    override def reduce(b: (Double, Double),
        a: (Double, Double)): (Double, Double) =
      (b._1 + a._1 * a._2, b._2 + a._2)
    override def merge(b1: (Double, Double),
        b2: (Double, Double)): (Double, Double) =
      (b1._1 + b2._1, b1._2 + b2._2)
    override def finish(r: (Double, Double)): Double =
      math.floor(r._1 / r._2 * 10000 + 0.5) / 10000
    override def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Typed groupByKey + custom Aggregator over `Dataset[Order]`-shaped
    * rows: mean totalprice-weighted "discount" (priority digit as the
    * weight proxy) per order status.
    *
    * Determinism note: the weighted sums are doubles accumulated in
    * shuffle order; the oracle recomputes the same rational so the
    * 4-digit floor matches (weights/values are exact 2-decimal doubles).
    */
  def typedAggregator(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = table(spark, dir, "orders").as[Order]
    orders
      .groupByKey(_.o_orderstatus)
      .mapValues(o =>
        (o.o_orderpriority.substring(0, 1).toDouble, o.o_totalprice))
      .agg(WeightedDisc.toColumn.name("weighted_prio"))
      .toDF("o_orderstatus", "weighted_prio")
      .orderBy(col("o_orderstatus"))
  }

  private val typedAggregatorSql =
    """SELECT o_orderstatus,
       floor(sum(CAST(substring(o_orderpriority, 1, 1) AS DOUBLE)
                 * o_totalprice)
             / sum(o_totalprice) * 10000 + 0.5) / 10000 AS weighted_prio
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Exact percentiles (linear interpolation) per group — the profiling
    * op behind the reference's boxplots (`pre_analysis.py:771-790`). At
    * 100 TB the twin is `percentile_approx` (t-digest, engine-specific
    * => invariant-tested instead of oracled).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("floor(percentile(l_quantity, 0.5) * 10000 + 0.5) / 10000")
          .as("p50_qty"),
        expr("floor(percentile(l_quantity, 0.9) * 10000 + 0.5) / 10000")
          .as("p90_qty"),
        expr("floor(percentile(l_extendedprice, 0.5) * 10000 + 0.5) / 10000")
          .as("p50_price"))
      .orderBy(col("l_returnflag"))

  private val percentilesSql =
    """SELECT l_returnflag,
       floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5) / 10000 AS p50_qty,
       floor(quantile_cont(l_quantity, 0.9) * 10000 + 0.5) / 10000 AS p90_qty,
       floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000
         AS p50_price
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** The 100 TB twin of [[percentiles]]: `approx_percentile`
    * (KLL-style mergeable sketch, constant memory per group) instead of
    * the exact aggregate, which buffers EVERY group value — the most
    * memory-hungry aggregate in the catalog (it is why a7 shows the
    * worst data-growth factor in `bench_history/BENCH.md`'s scaling
    * audit). accuracy 10000 bounds rank error at 1/10000.
    *
    * Band-oracle shape: sketch internals are engine-specific, so the
    * query emits the exact (oracle-checkable) percentiles alongside ONE
    * boolean asserting every sketch estimate landed within 2% (or one
    * unit) of its exact value. DuckDB independently recomputes the
    * exact columns and pins the boolean to TRUE — the hash gate then
    * verifies both the exact math and the sketch's error band, turning
    * what was an unverified invariant into a driver-checked oracle.
    *
    * NOTE the band oracle deliberately re-runs the exact (value-
    * buffering) aggregate AT VERIFY TIME — that is the price of the
    * driver-checked error band, and it negates the query's own scaling
    * rationale if timed. The registered Q therefore benches
    * [[approxPercentilesSketch]] (the sketch-only production
    * formulation) while Verify hash-checks this one;
    * `OperatorInvariantsSpec` pins the two together.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("floor(percentile(l_quantity, 0.5) * 10000 + 0.5) / 10000")
          .as("p50_qty"),
        expr("floor(percentile(l_quantity, 0.9) * 10000 + 0.5) / 10000")
          .as("p90_qty"),
        expr("floor(percentile(l_extendedprice, 0.5) * 10000 + 0.5) / 10000")
          .as("p50_price"),
        expr("""abs(approx_percentile(l_quantity, 0.5, 10000)
                    - percentile(l_quantity, 0.5))
                  <= greatest(1.0d, percentile(l_quantity, 0.5) * 0.02)
            AND abs(approx_percentile(l_quantity, 0.9, 10000)
                    - percentile(l_quantity, 0.9))
                  <= greatest(1.0d, percentile(l_quantity, 0.9) * 0.02)
            AND abs(approx_percentile(l_extendedprice, 0.5, 10000)
                    - percentile(l_extendedprice, 0.5))
                  <= greatest(1.0d,
                        percentile(l_extendedprice, 0.5) * 0.02)""")
          .as("approx_in_band"))
      .orderBy(col("l_returnflag"))

  private val approxPercentilesSql =
    """SELECT l_returnflag,
       floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5) / 10000 AS p50_qty,
       floor(quantile_cont(l_quantity, 0.9) * 10000 + 0.5) / 10000 AS p90_qty,
       floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000
         AS p50_price,
       TRUE AS approx_in_band
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** What a7c runs in production (and in the bench): the mergeable
    * sketch ONLY — constant memory per group, no exact value buffering.
    * Grid-rounded like every float the engine emits; the band oracle in
    * [[approxPercentiles]] is what proves these estimates honest.
    */
  def approxPercentilesSketch(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("floor(approx_percentile(l_quantity, 0.5, 10000) * 10000 + 0.5)" +
          " / 10000").as("p50_qty"),
        expr("floor(approx_percentile(l_quantity, 0.9, 10000) * 10000 + 0.5)" +
          " / 10000").as("p90_qty"),
        expr("floor(approx_percentile(l_extendedprice, 0.5, 10000) * 10000" +
          " + 0.5) / 10000").as("p50_price"))
      .orderBy(col("l_returnflag"))

  val qs: Seq[Q] = Seq(
    Q("t1_typed_aggregator", typedAggregator, Some(typedAggregatorSql)),
    Q("a7_percentiles", percentiles, Some(percentilesSql)),
    Q("a7c_approx_percentiles", approxPercentiles,
      Some(approxPercentilesSql),
      benchFn = Some(approxPercentilesSketch)))
}
