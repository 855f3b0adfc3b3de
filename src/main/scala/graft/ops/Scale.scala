package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.r4
import graft.io.Sources.table

/** Scale utilities: the shuffle- and layout-shaping tools a 100 TB
  * deployment needs (SURVEY.md §4.3.5). AQE handles moderate skew
  * automatically (`spark.sql.adaptive.skewJoin`); `saltedJoin` is the
  * explicit fallback for pathological hot keys; bucketed co-located
  * joins ([[bucketedJoinQ]], asserted in `BucketingSpec`) remove the
  * shuffle entirely for repeated joins on one key; and the z-order
  * layout ([[zorderLayoutQ]]) is the write-side primitive for
  * multi-dimensional data skipping.
  */
object Scale {

  /** Skew-resistant inner equi-join: the left (skewed) side gets a
    * random-free, DETERMINISTIC salt derived from a row hash; the right
    * side is exploded across all salt values. Result is identical to the
    * plain join — verified by the oracle of `scale1_salted_join` — but
    * the shuffle key becomes (key, salt), splitting a hot key across
    * `salt` reducers.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col).toSeq: _*)), lit(salt))
        .cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight,
        saltedLeft(leftKey) === saltedRight(rightKey) &&
          saltedLeft("__salt") === saltedRight("__salt"), "inner")
      .drop("__salt")
  }

  /** t2 entry: salted join of lineitem (skew side) to orders, proven
    * result-identical to the plain equi-join by the oracle.
    */
  def saltedJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val o = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    saltedJoin(li, o, "l_orderkey", "o_orderkey", 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_totalprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val saltedJoinSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       ORDER BY l_orderkey, l_linenumber"""

  /** Pre-partitioned (repartition-by-key) aggregation: an explicit
    * repartition on the grouping key lets several downstream keyed ops
    * reuse one shuffle (partitioning-reuse pattern). Result equals the
    * plain aggregation.
    */
  def repartitionedAggQ(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .repartition(col("l_suppkey"))
    li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2)
        .as("sum_qty"))
      .orderBy(col("l_suppkey"))
  }

  private val repartitionedAggSql =
    """SELECT l_suppkey, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"""

  /** Join-key skew report — the diagnosis you run BEFORE choosing
    * salting / AQE skew-join / broadcast: per-key cardinality
    * distribution (min/p50/p90/max rows per key) plus the top heavy
    * hitters with their share of all rows. One keyed count (map-side
    * combined) and then tiny aggregates — the profile costs one pass
    * however large the fact table.
    */
  def skewReport(df: DataFrame, key: String, topK: Int = 5): DataFrame = {
    val counts =
      graft.Overlap.own(df.groupBy(col(key)).agg(count(lit(1)).as("n")).cache())
    val total = counts.agg(sum(col("n"))).head().getLong(0)
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      min(col("n")).as("rows_min"),
      // floor(x + 0.5), not cast: when the interpolated percentile lands
      // exactly on .5 (even key count), Spark's long cast truncates while
      // DuckDB's BIGINT cast rounds — half-up on both sides is the repo's
      // standard rounding discipline (see functions.Rounding)
      expr("floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY n) + 0.5)")
        .cast("long").as("rows_p50"),
      expr("floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY n) + 0.5)")
        .cast("long").as("rows_p90"),
      max(col("n")).as("rows_max"))
    val top = counts.orderBy(col("n").desc, col(key)).limit(topK)
      .select(col(key).cast("string").as("hot_key"), col("n").as("hot_n"))
    stats.crossJoin(top)
      .withColumn("hot_share",
        r4(col("hot_n").cast("double") / total))
      .orderBy(col("hot_n").desc, col("hot_key"))
    // counts stays cached: the returned plan's stats and top-k branches
    // both read it when the report actually executes (an unpersist here,
    // at construction time, would force two fresh scans of the fact
    // table). Its owner (graft.Overlap) frees it when the query ends.
  }

  def skewReportQ(spark: SparkSession, dir: String): DataFrame =
    skewReport(table(spark, dir, "lineitem"), "l_suppkey")

  private val skewReportSql =
    """WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
       s AS (SELECT count(*) AS n_keys, min(n) AS rows_min,
               CAST(floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY n)
                 + 0.5) AS BIGINT) AS rows_p50,
               CAST(floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY n)
                 + 0.5) AS BIGINT) AS rows_p90,
               max(n) AS rows_max
             FROM c),
       t AS (SELECT CAST(l_suppkey AS VARCHAR) AS hot_key, n AS hot_n
             FROM c ORDER BY n DESC, l_suppkey LIMIT 5),
       tot AS (SELECT sum(n) AS total FROM c)
       SELECT n_keys, rows_min, rows_p50, rows_p90, rows_max, hot_key,
         hot_n,
         floor(CAST(hot_n AS DOUBLE) / total * 10000 + 0.5) / 10000
           AS hot_share
       FROM s CROSS JOIN t CROSS JOIN tot
       ORDER BY hot_n DESC, hot_key"""

  /** Bucketed co-located join — bucketing as a registered operator, not
    * just a spec demo. Both sides are written `bucketBy(8, custkey)` +
    * `sortBy` into the warehouse, then joined: Spark plans a
    * sort-merge join with ZERO shuffle exchanges under the join (the
    * bucketing IS the exchange, paid once at write time and amortized
    * across every later join on the same key — the 100 TB pattern for a
    * fact table with one dominant join key). `BucketingSpec` asserts
    * the shuffle-free subtree on this exact query with broadcast
    * disabled; under the session's 64 MB auto-broadcast threshold the
    * small dimension may broadcast instead, which is equally
    * shuffle-free. Result is identical to the plain join — the oracle
    * proves it.
    */
  def bucketedJoinQ(spark: SparkSession, dir: String): DataFrame = {
    Seq("g_bucket_orders", "g_bucket_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // the on-disk warehouse outlives the in-memory catalog: a previous
      // JVM's table files would fail this JVM's first overwrite
      val d = new java.io.File(s"${graft.io.Sources.WarehouseDir}/$t")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    // the two bucketed writes are independent tables: overlap them
    // (optimization guide §2.6) instead of paying two full write
    // barriers back to back
    graft.Overlap(spark) { s =>
      Seq(
        s.fork("bucketed write: orders") {
          table(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .saveAsTable("g_bucket_orders")
        },
        s.fork("bucketed write: customer") {
          table(spark, dir, "customer")
            .select(col("c_custkey"), col("c_name"))
            .write.mode("overwrite")
            .bucketBy(8, "c_custkey").sortBy("c_custkey")
            .saveAsTable("g_bucket_customer")
        }).foreach(s.join(_))
    }
    spark.table("g_bucket_orders")
      .join(spark.table("g_bucket_customer"),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val bucketedJoinSql =
    """SELECT o_orderkey, o_custkey, c_name, o_totalprice
       FROM orders JOIN customer ON o_custkey = c_custkey
       ORDER BY o_orderkey"""

  /** Z-order (Morton) layout — the multi-dimensional data-skipping
    * primitive next to [[bucketedJoinQ]]'s single-key layout. Each row's
    * (l_partkey, l_suppkey) is normalized onto a 2^16 x 2^16 grid and
    * bit-interleaved into a 32-bit z-value; `repartitionByRange(zval)` +
    * `sortWithinPartitions(zval)` then writes parquet whose files cover
    * COMPACT 2-D rectangles instead of full-width stripes — so a
    * predicate on EITHER dimension prunes row groups via parquet
    * min/max stats (a single-column sort can only skip on that one
    * column). At 100 TB this is the standard layout for fact tables
    * queried on several correlated dimensions (the same math behind
    * Delta/Iceberg Z-ORDER clustering).
    *
    * The registered output proves the locality engine-independently:
    * rows are read BACK from the z-ordered files and aggregated per
    * top-3-bit z-range — each of the 8 ranges must cover a 1/8-area
    * sub-rectangle (y halved, x halved, y halved again), which the
    * emitted per-range bounding boxes show and the DuckDB oracle
    * recomputes exactly (the z-math is plain integer arithmetic; the
    * grid scalars are max-aggregates both engines share).
    */
  def zorderLayoutQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Sources.tmpDir
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (px, sx) = (mx.getLong(0), mx.getLong(1))
    // grid coordinate: floor(v * 65535 / vmax) — v*65535 < 2^53, so the
    // double product and division are exact enough to round-trip
    // identically in DuckDB (same floor-on-double discipline as the
    // repo's money rounding)
    val x16 = floor(col("l_partkey") * lit(65535.0) / lit(px.toDouble))
      .cast("long")
    val y16 = floor(col("l_suppkey") * lit(65535.0) / lit(sx.toDouble))
      .cast("long")
    val zval = (0 until 16).foldLeft(lit(0L)) { (acc, b) =>
      acc
        .bitwiseOR(shiftleft(shiftright(col("zx"), b).bitwiseAND(lit(1L)),
          2 * b))
        .bitwiseOR(shiftleft(shiftright(col("zy"), b).bitwiseAND(lit(1L)),
          2 * b + 1))
    }
    val out = tmpDir(
      s"zorder_li_${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    li.withColumn("zx", x16).withColumn("zy", y16)
      .withColumn("zval", zval)
      .drop("zx", "zy")
      .repartitionByRange(8, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    spark.read.parquet(out)
      .groupBy(shiftright(col("zval"), 29).as("z_range"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("part_min"),
        max(col("l_partkey")).as("part_max"),
        min(col("l_suppkey")).as("supp_min"),
        max(col("l_suppkey")).as("supp_max"))
      .orderBy(col("z_range"))
  }

  private val zorderLayoutSql = {
    def interleave(x: String, y: String): String =
      (0 until 16).flatMap(b => Seq(
        s"((($x >> $b) & 1) << ${2 * b})",
        s"((($y >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
    s"""WITH m AS (SELECT max(l_partkey) AS px, max(l_suppkey) AS sx
                   FROM lineitem),
       g AS (SELECT CAST(floor(l_partkey * 65535.0 / px) AS BIGINT) AS zx,
               CAST(floor(l_suppkey * 65535.0 / sx) AS BIGINT) AS zy,
               l_partkey, l_suppkey
             FROM lineitem CROSS JOIN m),
       z AS (SELECT l_partkey, l_suppkey,
               (${interleave("zx", "zy")}) AS zval
             FROM g)
       SELECT zval >> 29 AS z_range, count(*) AS n,
         min(l_partkey) AS part_min, max(l_partkey) AS part_max,
         min(l_suppkey) AS supp_min, max(l_suppkey) AS supp_max
       FROM z GROUP BY z_range ORDER BY z_range"""
  }

  /** [EXT] Join-strategy steering: the same lineitem-orders join under
    * an explicit SHUFFLE_HASH hint. Sort-merge (the large-join default)
    * pays an O(n log n) sort of BOTH sides; when one side comfortably
    * builds a hash table per partition, hashing skips both sorts. At
    * 100 TB this is a per-join judgment call the engine must expose —
    * the hint changes only the physical strategy, never the result
    * (same oracle as the plan-free twin; `PlanAssertionsSpec` pins the
    * operator choice).
    */
  def shuffleHashJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority")).hint("SHUFFLE_HASH")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  private val shuffleHashJoinSql =
    """SELECT o_orderpriority, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  val qs: Seq[Q] = Seq(
    Q("scale1_salted_join", saltedJoinQ, Some(saltedJoinSql)),
    Q("scale6_shuffle_hash_join", shuffleHashJoinQ,
      Some(shuffleHashJoinSql)),
    Q("scale2_repartitioned_agg", repartitionedAggQ,
      Some(repartitionedAggSql)),
    Q("scale3_skew_report", skewReportQ, Some(skewReportSql)),
    Q("scale4_bucketed_join", bucketedJoinQ, Some(bucketedJoinSql)),
    Q("scale5_zorder_layout", zorderLayoutQ, Some(zorderLayoutSql)))
}
