package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Rounding.{r2, r4}
import graft.io.Sources.table

/** Core relational operators (SURVEY.md §2.2-§2.7).
  *
  * Every operator the reference uses — projections, renames, derived
  * columns, null/regex/range/set/comparison predicates, when-chains,
  * inner/left/anti/semi joins, unions, except, group-by aggregates,
  * dedup, windowed lag — re-expressed as declarative DataFrame plans so
  * Catalyst gets full pushdown/pruning/codegen. Each entry carries its
  * DuckDB oracle SQL; results are totally ordered on non-null keys so the
  * hash compare is deterministic (DuckDB defaults NULLS LAST vs Spark
  * NULLS FIRST, so sort keys are always non-null columns).
  *
  * Scale notes are on each operator; the one deliberate small-data op is
  * `w1_lag_serial_gap` (global window, reference `pre_analysis.py:226-228`)
  * — kept for parity, documented as single-partition.
  */
object Relational {

  /** A2/A3 headline aggregate (shape of `pre_analysis.py:374`,
    * `pre_process.py:250`): group-by with multiple partial-aggregatable
    * measures — map-side combine means the shuffle carries one row per
    * (flag,status) per partition, not 6M rows. Scales linearly.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        // round each product to exact cents BEFORE summing: the sum of
        // 2-decimal-exact doubles is order-independent at this scale, so
        // the result can't sit on a half-cent rounding boundary that
        // shuffle order (or the oracle engine) resolves differently
        round(sum(r2(col("l_extendedprice") * (lit(1) - col("l_discount")))),
          2).as("sum_disc_price"),
        // avg as floor(sum*100/n + 0.5)/100 over integer-exact cents:
        // bit-identical in both engines even when the true mean is an
        // exact half-cent (0.5 is representable; no epsilon involved)
        (floor(sum(col("l_quantity")) * 100 / count(lit(1)) + lit(0.5)) / 100)
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100), 2)
         AS sum_disc_price,
       floor(sum(l_quantity) * 100 / count(*) + 0.5) / 100 AS avg_qty,
       count(*) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** P1 projection + F3 range + F5 literal predicates — all pushed into
    * the parquet scan (PushedFilters + 4-column ReadSchema).
    */
  def p1ProjectFilter(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .filter(col("l_quantity").between(30, 40) &&
        col("l_extendedprice") > 20000)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val p1Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem
       WHERE l_quantity BETWEEN 30 AND 40 AND l_extendedprice > 20000
       ORDER BY l_orderkey, l_linenumber"""

  /** P2 star-expansion after aliased join (`pre_analysis.py:702-705`). */
  def p2StarExpand(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders").alias("o")
    val c = table(spark, dir, "customer").alias("c")
    o.join(c, col("o.o_custkey") === col("c.c_custkey"), "inner")
      .filter(pmod(col("o.o_orderkey"), lit(100)) === 0)
      .select(col("o.*"), col("c.*"))
      .orderBy(col("o_orderkey"))
  }

  private val p2Sql =
    """SELECT o.*, c.* FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE o.o_orderkey % 100 = 0 ORDER BY o_orderkey"""

  /** P3 rename + P1 prune (`pre_process.py:68-73,90-93`). */
  def p3RenamePrune(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .withColumnRenamed("c_custkey", "user_id")
      .withColumnRenamed("c_acctbal", "rubro")
      .select(col("user_id"), col("c_name"), col("rubro"))
      .orderBy(col("user_id"))

  private val p3Sql =
    """SELECT c_custkey AS user_id, c_name, c_acctbal AS rubro
       FROM customer ORDER BY user_id"""

  /** P5 derived columns + M1 arithmetic (`transform.py` feature adds). */
  def p5DerivedColumns(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .withColumn("net_price",
        r2(col("l_extendedprice") * (lit(1) - col("l_discount"))))
      .withColumn("gross_price",
        r2(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))))
      .withColumn("qty_minus_line", col("l_quantity") - col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("net_price"),
        col("gross_price"), col("qty_minus_line"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val p5Sql =
    """SELECT l_orderkey, l_linenumber,
       floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price,
       floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS gross_price,
       l_quantity - l_linenumber AS qty_minus_line
       FROM lineitem ORDER BY l_orderkey, l_linenumber"""

  /** F1 null predicates over a column nulled by an otherwise-less `when`
    * (`pre_process.py:274-276` nulls `activacion_dt` the same way).
    */
  def f1NullPredicate(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .withColumn("maybe_price",
        when(col("o_orderstatus") =!= "O", col("o_totalprice")))
      .filter(col("maybe_price").isNull && col("o_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  private val f1Sql =
    """SELECT o_orderkey, o_orderstatus FROM (
         SELECT o_orderkey, o_orderstatus, o_custkey,
                CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END AS maybe_price
         FROM orders) t
       WHERE maybe_price IS NULL AND o_custkey IS NOT NULL
       ORDER BY o_orderkey"""

  /** F2 regex predicate (`rlike("^MLB.*$")` at `pre_analysis.py:238`) +
    * the imported-but-unused `regexp_extract` surface.
    */
  def f2RegexExtract(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .filter(col("c_name").rlike("^Customer#[0-9]*[02468]$"))
      .withColumn("id_num",
        regexp_extract(col("c_name"), "([0-9]+)$", 1).cast("bigint"))
      .select(col("c_custkey"), col("c_name"), col("id_num"))
      .orderBy(col("c_custkey"))

  private val f2Sql =
    """SELECT c_custkey, c_name,
       CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS id_num
       FROM customer WHERE regexp_matches(c_name, '^Customer#[0-9]*[02468]$')
       ORDER BY c_custkey"""

  /** F4 set-membership + F9 multi-column sort (`pre_analysis.py:206,273`). */
  def f4IsinSort(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))

  private val f4Sql =
    """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
       WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       ORDER BY o_orderpriority, o_orderkey"""

  /** F6 column-vs-column comparison + F7 conjunction/negation
    * (temporal-ordering rules, `pre_process.py:180,194,230`).
    */
  def f6ColCompare(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .withColumn("late_ship",
        (col("l_shipdate") < col("o_orderdate")).cast("int"))
      .withColumn("flagged_disc",
        ((col("l_discount") > col("l_tax")) && col("l_returnflag") === "A")
          .cast("int"))
      .withColumn("not_open", (!(col("o_orderstatus") === "O")).cast("int"))
      .select(col("l_orderkey"), col("l_linenumber"), col("late_ship"),
        col("flagged_disc"), col("not_open"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val f6Sql =
    """SELECT l_orderkey, l_linenumber,
       CAST(l_shipdate < o_orderdate AS INT) AS late_ship,
       CAST(l_discount > l_tax AND l_returnflag = 'A' AS INT) AS flagged_disc,
       CAST(NOT (o_orderstatus = 'O') AS INT) AS not_open
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       ORDER BY l_orderkey, l_linenumber"""

  /** F8 conditional expression: nested when-chain plus `when` without
    * `otherwise` (=> null), both reference idioms
    * (`transform.py:95-100`, `pre_process.py:274-276`).
    */
  def f8WhenChain(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .withColumn("priority_class",
        when(col("o_orderpriority") === "1-URGENT", "hot")
          .when(col("o_orderpriority") === "2-HIGH", "warm")
          .otherwise("cold"))
      .withColumn("urgent_price",
        when(col("o_orderpriority") === "1-URGENT",
          round(col("o_totalprice"), 2)))
      .select(col("o_orderkey"), col("priority_class"), col("urgent_price"))
      .orderBy(col("o_orderkey"))

  private val f8Sql =
    """SELECT o_orderkey,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 'hot'
            WHEN o_orderpriority = '2-HIGH' THEN 'warm'
            ELSE 'cold' END AS priority_class,
       CASE WHEN o_orderpriority = '1-URGENT' THEN round(o_totalprice, 2)
            END AS urgent_price
       FROM orders ORDER BY o_orderkey"""

  /** Cast-to-null semantics (non-ANSI), the reference's validity probe
    * (`pre_analysis.py:244-258`): failed int/date casts yield null.
    */
  def castValidate(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .withColumn("prio_num",
        regexp_extract(col("o_orderpriority"), "^([0-9])", 1).cast("int"))
      .withColumn("bad_int", col("o_orderpriority").cast("int"))
      .withColumn("bad_date", to_date(col("o_orderstatus")))
      .withColumn("good_ts",
        to_timestamp(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")))
      .withColumn("is_valid_prio", col("prio_num").isNotNull.cast("int"))
      .select(col("o_orderkey"), col("prio_num"), col("bad_int"),
        col("bad_date"), col("good_ts"), col("is_valid_prio"))
      .orderBy(col("o_orderkey"))

  private val castValidateSql =
    """SELECT o_orderkey,
       TRY_CAST(regexp_extract(o_orderpriority, '^([0-9])', 1) AS INT) AS prio_num,
       TRY_CAST(o_orderpriority AS INT) AS bad_int,
       TRY_CAST(o_orderstatus AS DATE) AS bad_date,
       TRY_CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)
         AS good_ts,
       CAST(TRY_CAST(regexp_extract(o_orderpriority, '^([0-9])', 1) AS INT)
            IS NOT NULL AS INT) AS is_valid_prio
       FROM orders ORDER BY o_orderkey"""

  /** D1-D8 date/time functions with an explicit asOf date replacing the
    * reference's nondeterministic `current_date()` (`transform.py:93,144`).
    */
  val asOf = "2026-08-12"

  def d1DateFunctions(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        to_date(col("o_orderdate")).as("order_date"),
        year(col("o_orderdate")).as("order_year"),
        weekofyear(col("o_orderdate")).as("order_week"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("ship_delay"),
        greatest(to_date(col("o_orderdate")), to_date(col("l_shipdate")))
          .as("latest_dt"),
        datediff(lit(asOf).cast("date"), col("o_orderdate")).as("age_days"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val d1Sql =
    s"""SELECT l_orderkey, l_linenumber,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(weekofyear(o_orderdate) AS INT) AS order_week,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
       CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INT) AS ship_delay,
       greatest(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS latest_dt,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '$asOf') AS INT) AS age_days
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       ORDER BY l_orderkey, l_linenumber"""

  /** J1 inner equi-join, USING-style on a shared key name
    * (`transform.py:66`). At scale: fact-side shuffle on the key; the
    * dim side is broadcast by AQE when small.
    */
  def j1InnerJoinUsing(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .withColumnRenamed("o_custkey", "user_id")
    val c = table(spark, dir, "customer")
      .withColumnRenamed("c_custkey", "user_id")
    o.join(c, Seq("user_id"), "inner")
      .select(col("user_id"), col("o_orderkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val j1Sql =
    """SELECT o_custkey AS user_id, o_orderkey, c_name, o_totalprice
       FROM orders JOIN customer ON o_custkey = c_custkey
       ORDER BY o_orderkey"""

  /** J2 three-way inner join (`pre_analysis.py:702-705`) with explicit
    * broadcast of the tiny dims — zero shuffle for nation/region at any
    * fact scale.
    */
  def j2Join3wayBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val n = broadcast(table(spark, dir, "nation"))
    val r = broadcast(table(spark, dir, "region"))
    c.join(n, c("c_nationkey") === n("n_nationkey"), "inner")
      .join(r, n("n_regionkey") === r("r_regionkey"), "inner")
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        (floor(sum(col("c_acctbal")) * 100 / count(lit(1)) + lit(0.5)) / 100)
          .as("avg_bal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val j2Sql =
    """SELECT r_name, n_name, count(*) AS n_cust,
       floor(sum(c_acctbal) * 100 / count(*) + 0.5) / 100 AS avg_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** J3 left join + null-fill + conditional flag — the exact shape of the
    * reference's transaction-count repair (`pre_process.py:250-276`,
    * `pre_analysis.py:374-377`). Flagship query (`SparkEntry.entry`).
    * Aggregate-then-join: the shuffle carries one row per customer, and
    * AQE broadcasts the aggregated side when it is small.
    */
  def j3LeftJoinNullfill(spark: SparkSession, dir: String): DataFrame = {
    val counts = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("spend"))
    val c = table(spark, dir, "customer")
    c.join(counts, c("c_custkey") === counts("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("cnt"), lit(0L)).as("tx_count"),
        coalesce(col("spend"), lit(0.0)).as("total_spend"),
        when(coalesce(col("cnt"), lit(0L)) === 0, lit(1)).otherwise(lit(0))
          .as("inactive"))
      .orderBy(col("c_custkey"))
  }

  private val j3Sql =
    """SELECT c_custkey, c_name,
       coalesce(cnt, 0) AS tx_count,
       coalesce(spend, 0.0) AS total_spend,
       CASE WHEN coalesce(cnt, 0) = 0 THEN 1 ELSE 0 END AS inactive
       FROM customer LEFT JOIN (
         SELECT o_custkey, count(*) AS cnt, round(sum(o_totalprice), 2) AS spend
         FROM orders GROUP BY o_custkey) t ON c_custkey = o_custkey
       ORDER BY c_custkey"""

  /** J4 left anti join — the reference's rule-deletion mechanism
    * (`pre_process.py:168,201,219,235`).
    */
  def j4LeftAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val urgent = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val j4Sql =
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
         WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  /** J5 left semi join — idiomatic form of the reference's
    * join-against-distinct-keys filter (`pre_analysis.py:199-201`).
    */
  def j5LeftSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val big = table(spark, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  private val j5Sql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
         WHERE o_custkey = c_custkey AND o_totalprice > 300000)
       ORDER BY c_custkey"""

  /** J6 full outer join (library completeness; the reference uses only
    * inner/left/anti): order-count vs big-spender flags per key, both
    * sides nullable, coalesced.
    */
  def j6FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val urgent = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
    val big = table(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000)
      .groupBy(col("o_custkey").as("big_key"))
      .agg(count(lit(1)).as("n_big"))
    urgent.join(big, col("o_custkey") === col("big_key"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("big_key")).as("custkey"),
        coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
        coalesce(col("n_big"), lit(0L)).as("n_big"))
      .orderBy(col("custkey"))
  }

  private val j6Sql =
    """SELECT coalesce(u.o_custkey, b.big_key) AS custkey,
       coalesce(u.n_urgent, 0) AS n_urgent,
       coalesce(b.n_big, 0) AS n_big
       FROM (SELECT o_custkey, count(*) AS n_urgent FROM orders
             WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
       FULL OUTER JOIN
            (SELECT o_custkey AS big_key, count(*) AS n_big FROM orders
             WHERE o_totalprice > 300000 GROUP BY o_custkey) b
       ON u.o_custkey = b.big_key
       ORDER BY custkey"""

  /** J7 cross join (explicit cartesian of two tiny dims). */
  def j7Cross(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "region")
      .crossJoin(table(spark, dir, "nation"))
      .select(col("r_regionkey"), col("n_nationkey"), col("r_name"),
        col("n_name"))
      .orderBy(col("r_regionkey"), col("n_nationkey"))

  private val j7Sql =
    """SELECT r_regionkey, n_nationkey, r_name, n_name
       FROM region CROSS JOIN nation
       ORDER BY r_regionkey, n_nationkey"""

  /** M1 merge/upsert (SCD type-1): apply per-key updates from a source
    * onto a target dimension — update matched rows, keep unmatched, add
    * inserts. The reference's write-back stage rewrites whole tables
    * (`pre_process.py:304`); this is the keyed merge a warehouse needs.
    * Shape: aggregate source to one row per key, full-outer join on the
    * key, coalesce — one shuffle, AQE-broadcast when the delta is small.
    */
  def m1MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val target = table(spark, dir, "customer")
    val updates = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("new_bal"))
    target.join(updates, target("c_custkey") === updates("o_custkey"),
        "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("c_custkey"),
        coalesce(col("c_name"),
          concat(lit("Customer#new#"), col("o_custkey"))).as("c_name"),
        coalesce(col("new_bal"), col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey").isNull, "insert")
          .when(col("new_bal").isNull, "keep")
          .otherwise("update").as("merge_action"))
      .orderBy(col("c_custkey"))
  }

  private val m1Sql =
    """SELECT coalesce(c_custkey, o_custkey) AS c_custkey,
       coalesce(c_name, 'Customer#new#' || o_custkey) AS c_name,
       coalesce(new_bal, c_acctbal) AS c_acctbal,
       CASE WHEN c_custkey IS NULL THEN 'insert'
            WHEN new_bal IS NULL THEN 'keep'
            ELSE 'update' END AS merge_action
       FROM customer
       FULL OUTER JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS new_bal
                        FROM orders GROUP BY o_custkey) u
       ON c_custkey = o_custkey
       ORDER BY c_custkey"""

  /** J8: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * join you need when the key itself can be legitimately null (e.g.
    * grouping by a nullable derived category): a plain equi-join drops
    * every null-keyed row on both sides. Null-safe equality still
    * hash-partitions (nulls form one key), so the plan stays a regular
    * shuffled/broadcast hash join, not a nested loop.
    */
  def j8NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val a = table(spark, dir, "lineitem")
      .groupBy(nullif(col("l_returnflag"), lit("N")).as("k"))
      .agg(count(lit(1)).as("n_a"))
    val b = table(spark, dir, "lineitem")
      .groupBy(nullif(col("l_returnflag"), lit("R")).as("k2"))
      .agg(count(lit(1)).as("n_b"))
    a.join(b, col("k") <=> col("k2"), "inner")
      .select(coalesce(col("k"), lit("(null)")).as("k_display"),
        col("n_a"), col("n_b"))
      .orderBy(col("k_display"))
  }

  private val j8Sql =
    """WITH a AS (SELECT nullif(l_returnflag, 'N') AS k, count(*) AS n_a
                  FROM lineitem GROUP BY 1),
       b AS (SELECT nullif(l_returnflag, 'R') AS k2, count(*) AS n_b
             FROM lineitem GROUP BY 1)
       SELECT coalesce(k, '(null)') AS k_display, n_a, n_b
       FROM a JOIN b ON k IS NOT DISTINCT FROM k2
       ORDER BY k_display"""

  /** M2: SCD-2 merge — the history-keeping twin of [[m1MergeUpsert]].
    * A balance update closes the current dim row (valid_to = effective
    * date) and opens a new one; unchanged keys pass through open. ONE
    * join + a map-only struct explode emits both row versions of a
    * changed key in a single pass (no second scan of the dim).
    */
  def m2Scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val target = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    // deterministic subset so BOTH branches (changed key -> close+open,
    // untouched key -> pass-through) are exercised at every sf
    val updates = table(spark, dir, "orders")
      .filter(col("o_custkey") % 3 =!= 0)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("new_bal"),
        max(col("o_orderdate")).as("eff_date"))
    target.join(updates, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), explode(when(col("new_bal").isNotNull,
        array(
          struct(col("c_acctbal").as("bal"),
            to_date(lit("1990-01-01")).as("valid_from"),
            to_date(col("eff_date")).as("valid_to"),
            lit("closed").as("row_status")),
          struct(col("new_bal").as("bal"),
            to_date(col("eff_date")).as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit("current").as("row_status"))))
        .otherwise(array(
          struct(col("c_acctbal").as("bal"),
            to_date(lit("1990-01-01")).as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit("current").as("row_status"))))).as("v"))
      .select(col("c_custkey"), col("v.bal").as("bal"),
        col("v.valid_from").as("valid_from"), col("v.valid_to").as("valid_to"),
        col("v.row_status").as("row_status"))
      .orderBy(col("c_custkey"), col("valid_from"), col("row_status"))
  }

  private val m2Sql =
    """WITH u AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS new_bal,
                    CAST(max(o_orderdate) AS DATE) AS eff_date
                  FROM orders WHERE o_custkey % 3 <> 0 GROUP BY o_custkey),
       j AS (SELECT c_custkey, c_acctbal, new_bal, eff_date
             FROM customer LEFT JOIN u ON c_custkey = o_custkey)
       SELECT c_custkey, c_acctbal AS bal, DATE '1990-01-01' AS valid_from,
              eff_date AS valid_to, 'closed' AS row_status
       FROM j WHERE new_bal IS NOT NULL
       UNION ALL
       SELECT c_custkey, new_bal, eff_date, NULL, 'current'
       FROM j WHERE new_bal IS NOT NULL
       UNION ALL
       SELECT c_custkey, c_acctbal, DATE '1990-01-01', NULL, 'current'
       FROM j WHERE new_bal IS NULL
       ORDER BY c_custkey, valid_from, row_status"""

  /** W4: frame-based windows — ntile quartiles and a VALUE-range frame
    * (trailing 30 days by order date). Range frames are tie-safe by
    * construction (same ordering value => same frame), so the running
    * sum is deterministic without a serial tiebreak.
    */
  def w4WindowFrames(spark: SparkSession, dir: String): DataFrame = {
    val days = datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
    val wTile = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wRange = Window.partitionBy(col("o_custkey"))
      .orderBy(days).rangeBetween(-30, 0)
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(wTile).as("spend_quartile"),
        round(sum(col("o_totalprice")).over(wRange), 2).as("trailing30"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val w4Sql =
    """SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER (PARTITION BY o_custkey
         ORDER BY o_totalprice, o_orderkey) AS INT) AS spend_quartile,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS trailing30
       FROM orders ORDER BY o_custkey, o_orderkey"""

  /** P6: unpivot/melt (the wide→long reshape; `Dataset.unpivot`, the
    * inverse of e5's pivot). Map-only — no shuffle until the oracle
    * sort.
    */
  def p6Unpivot(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").cast("double").as("c_nation"))
      .unpivot(Array(col("c_custkey")),
        Array(col("c_acctbal"), col("c_nation")), "metric", "value")
      .orderBy(col("c_custkey"), col("metric"))

  private val p6Sql =
    """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value
       FROM customer
       UNION ALL
       SELECT c_custkey, 'c_nation', CAST(c_nationkey AS DOUBLE)
       FROM customer
       ORDER BY c_custkey, metric"""

  /** U1 union + A4 distinct-count: the user-universe check
    * (`pre_analysis.py:434-445`). The 100 TB twin of exact
    * `distinct().count()` is `approx_count_distinct` (see
    * `a4_distinct_counts` / `ext` HLL note); both are exposed.
    */
  def u1UnionDistinctCount(spark: SparkSession, dir: String): DataFrame = {
    val a = table(spark, dir, "orders").select(col("o_custkey").as("k"))
    val b = table(spark, dir, "customer").select(col("c_custkey").as("k"))
    a.union(b).agg(countDistinct(col("k")).as("n_users"))
  }

  private val u1Sql =
    """SELECT count(DISTINCT k) AS n_users FROM (
         SELECT o_custkey AS k FROM orders
         UNION ALL SELECT c_custkey FROM customer) t"""

  /** U2 except-distinct (`df.subtract`, `pre_process.py:139`). */
  def u2Except(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer").select(col("c_custkey").as("k"))
    val u = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    c.except(u).orderBy(col("k"))
  }

  private val u2Sql =
    """SELECT c_custkey AS k FROM customer
       EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
       ORDER BY k"""

  /** U3 intersect (built-in counterpart noted in §2.7). */
  def u3Intersect(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer").select(col("c_custkey").as("k"))
    val o = table(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("k"))
    c.intersect(o).orderBy(col("k"))
  }

  private val u3Sql =
    """SELECT c_custkey AS k FROM customer
       INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 300000
       ORDER BY k"""

  /** U4 multiset set-ops: exceptAll / intersectAll keep duplicate
    * multiplicity (vs the reference's distinct-only `subtract`) —
    * counting twin so output stays small and deterministic.
    */
  def u4MultisetOps(spark: SparkSession, dir: String): DataFrame = {
    val prio = table(spark, dir, "orders")
      .select(col("o_custkey").as("k"))
    val urgent = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    val exceptCnt = prio.exceptAll(urgent).groupBy(col("k"))
      .agg(count(lit(1)).as("n_except"))
    val interCnt = prio.intersectAll(urgent).groupBy(col("k"))
      .agg(count(lit(1)).as("n_intersect"))
    exceptCnt.join(interCnt, Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("n_except"), lit(0L)).as("n_except"),
        coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
      .orderBy(col("k"))
  }

  private val u4Sql =
    """WITH ex AS (
         SELECT k, count(*) AS n_except FROM (
           SELECT o_custkey AS k FROM orders
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
         GROUP BY k),
       ix AS (
         SELECT k, count(*) AS n_intersect FROM (
           SELECT o_custkey AS k FROM orders
           INTERSECT ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
         GROUP BY k)
       SELECT coalesce(ex.k, ix.k) AS k,
              coalesce(n_except, 0) AS n_except,
              coalesce(n_intersect, 0) AS n_intersect
       FROM ex FULL OUTER JOIN ix ON ex.k = ix.k
       ORDER BY k"""

  /** A1 count action as a single-row aggregate (the reference's ~45
    * `df.count()` sites, §2.5).
    */
  def a1Count(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").agg(count(lit(1)).as("n"))

  private val a1Sql = "SELECT count(*) AS n FROM lineitem"

  /** A4 distinct counts, fused into ONE job over all columns of interest
    * (vs the reference's per-column loop, `pre_analysis.py:139-149`).
    */
  def a4DistinctCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("d_part"),
      countDistinct(col("l_suppkey")).as("d_supp"),
      countDistinct(col("l_returnflag")).as("d_flag"))

  private val a4Sql =
    """SELECT count(DISTINCT l_partkey) AS d_part,
       count(DISTINCT l_suppkey) AS d_supp,
       count(DISTINCT l_returnflag) AS d_flag FROM lineitem"""

  /** A5 full-row dedup (`dropDuplicates()`, `pre_process.py:52-53`). */
  def a5DedupFullRows(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .dropDuplicates()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  private val a5Sql =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
       ORDER BY o_orderstatus, o_orderpriority"""

  /** A6 keyed dedup, deterministic twin of `dropDuplicates(["user_id"])`
    * (`pre_process.py:54`): row_number over an explicit ordering keeps the
    * FIRST order per customer instead of an arbitrary one.
    */
  def a6DedupKeyed(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    table(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_custkey"))
  }

  private val a6Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate FROM (
         SELECT o_custkey, o_orderkey, o_orderdate,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders) t
       WHERE rn = 1 ORDER BY o_custkey"""

  /** A7 summary stats (`describe()`, `pre_analysis.py:765-767`) as an
    * explicit grouped aggregate.
    */
  def a7SummaryStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("l_quantity")) * 100 / count(lit(1)) + lit(0.5)) / 100)
          .as("mean_qty"),
        round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))

  private val a7Sql =
    """SELECT l_returnflag, count(*) AS n,
       floor(sum(l_quantity) * 100 / count(*) + 0.5) / 100 AS mean_qty,
       round(stddev_samp(l_quantity), 2) AS sd_qty,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** A7b: Spark's own `describe()` (the literal API the reference calls,
    * `pre_analysis.py:765-767`) over the same columns as
    * [[a7SummaryStats]]. `describe` emits stringified stats — fine for
    * a notebook, useless for typed downstream math — so the engine
    * treats the explicit-agg twin as the real operator and registers
    * this for API completeness. Oracled since round 6: every value
    * `describe` emits here is either an exact integer-valued string
    * (count) or a double whose shortest-round-trip decimal rendering
    * Spark and DuckDB agree on below the 1e7 scientific-notation
    * switch (mean/stddev are grid-rounded to 1e-4 first, min/max are
    * exact column values ~1e5 at most) — so the DuckDB oracle rebuilds
    * the same five string rows with plain casts.
    * `OperatorInvariantsSpec` still pins the values to the oracled
    * twin.
    */
  def a7Describe(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "lineitem")
      .describe("l_quantity", "l_extendedprice", "l_discount")
    // mean/stddev come back as full-precision strings whose last ulp
    // depends on partial-aggregation order — round them so the output
    // is identical at any parallelism (count/min/max are exact already)
    val stable = d.columns.filter(_ != "summary").map { c =>
      when(col("summary").isin("mean", "stddev"),
        r4(col(c).cast("double")).cast("string"))
        .otherwise(col(c)).as(c)
    }
    d.select(col("summary") +: stable.toSeq: _*).orderBy(col("summary"))
  }

  private val a7DescribeSql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def row(summary: String, agg: String => String) =
      s"SELECT '$summary' AS summary, " +
        cols.map(c => s"${agg(c)} AS $c").mkString(", ") + " FROM lineitem"
    Seq(
      row("count", c => s"CAST(count($c) AS VARCHAR)"),
      row("mean", c =>
        s"CAST(floor(avg($c) * 10000 + 0.5) / 10000 AS VARCHAR)"),
      row("stddev", c =>
        s"CAST(floor(stddev_samp($c) * 10000 + 0.5) / 10000 AS VARCHAR)"),
      row("min", c => s"CAST(min($c) AS VARCHAR)"),
      row("max", c => s"CAST(max($c) AS VARCHAR)")
    ).mkString("", " UNION ALL ", " ORDER BY summary")
  }

  /** A8 Pearson correlation, Spark-side (`corr` aggregate) — replaces the
    * reference's collect-to-pandas `.corr()` (`pre_analysis.py:653-711`):
    * no driver collect, single distributed pass.
    */
  def a8Correlation(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").agg(
      round(corr(col("l_quantity"), col("l_extendedprice")), 4)
        .as("corr_qty_price"),
      round(corr(col("l_extendedprice"), col("l_discount")), 4)
        .as("corr_price_disc"))

  private val a8Sql =
    """SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(corr(l_extendedprice, l_discount), 4) AS corr_price_disc
       FROM lineitem"""

  /** A9 value counts (`pre_analysis.py:520,611-616`) with sort-on-agg. */
  def a9ValueCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .groupBy(col("o_orderpriority")).count()
      .orderBy(col("count").desc, col("o_orderpriority"))

  private val a9Sql =
    """SELECT o_orderpriority, count(*) AS count FROM orders
       GROUP BY o_orderpriority ORDER BY count DESC, o_orderpriority"""

  /** A9b binned histogram (seaborn histplot twin) — groupBy on a computed
    * bucket, entirely Spark-side.
    */
  def a9Histogram(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy((floor(col("value") / 50) * 50).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  private val a9HistSql =
    """SELECT CAST(floor(value / 50) * 50 AS BIGINT) AS bucket, count(*) AS n
       FROM events GROUP BY 1 ORDER BY bucket"""

  /** A11 array aggregation — deterministic form: sorted distinct set
    * (`sort_array(collect_set(...))`; raw `collect_list` order is
    * partition-dependent, the same hazard as `dropDuplicates(keys)`).
    * Serialized to a ','-joined scalar so the comparison harness can
    * sort/hash the column (pandas can't factorize ndarray cells).
    */
  def a11ArrayAgg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",")
        .as("statuses"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy(col("l_returnflag"))

  private val a11Sql =
    """SELECT l_returnflag,
       array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
         AS statuses,
       count(DISTINCT l_suppkey) AS n_supp
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** A10 rollup (grouping sets) — subtotals + grand total in one pass
    * (noted as built-in surface in §2.5). Sort keys include the
    * grouping level so the nullable rollup columns sort identically in
    * both engines (explicit NULLS FIRST in the oracle).
    */
  def a10Rollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2)
        .as("sum_qty"),
        grouping_id(col("l_returnflag"), col("l_linestatus")).as("lvl"))
      .orderBy(col("lvl"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val a10Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS lvl
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       ORDER BY lvl, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  /** A10b: cube — all 2^k grouping sets in one pass (rollup's superset;
    * same single-aggregate plan with an Expand below it).
    */
  def a10Cube(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2)
        .as("sum_qty"),
        grouping_id(col("l_returnflag"), col("l_linestatus")).as("lvl"))
      .orderBy(col("lvl"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val a10bSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS lvl
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
       ORDER BY lvl, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  /** W1 global-ordered window + lag — serial-gap integrity check
    * (`pre_analysis.py:226-228`). Deliberately single-partition (matches
    * the reference); documented scale hazard — the 100 TB variant
    * partitions by a range key first (see `w2`/`w3` for keyed windows).
    */
  def w1LagSerialGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("o_orderkey"))
    table(spark, dir, "orders")
      .select(col("o_orderkey"),
        (col("o_orderkey") - lag(col("o_orderkey"), 1).over(w)).as("gap"))
      .withColumn("is_gap",
        when(col("gap").isNotNull && col("gap") =!= 1, 1).otherwise(0))
      .orderBy(col("o_orderkey"))
  }

  private val w1Sql =
    """SELECT o_orderkey,
       o_orderkey - lag(o_orderkey, 1) OVER (ORDER BY o_orderkey) AS gap,
       CASE WHEN o_orderkey - lag(o_orderkey, 1) OVER (ORDER BY o_orderkey)
                 IS NOT NULL
             AND o_orderkey - lag(o_orderkey, 1) OVER (ORDER BY o_orderkey) <> 1
            THEN 1 ELSE 0 END AS is_gap
       FROM orders ORDER BY o_orderkey"""

  /** W2 partitioned ranking — top-3 customers by balance per nation
    * (deterministic-dedup building block, §2.6). Scales: shuffle on the
    * partition key only.
    */
  def w2RankTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    table(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("c_nationkey"), col("rn"))
  }

  private val w2Sql =
    """SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
         SELECT c_nationkey, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer) t
       WHERE rn <= 3 ORDER BY c_nationkey, rn"""

  /** W3 running sum over an explicit frame (rowsBetween) per customer. */
  def w3RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  private val w3Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
       FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"""

  val qs: Seq[Q] = Seq(
    Q("q1_agg", q1Agg, Some(q1Sql), bench = true),
    Q("p1_project_filter", p1ProjectFilter, Some(p1Sql)),
    Q("p2_star_expand", p2StarExpand, Some(p2Sql)),
    Q("p3_rename_prune", p3RenamePrune, Some(p3Sql)),
    Q("p5_derived_columns", p5DerivedColumns, Some(p5Sql)),
    Q("f1_null_predicate", f1NullPredicate, Some(f1Sql)),
    Q("f2_regex_extract", f2RegexExtract, Some(f2Sql)),
    Q("f4_isin_sort", f4IsinSort, Some(f4Sql)),
    Q("f6_col_compare", f6ColCompare, Some(f6Sql)),
    Q("f8_when_chain", f8WhenChain, Some(f8Sql)),
    Q("c1_cast_validate", castValidate, Some(castValidateSql)),
    Q("d1_date_functions", d1DateFunctions, Some(d1Sql), bench = true),
    Q("j1_inner_join_using", j1InnerJoinUsing, Some(j1Sql)),
    Q("j2_join_3way_broadcast", j2Join3wayBroadcast, Some(j2Sql),
      bench = true),
    Q("j3_left_join_nullfill", j3LeftJoinNullfill, Some(j3Sql),
      bench = true),
    Q("j4_left_anti", j4LeftAnti, Some(j4Sql)),
    Q("j5_left_semi", j5LeftSemi, Some(j5Sql)),
    Q("j6_full_outer", j6FullOuter, Some(j6Sql)),
    Q("j7_cross", j7Cross, Some(j7Sql)),
    Q("m1_merge_upsert", m1MergeUpsert, Some(m1Sql)),
    Q("m2_scd2_merge", m2Scd2Merge, Some(m2Sql)),
    Q("j8_nullsafe_join", j8NullSafeJoin, Some(j8Sql)),
    Q("w4_window_frames", w4WindowFrames, Some(w4Sql)),
    Q("p6_unpivot", p6Unpivot, Some(p6Sql)),
    Q("u1_union_distinct_count", u1UnionDistinctCount, Some(u1Sql)),
    Q("u2_except", u2Except, Some(u2Sql)),
    Q("u3_intersect", u3Intersect, Some(u3Sql)),
    Q("u4_multiset_ops", u4MultisetOps, Some(u4Sql)),
    Q("a1_count", a1Count, Some(a1Sql)),
    Q("a4_distinct_counts", a4DistinctCounts, Some(a4Sql)),
    Q("a5_dedup_full_rows", a5DedupFullRows, Some(a5Sql)),
    Q("a6_dedup_keyed", a6DedupKeyed, Some(a6Sql), bench = true),
    Q("a7_summary_stats", a7SummaryStats, Some(a7Sql)),
    Q("a7_describe", a7Describe, Some(a7DescribeSql)),
    Q("a8_correlation", a8Correlation, Some(a8Sql)),
    Q("a9_value_counts", a9ValueCounts, Some(a9Sql)),
    Q("a9_histogram", a9Histogram, Some(a9HistSql)),
    Q("a10_rollup", a10Rollup, Some(a10Sql)),
    Q("a10b_cube", a10Cube, Some(a10bSql)),
    Q("a11_array_agg", a11ArrayAgg, Some(a11Sql)),
    Q("w1_lag_serial_gap", w1LagSerialGap, Some(w1Sql)),
    Q("w2_rank_topk", w2RankTopk, Some(w2Sql)),
    Q("w3_running_sum", w3RunningSum, Some(w3Sql), bench = true))
}
