package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Analytic-SQL breadth beyond the reference's single pivot aggregate
  * (SURVEY.md §2.4-2.6 "available built-ins exercised by harness
  * queries"): multi-dimensional aggregation (cube / grouping sets),
  * statistical and percentile aggregates, filtered/conditional
  * aggregation, window shifts, full-outer joins, scalar subqueries,
  * skew-salted two-stage aggregation, and the date/string scalar
  * function families.
  *
  * Scale notes baked into each plan:
  *   - cube/grouping-sets run as a single Expand + hash aggregate —
  *     one shuffle regardless of how many grouping sets;
  *   - the salted aggregation is the canonical hot-key defense: stage 1
  *     aggregates on (key, salt) spreading a skewed key over 8
  *     reducers, stage 2 merges the 8 partials — shuffle volume drops
  *     from O(rows-of-hot-key) to O(8) for the hot key;
  *   - the scalar-subquery threshold is computed once and broadcast
  *     (a 1-row build side), never re-evaluated per row;
  *   - window shifts (lag/lead/ntile) share ONE window spec so all
  *     four functions ride the same sort+partition pass.
  */
object Analytics {

  /** CUBE over (returnflag, linestatus): all 4 grouping-set combos in
    * one Expand+aggregate. The explicit grouping-marker column pins
    * which rollup level each row belongs to.
    */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("g_id"),
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy("g_id", "l_returnflag", "l_linestatus")

  /** Explicit GROUPING SETS ((flag), (priority), ()) — asymmetric sets
    * cube can't express without filtering.
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
          .cast("int").as("g_id"),
        count(lit(1)).as("n_orders"),
        // Exact decimal money sum: the () grouping set sums EVERY
        // order, and at sf1 a double sum's accumulation-order error
        // crosses the 1e-4 rounding grain (this exact query flipped
        // 2/9 rows vs the oracle at sf1). See Relational.aggPricing.
        round(sum(col("o_totalprice").cast("decimal(12,2)")), 4)
          .cast("double").as("sum_price"))
      .orderBy("g_id", "o_orderstatus", "o_orderpriority")

  /** Statistical aggregates per return flag: sample stddev/variance,
    * correlation and covariance of quantity vs extended price.
    */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"))
      .orderBy("l_returnflag")

  /** Exact linear-interpolation percentiles (p25/p50/p75) of quantity
    * per line status — `percentile`, not `percentile_approx`, so the
    * DuckDB `quantile_cont` oracle matches exactly.
    */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
    Tables.lineitem(spark, sfDir)
      .groupBy("l_linestatus")
      .agg(
        round(element_at(ps, 1), 4).as("p25"),
        round(element_at(ps, 2), 4).as("p50"),
        round(element_at(ps, 3), 4).as("p75"))
      .orderBy("l_linestatus")
  }

  /** Filtered / conditional aggregation per order priority — the
    * FILTER-clause family (count_if, conditional sum/avg).
    */
  def conditionalAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        count_if(col("o_totalprice") > 200000).as("n_big"),
        // Exact decimal money sum (order-independent) — see
        // Relational.aggPricing for the sf1 knife-edge rationale.
        round(sum(when(col("o_orderstatus") === "F",
            col("o_totalprice").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)"))), 4)
          .cast("double").as("sum_f_price"),
        round(avg(when(col("o_orderstatus") === "O", col("o_totalprice"))), 4)
          .as("avg_o_price"))
      .orderBy("o_orderpriority")

  /** Window shifts per customer ordered by (date, key): lag/lead of
    * the total price, quartile bucket, percent rank — all four over
    * one shared window spec (one sort pass).
    */
  def windowShift(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") <= 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(lag("o_totalprice", 1).over(w), 4).as("prev_price"),
        round(lead("o_totalprice", 1).over(w), 4).as("next_price"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"))
  }

  /** Full-outer join of the customer dimension against per-customer
    * order aggregates: customers with zero orders AND orders whose
    * customer key has no dimension row both survive.
    */
  def joinFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val byCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 4).as("sum_price"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(byCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
  }

  /** Scalar-subquery filter: line items priced above the global mean.
    * The mean is one broadcast row, not a per-row recomputation.
    */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val mean = li.agg(avg("l_extendedprice").as("mean_price"))
    li.join(broadcast(mean), col("l_extendedprice") > col("mean_price"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_above"),
        round(sum("l_quantity"), 4).as("sum_qty_above"))
      .orderBy("l_returnflag")
  }

  /** Two-stage skew-salted aggregation — same result as a direct
    * groupBy (the oracle IS the direct GROUP BY), but the hot key is
    * spread over 8 reducers in stage 1 and merged from 8 partials in
    * stage 2. The salt must be deterministic-per-row only; it never
    * appears in the result.
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val salted = Tables.lineitem(spark, sfDir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"), sum("l_quantity").as("pq"))
    salted
      .groupBy("l_returnflag")
      .agg(sum("pn").as("n_rows"), round(sum("pq"), 4).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Right-outer join — the mirror of the reference's left joins;
    * kept distinct from full-outer for completeness of the join-type
    * matrix. Catalyst plans it as the flipped left-outer.
    */
  def joinRightOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 4).as("price"))
    bigOrders
      .join(Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"), "right_outer")
      .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"), col("price"))
  }

  /** Cross join of the two smallest dimensions — the only sane cross
    * product: both sides tiny, result bounded (|nation|×|region|).
    */
  def joinCross(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
      .crossJoin(Tables.region(spark, sfDir).select(col("r_regionkey"), col("r_name")))
      .orderBy("n_nationkey", "r_regionkey")

  /** Date/time scalar family over the order date (reference uses only
    * to_datetime + .dt.date, SURVEY.md §2.6 F1-F2; this is the rest of
    * the family an engine needs).
    */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        trunc(to_date(col("o_orderdate")), "mm").as("month_start"),
        last_day(to_date(col("o_orderdate"))).as("month_end"),
        datediff(lit("2025-01-01").cast("date"), to_date(col("o_orderdate")))
          .as("days_to_2025"),
        (dayofweek(col("o_orderdate")) - 1).as("dow_sun0"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        add_months(to_date(col("o_orderdate")), 3).as("plus3m"))

  /** String scalar family over customer names (reference: upper +
    * replace only, `s2g/vendas.py:126-130`).
    */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .filter(col("c_custkey") <= 500)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        reverse(col("c_name")).as("rev"),
        levenshtein(col("c_name"), lit("Customer#000000001")).as("lev"),
        lpad(col("c_name"), 25, "*").as("padded"),
        instr(col("c_name"), "0").as("first_zero"),
        substring(col("c_name"), 10, 9).as("id_part"),
        translate(col("c_name"), "#0", "_ ").as("translated"))

  /** Sketch aggregates — the cardinality/quantile tools that replace
    * exact distinct counts at 100 TB: HyperLogLog++ distinct (2%
    * relative error, fixed 16 KB of state per group vs an unbounded
    * distinct-set) and GK approximate percentiles. The raw sketch
    * outputs are engine-specific, so they are NOT emitted; instead
    * the query emits the exact twins plus deterministic BOOLEAN
    * verdicts that the sketches landed inside their error bounds —
    * `distinct_ok` (HLL within the conventional 3× the configured 2%
    * rsd — HLL error is ~normal, so a 2-sigma bound would flip on ~5%
    * of (dataset, group) cells with no real bug) and
    * `median_ok` (GK median inside the exact [p0.495, p0.505] value
    * band, 5× the 1/accuracy=0.001 rank guarantee). The DuckDB oracle
    * computes the same exact columns and asserts the verdicts as
    * literal `true`, turning the former rows-only check into a real
    * differential: a broken sketch flips a verdict to `false` and the
    * hash comparison fails.
    *
    * Plan note (r11 shape — three PRUNED scans, every exact aggregate
    * fed pre-reduced input). Mixing a DISTINCT aggregate with object
    * aggregates (percentile/HLL) in one `agg` makes Spark plan an
    * Expand over every row plus a sort-based object-agg fallback —
    * measured 21 s vs 2 s for the split form at sf0.1 — so the legs
    * stay separate and broadcast-join back on the 3-row group key:
    *  1. raw (flag, price): row count + GK median — both streaming,
    *     bounded state, codegen'd partials.
    *  2. distinct (flag, orderkey): BOTH the exact distinct count and
    *     the HLL run over the reduced set — HLL is duplicate-
    *     insensitive (re-inserting an identical hash leaves the sketch
    *     unchanged), so this is the identical sketch with a shuffle of
    *     one row per key instead of one per lineitem row.
    *  3. (flag, price) → cnt, then the exact band as a FREQUENCY-
    *     WEIGHTED `percentile(price, array(...), cnt)`: the r10 fused
    *     form made the object-agg ingest every raw row; pre-reducing
    *     in a codegen'd hash aggregate means the Percentile map sees
    *     only distinct values, identical result by definition of a
    *     weighted percentile over the expanded multiset.
    */
  def approxStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val sketches = li
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median"))
    // Distinct-branch shape: repartition by the grouping key FIRST, so
    // the (now partition-local) partial + final aggregates see
    // ~|distinct|/parts groups each, at the cost of exchanging raw
    // (flag, orderkey) pairs; the exchange is AQE-coalescible (no
    // pinned partition count). Spark's default plan, a partial
    // HashAggregate BEFORE the exchange, reduces only 1.77× on this
    // key (180 M → 101.7 M rows at sf30) and its per-task hash
    // overflows into sort fallback. That map-side shape was faster in
    // 3 of 10 alternating sf1 pairs with both shapes spilling
    // (bench_sf1_approxAB.json, OPTIMIZATION_r20.md §q_approx_stats).
    val distinctPairs = li.select(col("l_returnflag"), col("l_orderkey"))
      .repartition(col("l_returnflag"), col("l_orderkey")).distinct()
    val orders = distinctPairs
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
    val band = li
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.495D, 0.505D), cnt)").as("band"))
    sketches
      .join(broadcast(orders), Seq("l_returnflag"))
      .join(broadcast(band), Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("n_rows"), col("exact_orders"),
        round(element_at(col("band"), 1), 4).as("median_lo"),
        round(element_at(col("band"), 2), 4).as("median_hi"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * lit(0.06)).as("distinct_ok"),
        (col("approx_median") >= element_at(col("band"), 1) &&
          col("approx_median") <= element_at(col("band"), 2)).as("median_ok"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_approx_stats" -> (approxStats _),
    "q_cube" -> (cubeAgg _),
    "q_grouping_sets" -> (groupingSetsAgg _),
    "q_stats_agg" -> (statsAgg _),
    "q_percentiles" -> (percentiles _),
    "q_conditional_agg" -> (conditionalAgg _),
    "q_window_shift" -> (windowShift _),
    "q_join_full_outer" -> (joinFullOuter _),
    "q_join_right_outer" -> (joinRightOuter _),
    "q_join_cross" -> (joinCross _),
    "q_scalar_subquery" -> (scalarSubquery _),
    "q_salted_agg" -> (saltedAgg _),
    "q_date_funcs" -> (dateFuncs _),
    "q_string_funcs" -> (stringFuncs _))

  val oracleSql: Map[String, String] = Map(
    // The sketch-audit differential: exact columns are cross-checked
    // cell-for-cell; the two verdict booleans are asserted literally
    // `true` — if a Spark sketch lands outside its error bound the
    // Spark side emits `false` and the hash comparison fails.
    "q_approx_stats" ->
      """SELECT l_returnflag,
        |       count(*) AS n_rows,
        |       count(DISTINCT l_orderkey) AS exact_orders,
        |       round(quantile_cont(l_extendedprice, 0.495), 4) AS median_lo,
        |       round(quantile_cont(l_extendedprice, 0.505), 4) AS median_hi,
        |       true AS distinct_ok,
        |       true AS median_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS g_id,
        |       count(*) AS n_rows,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_id, l_returnflag, l_linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS g_id,
        |       count(*) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_id, o_orderstatus, o_orderpriority""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentiles" ->
      """SELECT l_linestatus,
        |       round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |       round(quantile_cont(l_quantity, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_conditional_agg" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(count(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_big,
        |       CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END), 4) AS DOUBLE) AS sum_f_price,
        |       round(avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS avg_o_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_window_shift" ->
      """SELECT o_custkey, o_orderkey,
        |       round(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
        |       round(lead(o_totalprice, 1) OVER w, 4) AS next_price,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       round(percent_rank() OVER w, 4) AS pct_rank
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_join_full_outer" ->
      """WITH agg AS (
        |  SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 4) AS sum_price
        |  FROM orders GROUP BY o_custkey)
        |SELECT coalesce(c.c_custkey, a.o_custkey) AS custkey,
        |       c.c_mktsegment,
        |       coalesce(a.n_orders, 0) AS n_orders,
        |       coalesce(a.sum_price, 0.0) AS sum_price
        |FROM (SELECT c_custkey, c_mktsegment FROM customer) c
        |FULL OUTER JOIN agg a ON c.c_custkey = a.o_custkey
        |ORDER BY custkey""".stripMargin,
    "q_join_right_outer" ->
      """WITH big AS (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price
        |  FROM orders WHERE o_totalprice > 400000)
        |SELECT c.c_custkey, c.c_mktsegment, big.o_orderkey, big.price
        |FROM big RIGHT OUTER JOIN
        |     (SELECT c_custkey, c_mktsegment FROM customer) c
        |  ON big.o_custkey = c.c_custkey
        |ORDER BY c.c_custkey, big.o_orderkey""".stripMargin,
    "q_join_cross" ->
      """SELECT n_nationkey, n_name, r_regionkey, r_name
        |FROM (SELECT n_nationkey, n_name FROM nation)
        |CROSS JOIN (SELECT r_regionkey, r_name FROM region)
        |ORDER BY n_nationkey, r_regionkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT l_returnflag, count(*) AS n_above,
        |       round(sum(l_quantity), 4) AS sum_qty_above
        |FROM lineitem
        |WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) AS d,
        |       date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS INT) AS days_to_2025,
        |       CAST(dayofweek(o_orderdate) AS INT) AS dow_sun0,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(quarter(o_orderdate) AS INT) AS qtr,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m
        |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT c_custkey,
        |       upper(c_name) AS up,
        |       reverse(c_name) AS rev,
        |       CAST(levenshtein(c_name, 'Customer#000000001') AS INT) AS lev,
        |       lpad(c_name, 25, '*') AS padded,
        |       CAST(instr(c_name, '0') AS INT) AS first_zero,
        |       substr(c_name, 10, 9) AS id_part,
        |       translate(c_name, '#0', '_ ') AS translated
        |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin)
}
