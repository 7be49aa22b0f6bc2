package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Relational

import SharedSpark._

/** Relational operators over the TPC-H-style tables and the event log:
  * scans, filters, joins, aggregates, windows, set operations, the SQL
  * entry point, file formats and physical table layouts. */
object RelationalQueries extends Module("relational") {

  private def qScan(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").orderBy(col("l_orderkey"), col("l_linenumber"))
  query("q_scan", qScan,
    "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber")

  private def qProject(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  query("q_project", qProject,
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
      |       l_extendedprice * (1.0 - l_discount) AS net_price
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)

  private def qFilterNull(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_returnflag").isNotNull && col("l_quantity").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  query("q_filter_null", qFilterNull,
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
      |FROM lineitem
      |WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  private def qFilterRange(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_quantity").between(10, 30) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  query("q_filter_range", qFilterRange,
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 30 AND l_shipdate < TIMESTAMP '1998-01-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  private def qStringNorm(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_partkey"), Relational.normString(col("p_name")).as("name_norm"))
      .orderBy(col("p_partkey"))
  query("q_string_norm", qStringNorm,
    "SELECT p_partkey, trim(upper(p_name)) AS name_norm FROM part ORDER BY p_partkey")

  private def qCaseIlike(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_partkey"), col("p_type"),
        Relational.categorize(col("p_type"),
          Seq("economy" -> "Value", "standard" -> "Mainstream", "promo" -> "Promoted"))
          .as("type_category"))
      .orderBy(col("p_partkey"))
  query("q_case_ilike", qCaseIlike,
    """SELECT p_partkey, p_type,
      |       CASE WHEN lower(p_type) LIKE '%economy%' THEN 'Value'
      |            WHEN lower(p_type) LIKE '%standard%' THEN 'Mainstream'
      |            WHEN lower(p_type) LIKE '%promo%' THEN 'Promoted'
      |            ELSE trim(p_type) END AS type_category
      |FROM part ORDER BY p_partkey""".stripMargin)

  private def qCaseBands(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(col("p_partkey"), col("p_size"),
        Relational.bands(col("p_size"),
          Seq((Int.MinValue, 4, "Tiny"), (5, 14, "Small"), (15, 29, "Medium"), (30, 49, "Large")),
          "Huge").as("size_band"))
      .orderBy(col("p_partkey"))
  query("q_case_bands", qCaseBands,
    """SELECT p_partkey, p_size,
      |       CASE WHEN p_size <= 4 THEN 'Tiny'
      |            WHEN p_size BETWEEN 5 AND 14 THEN 'Small'
      |            WHEN p_size BETWEEN 15 AND 29 THEN 'Medium'
      |            WHEN p_size BETWEEN 30 AND 49 THEN 'Large'
      |            WHEN p_size IS NOT NULL THEN 'Huge' END AS size_band
      |FROM part ORDER BY p_partkey""".stripMargin)

  private def qDateTrunc(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
      .orderBy(col("o_orderkey"))
  query("q_date_trunc", qDateTrunc,
    "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders ORDER BY o_orderkey")

  /** E5/E6 — date parts; Spark dayofweek is 1=Sunday..7, the reference's
    * Postgres DATE_PART('dow') is 0=Sunday..6 → subtract 1. */
  private def qDatePart(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        hour(col("o_orderdate")).as("order_hour"),
        (dayofweek(col("o_orderdate")) - 1).as("order_dow"))
      .orderBy(col("o_orderkey"))
  query("q_date_part", qDatePart,
    """SELECT o_orderkey,
      |       CAST(date_part('year', o_orderdate) AS INTEGER) AS order_year,
      |       CAST(date_part('month', o_orderdate) AS INTEGER) AS order_month,
      |       CAST(date_part('hour', o_orderdate) AS INTEGER) AS order_hour,
      |       CAST(date_part('dow', o_orderdate) AS INTEGER) AS order_dow
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  private def qSurrogateKey(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        Relational.surrogateKey(col("l_orderkey"), col("l_linenumber")).as("row_key"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  query("q_surrogate_key", qSurrogateKey,
    """SELECT l_orderkey, l_linenumber,
      |       md5(concat_ws('-',
      |           COALESCE(CAST(l_orderkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
      |           COALESCE(CAST(l_linenumber AS VARCHAR), '_dbt_utils_surrogate_key_null_'))) AS row_key
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)

  private def qDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  query("q_distinct", qDistinct,
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus")

  private def qGroupbyMinMaxCount(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  query("q_groupby_minmaxcount", qGroupbyMinMaxCount,
    """SELECT l_returnflag, l_linestatus,
      |       count(*) AS n_rows, sum(l_quantity) AS sum_qty,
      |       min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  private def qCountDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
      .orderBy(col("l_returnflag"))
  query("q_count_distinct", qCountDistinct,
    """SELECT l_returnflag,
      |       count(DISTINCT l_suppkey) AS n_supp,
      |       count(DISTINCT l_partkey) AS n_part
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Ordered-set aggregates: EXACT continuous percentiles (both engines
    * implement the same (n−1)·p rank interpolation; quantities are
    * integral so the arithmetic is bit-stable). */
  private def qPercentiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.95)").as("p95"))
      .orderBy(col("l_returnflag"))
  query("q_percentiles", qPercentiles,
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.95) AS p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  private def qHaving(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_count"))
      .filter(col("order_count") > 1)
      .orderBy(col("o_custkey"))
  query("q_having", qHaving,
    """SELECT o_custkey, count(*) AS order_count
      |FROM orders GROUP BY o_custkey HAVING count(*) > 1
      |ORDER BY o_custkey""".stripMargin)

  private def qRollup(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  query("q_rollup", qRollup,
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)

  /** PIVOT — long→wide conditional aggregation with an explicit value
    * list (explicit values keep the plan single-pass; Spark's value
    * discovery would add a collect). */
  private def qPivot(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy(col("l_returnflag"))
  query("q_pivot", qPivot,
    """SELECT l_returnflag,
      |       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
      |       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Approximate distinct (HyperLogLog++) — the cardinality sketch a
    * 100 TB pipeline uses instead of exact countDistinct. Raw sketch
    * values are engine-specific, so the VERIFIED output is the
    * engine-independent contract instead: the exact count plus a BOOLEAN
    * that the sketch landed within 5% relative error of it (Spark's
    * sketch on the Spark side, DuckDB's on the oracle side — both inside
    * tolerance ⇒ identical rows, hash-matchable). */
  private def qApproxCountDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
        countDistinct(col("l_partkey")).as("n_part_exact"))
      .select(col("l_returnflag"), col("n_part_exact"),
        (abs(col("approx") - col("n_part_exact"))
          <= lit(0.05) * col("n_part_exact")).as("within_tolerance"))
      .orderBy(col("l_returnflag"))
  // HLL++ sketch values are engine-specific, so the verified contract is
  // "each engine's OWN sketch is within 5% of the exact count" — both
  // engines emit (flag, exact, TRUE) rows, which hash-match.
  query("q_approx_count_distinct", qApproxCountDistinct,
    """SELECT l_returnflag,
      |       count(DISTINCT l_partkey) AS n_part_exact,
      |       abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
      |         <= 0.05 * count(DISTINCT l_partkey) AS within_tolerance
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Re-aggregatable cardinality sketches (Apache DataSketches HLL via
    * Spark's hll_sketch_agg / hll_union_agg) — the 100 TB distinct-count
    * pattern q_approx_count_distinct's one-shot sketch can't express: per-shard sketch
    * PARTIALS are materialized (here: customers split by c_custkey
    * parity), then UNIONED and estimated in a later, cheaper pass —
    * exactly how a pre-aggregated sketch table rolls up across days or
    * partitions without touching raw data again. Verified EXACTLY
    * against DuckDB's count(DISTINCT): per-nation segment cardinalities
    * (≤ 5) sit deep inside the sketch's coupon-list regime, where the
    * DataSketches estimator is exact by construction — the contract is
    * documented as cardinality ≪ 2^lgK; at real scale the same plan
    * returns ±1.6% estimates. */
  private def qHllDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .groupBy(col("c_nationkey"), (col("c_custkey") % 2).as("shard"))
      .agg(expr("hll_sketch_agg(c_mktsegment)").as("sk"))
      .groupBy(col("c_nationkey"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_segments"))
      .orderBy(col("c_nationkey"))
  // Sketch estimates verified EXACTLY: per-nation segment cardinality
  // (≤ 5) is deep inside the HLL coupon-list regime where the
  // DataSketches estimator is exact — so the unioned-sketch estimate
  // equals DuckDB's exact DISTINCT count (contract documented at the
  // query; at real cardinalities this row becomes an estimate).
  query("q_hll_distinct", qHllDistinct,
    """SELECT c_nationkey,
      |       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)

  private def qIntersect(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))
  query("q_intersect", qIntersect,
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin)

  private def qExcept(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))
  query("q_except", qExcept,
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin)

  private def qCube(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(Relational.cents(col("o_totalprice"))).as("total_cents"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  query("q_cube", qCube,
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)

  private def qUnion(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
      .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
    val sup = t(s, d, "supplier")
      .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"), lit("supplier").as("kind"))
    c.unionByName(sup).orderBy(col("kind"), col("name"))
  }
  query("q_union", qUnion,
    """SELECT name, acctbal, kind FROM (
      |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
      |  UNION ALL
      |  SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier)
      |ORDER BY kind, name""".stripMargin)

  /** §2.3 — the implied star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region, dims broadcast; revenue summed as exact integer cents. */
  private def qJoinFactDim(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(Relational.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
      .orderBy(col("region_name"), col("nation_name"))
  query("q_join_fact_dim", qJoinFactDim,
    """SELECT r_name AS region_name, n_name AS nation_name,
      |       count(*) AS n_lines,
      |       CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY region_name, nation_name""".stripMargin)

  /** LEFT SEMI join (EXISTS shape): orders having at least one
    * high-quantity line. The semi join streams the fact side and never
    * duplicates it per matching line — the planner broadcasts the
    * (filtered, projected) existence set. */
  private def qSemiJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "lineitem").filter(col("l_quantity") > 45).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy(col("o_orderkey"))
  query("q_semi_join", qSemiJoin,
    """SELECT o_orderkey, o_custkey FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |ORDER BY o_orderkey""".stripMargin)

  /** FULL OUTER join with keys exclusive to BOTH sides (the parity
    * filters guarantee left-only and right-only rows exist, so both
    * null-extension paths are actually exercised): customers without
    * orders carry n_orders = 0, order keys without a customer row carry
    * a NULL name. */
  private def qOuterJoin(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"))
    val o = t(s, d, "orders").filter(col("o_custkey") % 3 === 0)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .orderBy(col("custkey"))
  }
  query("q_outer_join", qOuterJoin,
    """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      |       c.c_name AS c_name,
      |       coalesce(o.cnt, 0) AS n_orders
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0) c
      |FULL OUTER JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
      |                 WHERE o_custkey % 3 = 0 GROUP BY 1) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY custkey""".stripMargin)

  /** Salted join under the correctness gate: the skew remedy must be
    * RESULT-TRANSPARENT — the oracle is the plain join, so any salt
    * routing error (missed bucket, duplicated replica) shows up as a
    * hash mismatch. orders is the "skewed" big side, nation-sized
    * customer slice the replicated small side. */
  private def qSaltedJoin(s: SparkSession, d: String): DataFrame =
    Relational.saltedJoin(
      t(s, d, "orders").select(col("o_custkey"), col("o_totalprice")),
      t(s, d, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
      Seq("o_custkey"), buckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(Relational.cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy(col("c_mktsegment"))
  // the salted join must be result-transparent: oracle = the plain join
  query("q_salted_join", qSaltedJoin,
    """SELECT c_mktsegment,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)

  /** RANGE-frame window: running revenue per customer over a DATE range
    * frame (all earlier-or-same-date orders, ties summed TOGETHER —
    * the semantic difference from a ROWS frame that makes this a
    * distinct operator). */
  private def qWindowRange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("date"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(Relational.cents(col("o_totalprice"))).over(w).as("running_cents"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }
  // DuckDB sum(BIGINT) yields HUGEINT (→ float64 in the driver's frame,
  // "123.0" vs "123" hash mismatch) — CAST the windowed sum back to BIGINT.
  query("q_window_range", qWindowRange,
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |         OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
      |               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS running_cents
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)

  private def qTopK(s: SparkSession, d: String): DataFrame =
    Relational.topK(
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      100, col("o_totalprice").desc, col("o_orderkey").asc)
  query("q_topk", qTopK,
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)

  private def qWindowRank(s: SparkSession, d: String): DataFrame =
    Relational.latestPerKey(
      t(s, d, "orders"),
      Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  query("q_window_rank", qWindowRank,
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)

  /** Top-3 orders per customer through the BOUNDED map-side top-k
    * aggregate (graft.functions.TopKByScore): partial aggregation trims
    * each map task to ≤ k rows per key before the shuffle — the exchange
    * moves O(keys·k) rows where the window row_number formulation
    * shuffles the entire input. */
  private def qTopkPerKey(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKByScore(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), explode(col("top")).as("p"))
      .select(col("o_custkey"), col("p.id").as("o_orderkey"), col("p.score").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  query("q_topk_per_key", qTopkPerKey,
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)

  private def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(Relational.cents(col("o_totalprice"))).over(w).as("running_spend_cents"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }
  query("q_window_running", qWindowRunning,
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS running_spend_cents
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)

  /** lag/lead window family: days since the customer's previous order
    * (NULL for the first). */
  private def qWindowLag(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }
  query("q_window_lag", qWindowLag,
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(date_diff('day',
      |                      CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |                                                     ORDER BY o_orderdate, o_orderkey) AS DATE),
      |                      CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
      |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)

  /** Time-series rollup: monthly revenue (date_trunc grain). */
  // The year-partitioned copy of orders (IO.writePartitioned), rebuilt
  // whenever the orders files change (SharedSpark.derivedDir). This is
  // the layout a daily-rebuilt fact table has at scale; q_partition_prune
  // reads it back WITH a partition predicate so the scan's partition
  // pruning — the single most scale-critical I/O behavior — sits under
  // the correctness gate rather than only under a plan spec.
  private[graft] def partitionedOrdersDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "orders_by_year", "orders") { dir =>
      graft.sources.IO.writePartitioned(
        t(s, d, "orders").withColumn("o_year", year(col("o_orderdate"))),
        Seq("o_year"), dir)
    }

  // The Z-ordered lineitem layout: rows clustered by the Morton
  // interleave of two derived dimensions so either-dimension filters
  // row-group-skip (IOSpec measures the skip; this registry query proves
  // result transparency under the gate).
  private[graft] def zorderedLineitemDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "lineitem_zorder", "lineitem") { dir =>
      graft.sources.IO.writeZOrdered(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(1024L)).cast("int").as("zx"),
          pmod(col("l_suppkey"), lit(1024L)).cast("int").as("zy"),
          col("l_quantity")),
        "zx", "zy", bits = 10, nFiles = 16, dir)
    }

  // The CSV landing copy of orders: the text-source read must round-trip
  // schema-exactly against the parquet base table.
  private[graft] def csvOrdersDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "orders_csv", "orders") { dir =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"))
        .write.option("header", "true").csv(dir)
    }

  /** CSV source round-trip (schema-pinned read of the text landing copy;
    * doubles survive because Java's shortest-repr formatting parses back
    * bit-exact) — the oracle reads the parquet base table, so any
    * serialization drift breaks the hash. */
  private def qCsvScan(s: SparkSession, d: String): DataFrame =
    s.read
      .schema("o_orderkey LONG, o_custkey LONG, o_orderpriority STRING, o_totalprice DOUBLE, o_date DATE")
      .option("header", "true").csv(csvOrdersDir(s, d))
      .orderBy(col("o_orderkey"))
  // CSV round-trip: the oracle reads the parquet BASE table — any
  // text-serialization drift (doubles, dates) breaks the hash
  query("q_csv_scan", qCsvScan,
    """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
      |       CAST(o_orderdate AS DATE) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  // The fragmented-then-compacted lineitem copy: 32 shard files, written
  // in the same stage, rewritten by IO.compact into size-targeted files
  // under `compact/`; the shards are deleted before the stage publishes.
  private[graft] def compactedLineitemDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "lineitem_compact", "lineitem") { dir =>
      val frag = s"$dir/frag"
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartition(32)
        .write.parquet(frag)
      graft.sources.IO.compact(s, frag, s"$dir/compact", targetBytes = 64L << 20)
      val p = new org.apache.hadoop.fs.Path(frag)
      graft.Fs.of(s, p).delete(p, true)
    } + "/compact"

  /** Read of the compacted layout against the base-table oracle (result
    * transparency: compaction must preserve every row exactly). */
  private def qCompactScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(compactedLineitemDir(s, d))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  // compaction preserves rows exactly (base-table transparency)
  query("q_compact_scan", qCompactScan,
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** Correlated scalar subqueries through the SQL entry point — Catalyst
    * rewrites each into a left-outer aggregate join
    * (RewriteCorrelatedScalarSubquery); the 1.5×-average predicate is
    * exact integer arithmetic (2·cents·count > 3·sum_cents), so both
    * engines agree bit-for-bit. The SAME SQL text is the oracle. */
  private def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("orders")
    s.sql(scalarSubquery.oracleSql)
  }
  // Correlated scalar subqueries — portable SQL, run VERBATIM by both
  // engines (qScalarSubquery registers the view and executes this string):
  // 1.5x-average predicate as exact integers so no float drift exists
  private val scalarSubquery = query("q_scalar_subquery", qScalarSubquery,
    """SELECT o_orderkey, cents
      |FROM (SELECT o_orderkey, o_custkey,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders) o
      |WHERE 2 * cents * (SELECT count(*) FROM orders o2
      |                   WHERE o2.o_custkey = o.o_custkey)
      |    > 3 * (SELECT CAST(sum(CAST(round(o3.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin)

  /** Recursive CTE through the SQL entry point: bounded-depth
    * multi-source reachability (min hop distance ≤ 5 from every node)
    * over the 20-node synthetic domain graph — the same SQL text runs
    * verbatim on both engines (Spark 4's WITH RECURSIVE executes as a
    * driver-coordinated loop of per-level jobs under UnionLoopExec;
    * DuckDB iterates natively). The recursion fence is structural:
    * depth < 5 bounds the loop regardless of cycles, and the edge table
    * is 40-row bounded (two arithmetic generators over 20 residues), so
    * every level is model-sized. At 100 TB the corpus-sized part is the
    * DISTINCT edge/node derivation — one map-side aggregate each —
    * and the loop never touches the corpus again. */
  private def qRecursiveCte(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents").createOrReplaceTempView("documents")
    s.sql(recursiveCte.oracleSql)
  }
  // SQL-surface parity: the SAME text runs on both engines. Bounded
  // recursion (depth < 5 fences cycles), 40-row edge table.
  private val recursiveCte = query("q_recursive_cte", qRecursiveCte,
    """WITH RECURSIVE r(start, v, d) AS (
      |  SELECT n, n, 0 FROM (SELECT DISTINCT doc_id % 20 AS n FROM documents)
      |  UNION ALL
      |  SELECT r.start, e.dst, r.d + 1
      |  FROM r JOIN (SELECT DISTINCT doc_id % 20 AS src,
      |                      (7 * doc_id + 3) % 20 AS dst FROM documents
      |               UNION
      |               SELECT DISTINCT doc_id % 20, (3 * doc_id + 11) % 20
      |               FROM documents) e
      |    ON e.src = r.v
      |  WHERE r.d < 5)
      |SELECT start, v, CAST(min(d) AS INTEGER) AS hops
      |FROM r GROUP BY start, v ORDER BY start, v""".stripMargin)

  /** Correlated LATERAL subquery with per-group LIMIT through the SQL
    * entry point: top-2 orders per market segment — Catalyst
    * decorrelates the LIMIT-per-group into a per-segment row_number
    * window over the orders⋈customer join filtered to rn ≤ 2
    * (plan-read at the gate; no WindowGroupLimit fires on the
    * decorrelated form, so the window ranks every order per segment —
    * at 100 TB the hand-optimized shape is the q_topk_per_key bounded
    * top-k-per-key aggregate, and this row is the SQL-surface parity
    * for it, not the scale path). The SAME text is the oracle; exact
    * integer cents; ties inside the LIMIT break on orderkey so the
    * selected SET is deterministic. */
  private def qLateralTopn(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("orders")
    t(s, d, "customer").createOrReplaceTempView("customer")
    s.sql(lateralTopn.oracleSql)
  }
  // SQL-surface parity: correlated LATERAL with per-group LIMIT, the
  // SAME text on both engines; ties inside the LIMIT break on
  // orderkey so the selected set is deterministic.
  private val lateralTopn = query("q_lateral_topn", qLateralTopn,
    """SELECT s.c_mktsegment, l.o_orderkey, l.price_cents
      |FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
      |LATERAL (SELECT o.o_orderkey,
      |                CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
      |         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |         WHERE c.c_mktsegment = s.c_mktsegment
      |         ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) l
      |ORDER BY s.c_mktsegment, l.price_cents DESC""".stripMargin)

  /** URL decomposition — the crawl-pipeline step before any per-domain
    * policy (dedup scope, robots groups, domain mixing): host, registered
    * domain, TLD, path and a query param extracted with the engine's
    * parse_url over closed-form synthesized URLs, so the oracle can
    * rebuild every component from the same arithmetic — a parse_url
    * regression (or a URL component leaking into the wrong field)
    * hash-mismatches. Scan-linear codegen, no shuffle before the
    * per-TLD rollup, which is a broadcastable |TLD|-row aggregate. */
  private def qUrlParse(s: SparkSession, d: String): DataFrame = {
    def m(n: Int): org.apache.spark.sql.Column = pmod(col("doc_id"), lit(n.toLong))
    val subs = array(Seq("www", "api", "cdn", "blog").map(lit(_)): _*)
    val doms = array(Seq("example", "sample", "data", "corp", "site").map(lit(_)): _*)
    val tlds = array(Seq("com", "org", "net").map(lit(_)): _*)
    val url = concat(lit("https://"),
      element_at(subs, m(4).cast("int") + 1), lit("."),
      element_at(doms, m(5).cast("int") + 1), lit("."),
      element_at(tlds, m(3).cast("int") + 1),
      lit("/p/"), col("doc_id"),
      lit("?page="), m(7), lit("&ref=r"), m(11))
    t(s, d, "documents").select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        substring_index(parse_url(col("url"), lit("HOST")), ".", -2).as("reg_domain"),
        substring_index(parse_url(col("url"), lit("HOST")), ".", -1).as("tld"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("page")).cast("int").as("page"))
      .orderBy(col("doc_id"))
  }
  query("q_url_parse", qUrlParse,
    """WITH u AS (
      |  SELECT doc_id,
      |         (['www','api','cdn','blog'])[CAST(doc_id % 4 AS INTEGER) + 1] AS sub,
      |         (['example','sample','data','corp','site'])[CAST(doc_id % 5 AS INTEGER) + 1] AS dom,
      |         (['com','org','net'])[CAST(doc_id % 3 AS INTEGER) + 1] AS tld
      |  FROM documents)
      |SELECT doc_id,
      |       sub || '.' || dom || '.' || tld AS host,
      |       dom || '.' || tld AS reg_domain,
      |       tld,
      |       '/p/' || CAST(doc_id AS VARCHAR) AS path,
      |       CAST(doc_id % 7 AS INTEGER) AS page
      |FROM u ORDER BY doc_id""".stripMargin)

  /** Robots-policy filtering — the admission decision every crawl
    * pipeline makes per URL: match the URL's path against its domain's
    * robots rule group and apply the LONGEST-matching-prefix rule
    * (most-specific-wins, the documented robots.txt evaluation order).
    * The rule table is a per-domain dim (|domains|·|rules| rows) built
    * engine-side from the corpus's own registered domains, so the join
    * is a BROADCAST prefix-predicate join (equi on domain +
    * `startswith` residual) — the URL scan never shuffles, and the
    * winning rule per URL is a deterministic arg-max over an ordered
    * (prefix-length, rule, allow) struct: two distinct prefixes of the
    * same path and length must be equal, so the length key alone is
    * already unique per group. The oracle rebuilds URLs, rules and the
    * longest-prefix winner from the same closed-form arithmetic. */
  private def qRobotsFilter(s: SparkSession, d: String): DataFrame = {
    def m(n: Int): org.apache.spark.sql.Column = pmod(col("doc_id"), lit(n.toLong))
    val doms = array(Seq("example", "sample", "data", "corp", "site").map(lit(_)): _*)
    val tlds = array(Seq("com", "org", "net").map(lit(_)): _*)
    val urls = t(s, d, "documents").select(col("doc_id"),
      concat(element_at(doms, m(5).cast("int") + 1), lit("."),
        element_at(tlds, m(3).cast("int") + 1)).as("reg_domain"),
      concat(when(m(3) === 1, lit("/img/")).otherwise(lit("/p/")),
        expr("doc_id div 3")).as("path"))
    // per-domain rule group: default-allow root, blocked image dir, a
    // domain-keyed policy on /p/ (closed-form: first-letter parity), and
    // a specific /p/3 override that outranks /p/ by length
    val rules = urls.select(col("reg_domain")).distinct()
      .select(col("reg_domain"), explode(array(
        struct(lit("/").as("rule_path"), lit(true).as("allow")),
        struct(lit("/img/").as("rule_path"), lit(false).as("allow")),
        struct(lit("/p/").as("rule_path"),
          (ascii(substring(col("reg_domain"), 1, 1)) % 2 === 0).as("allow")),
        struct(lit("/p/3").as("rule_path"), lit(true).as("allow")))).as("r"))
      .select(col("reg_domain"), col("r.rule_path"), col("r.allow"))
    urls.as("u").join(broadcast(rules.as("r")),
        col("u.reg_domain") === col("r.reg_domain") &&
          col("u.path").startsWith(col("r.rule_path")))
      .groupBy(col("doc_id"), col("u.reg_domain").as("reg_domain"), col("u.path").as("path"))
      .agg(max(struct(length(col("r.rule_path")).as("l"),
        col("r.rule_path").as("p"), col("r.allow").as("a"))).as("w"))
      .select(col("doc_id"), col("reg_domain"), col("path"),
        col("w.p").as("rule_path"), col("w.a").as("allowed"))
      .orderBy(col("doc_id"))
  }
  // Robots longest-prefix policy: rules rebuilt closed-form per
  // domain; the winner per URL is arg_max over the (unique) matched
  // prefix length — most-specific-wins, the robots.txt evaluation
  // order.
  query("q_robots_filter", qRobotsFilter,
    """WITH u AS (
      |  SELECT doc_id,
      |         (['example','sample','data','corp','site'])[CAST(doc_id % 5 AS INTEGER) + 1] || '.' ||
      |         (['com','org','net'])[CAST(doc_id % 3 AS INTEGER) + 1] AS reg_domain,
      |         (CASE WHEN doc_id % 3 = 1 THEN '/img/' ELSE '/p/' END)
      |           || CAST(doc_id // 3 AS VARCHAR) AS path
      |  FROM documents),
      |d AS (SELECT DISTINCT reg_domain FROM u),
      |r AS (
      |  SELECT reg_domain, '/' AS rule_path, TRUE AS allow FROM d
      |  UNION ALL SELECT reg_domain, '/img/', FALSE FROM d
      |  UNION ALL SELECT reg_domain, '/p/', ord(substr(reg_domain, 1, 1)) % 2 = 0 FROM d
      |  UNION ALL SELECT reg_domain, '/p/3', TRUE FROM d),
      |mt AS (
      |  SELECT u.doc_id, u.reg_domain, u.path, r.rule_path, r.allow,
      |         length(r.rule_path) AS rlen
      |  FROM u JOIN r ON r.reg_domain = u.reg_domain
      |              AND starts_with(u.path, r.rule_path))
      |SELECT doc_id, reg_domain, path,
      |       arg_max(rule_path, rlen) AS rule_path,
      |       arg_max(allow, rlen) AS allowed
      |FROM mt GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin)

  /** URL canonicalization + dedup — the crawl-frontier normalization
    * every web pipeline runs before per-URL dedup (tracking params,
    * host case, trailing slashes and fragments all alias the same
    * resource): three synthesized variants per base URL (mixed-case
    * host + utm param; trailing slash + fragment; clean) are REALLY
    * parsed back with the engine's parse_url, the host lowercased, the
    * fragment/tracking params dropped by whitelist reassembly, the
    * trailing slash trimmed — then grouped by the canonical form. The
    * oracle recomputes the expected canonical URL and group size from
    * the same doc_id arithmetic, so any parse/normalize slip
    * hash-mismatches. Scan-linear codegen into ONE group-by exchange on
    * the canonical key; group cardinality = |base URLs|, never skewed
    * beyond the 3-variant fan-in. */
  private def qUrlCanonical(s: SparkSession, d: String): DataFrame = {
    val b = expr("doc_id div 3")
    def mb(n: Int): org.apache.spark.sql.Column = pmod(b, lit(n.toLong))
    val m3 = pmod(col("doc_id"), lit(3L))
    val subs = array(Seq("www", "api", "cdn", "blog").map(lit(_)): _*)
    val doms = array(Seq("example", "sample", "data", "corp", "site").map(lit(_)): _*)
    val tlds = array(Seq("com", "org", "net").map(lit(_)): _*)
    val host = concat(
      element_at(subs, mb(4).cast("int") + 1), lit("."),
      element_at(doms, mb(5).cast("int") + 1), lit("."),
      element_at(tlds, mb(3).cast("int") + 1))
    val url = concat(lit("https://"),
      when(m3 === 1, upper(host)).otherwise(host),
      lit("/p/"), b,
      when(m3 === 2, lit("/")).otherwise(lit("")),
      lit("?page="), mb(7),
      when(m3 === 1, lit("&utm_source=feed")).otherwise(lit("")),
      when(m3 === 2, lit("#sec")).otherwise(lit("")))
    t(s, d, "documents").select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), concat(lit("https://"),
        lower(parse_url(col("url"), lit("HOST"))),
        rtrim(parse_url(col("url"), lit("PATH")), "/"),
        lit("?page="), parse_url(col("url"), lit("QUERY"), lit("page")))
        .as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))
      .orderBy(col("canonical_url"))
  }
  // Canonical-URL dedup: the oracle recomputes the expected canonical
  // form and group size straight from the doc_id arithmetic that
  // synthesized the variants — Spark must get there by actually
  // parsing and normalizing the messy URL.
  query("q_url_canonical", qUrlCanonical,
    """WITH u AS (
      |  SELECT doc_id, doc_id // 3 AS b FROM documents)
      |SELECT 'https://' ||
      |         (['www','api','cdn','blog'])[CAST(b % 4 AS INTEGER) + 1] || '.' ||
      |         (['example','sample','data','corp','site'])[CAST(b % 5 AS INTEGER) + 1] || '.' ||
      |         (['com','org','net'])[CAST(b % 3 AS INTEGER) + 1] ||
      |         '/p/' || CAST(b AS VARCHAR) ||
      |         '?page=' || CAST(b % 7 AS VARCHAR) AS canonical_url,
      |       min(doc_id) AS keep_id,
      |       count(*) AS n_variants
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Ingest-volume anomaly detection — the monitoring query a
    * continuous-ingest deployment runs over its own landing table: daily
    * event counts z-scored against the trailing 7 full days. The daily
    * aggregate is ONE map-side-partial exchange whose output is
    * calendar-bounded (days, not events), so the unpartitioned ordered
    * window over it is safe at ANY corpus scale; all window sums are
    * exact integers and the mean/variance/z doubles are computed with
    * the identical expression tree on both engines (sum/div/sqrt are
    * correctly-rounded IEEE ops ⇒ bit-equal hashes). Variance uses the
    * integer power sums (s7, ss7) cast to double BEFORE the arithmetic —
    * n_day can reach 1e9 at web scale and s7² would overflow BIGINT. */
  private def qAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .select(expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    val st = daily.select(col("day"), col("n"),
      sum(col("n")).over(w).as("s7"),
      sum(col("n") * col("n")).over(w).as("ss7"),
      count(col("n")).over(w).as("c7"))
      .filter(col("c7") === 7)
    val mean = col("s7").cast("double") / col("c7")
    val variance = (col("ss7").cast("double") -
      col("s7").cast("double") * col("s7").cast("double") / col("c7")) / (col("c7") - 1)
    st.select(col("day"), col("n"), mean.as("mean7"),
        when(variance > 0,
          (col("n").cast("double") - mean) / sqrt(variance)).as("z"))
      .withColumn("is_anomaly", col("z").isNotNull && abs(col("z")) >= 2.0)
      .orderBy(col("day"))
  }
  // Rolling z-score over exact-integer power sums; the double
  // arithmetic repeats Spark's expression tree verbatim (sum/div/sqrt
  // are correctly-rounded IEEE ⇒ bit-equal).
  query("q_anomaly_zscore", qAnomalyZscore,
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
      |  FROM events GROUP BY 1),
      |st AS (
      |  SELECT day, n,
      |         sum(n) OVER w AS s7,
      |         sum(n * n) OVER w AS ss7,
      |         count(n) OVER w AS c7
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT day, n,
      |         CAST(s7 AS DOUBLE) / c7 AS mean7,
      |         CASE WHEN (CAST(ss7 AS DOUBLE)
      |                    - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / c7) / (c7 - 1) > 0
      |              THEN (CAST(n AS DOUBLE) - CAST(s7 AS DOUBLE) / c7)
      |                   / sqrt((CAST(ss7 AS DOUBLE)
      |                           - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE) / c7) / (c7 - 1))
      |         END AS z
      |  FROM st WHERE c7 = 7)
      |SELECT day, n, mean7, z,
      |       COALESCE(abs(z) >= 2.0, FALSE) AS is_anomaly
      |FROM z ORDER BY day""".stripMargin)

  /** MAD-based robust ingest anomaly detection: daily event
    * counts flagged by MEDIAN ± k·MAD instead of mean ± k·σ — the
    * robust twin of q_anomaly_zscore (one bad day inflates σ and hides
    * itself; the median absolute deviation is breakdown-point-0.5,
    * Hampel's rule). INTEGER-EXACT end to end: lower median = the
    * element at rank (D+1) div 2 ordering (value ASC, day ASC), MAD =
    * lower median of |n − med|, flag = dev > 3·mad. The day table is
    * TIME-BOUNDED (one row per day regardless of corpus size), so its
    * single-partition rank windows are bounded like the Par-width
    * offset tables — the corpus-sized work is only the day aggregate. */
  private def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .select(expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    def lowerMedian(df: DataFrame, vCol: String): DataFrame = {
      val r = df.withColumn("__r",
        row_number().over(Window.orderBy(col(vCol), col("day"))))
      val cnt = df.agg(count(lit(1)).as("__d"))
      r.crossJoin(broadcast(cnt))
        .filter(col("__r") === expr("(__d + 1) div 2"))
        .select(col(vCol).as("m"))
    }
    val med = lowerMedian(daily, "n")
    val dev = daily.crossJoin(broadcast(med))
      .select(col("day"), col("n"), abs(col("n") - col("m")).as("dev"))
    val mad = lowerMedian(dev.select(col("day"), col("dev")), "dev")
      .select(col("m").as("mad"))
    dev.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("day"), col("n"), col("m").as("med"), col("dev"),
        col("mad"), (col("dev") > lit(3L) * col("mad")).as("is_outlier"))
      .orderBy(col("day"))
  }
  // MAD robust outliers: lower median = element at rank (D+1)//2
  // ordering (value, day); MAD = lower median of |n − med|; all
  // integer.
  query("q_mad_outliers", qMadOutliers,
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM daily),
      |med AS (
      |  SELECT n AS m FROM (
      |    SELECT n, row_number() OVER (ORDER BY n, day) AS r FROM daily), dd
      |  WHERE r = (d + 1) // 2),
      |dev AS (SELECT day, n, abs(n - m) AS dev FROM daily, med),
      |mad AS (
      |  SELECT dev AS mad FROM (
      |    SELECT dev, day, row_number() OVER (ORDER BY dev, day) AS r FROM dev), dd
      |  WHERE r = (d + 1) // 2)
      |SELECT day, n, m AS med, dev, mad, dev > 3 * mad AS is_outlier
      |FROM dev, med, mad ORDER BY day""".stripMargin)

  /** Vocabulary coverage curve: the cumulative corpus-token
    * share of the top-20 words in exact permille — the how-small-can-
    * the-vocab-be readout a tokenizer budget decision starts from
    * (Zipfian corpora saturate fast; a flat curve says the corpus is
    * template-free). ONE word-keyed map-side count off the explode,
    * top-20 as TakeOrderedAndProject, then a 20-row running window +
    * broadcast 1-row total — everything after the count is
    * model-sized. */
  private def qCoverageCurve(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "documents")
      .select(explode(filter(split(col("text"), " "), w => length(w) > 0))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("nt"))
    val top = counts.orderBy(col("n").desc, col("word")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("word"))))
    top.withColumn("cum_n", sum(col("n")).over(
        Window.orderBy(col("n").desc, col("word"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("word"), col("n"),
        expr("(1000 * cum_n) div nt").as("cum_coverage_permille"))
      .orderBy(col("rank"))
  }
  // Vocabulary coverage curve: top-20 words, cumulative token share
  // in exact permille.
  query("q_coverage_curve", qCoverageCurve,
    """WITH w AS (
      |  SELECT unnest(list_filter(string_split(text, ' '),
      |                            x -> length(x) > 0)) AS word
      |  FROM documents),
      |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
      |top AS (SELECT word, n,
      |               CAST(row_number() OVER (ORDER BY n DESC, word)
      |                    AS INTEGER) AS "rank"
      |        FROM c ORDER BY n DESC, word LIMIT 20)
      |SELECT "rank", word, n,
      |       CAST((1000 * sum(n) OVER (ORDER BY "rank"
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // nt
      |            AS BIGINT) AS cum_coverage_permille
      |FROM top, tot ORDER BY "rank"""".stripMargin)

  /** Lexical diversity per source: type-token ratio and hapax
    * share in exact permille — the vocabulary-richness screen that
    * separates template/boilerplate sources (low TTR, few hapax
    * legomena) from organic text before corpus mixing weights them.
    * Two-level aggregate: ONE (source, word)-keyed map-side count off
    * the token explode, then ONE source-keyed roll-up — the shuffles
    * carry distinct (source, word) pairs and #sources rows, never raw
    * tokens. Integer-exact; NULL (not div-0) on degenerate groups. */
  private def qLexicalDiversity(s: SparkSession, d: String): DataFrame = {
    val words = t(s, d, "documents")
      .select(col("source"),
        explode(filter(split(col("text"), " "), w => length(w) > 0)).as("word"))
    words.groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        when(col("n_tokens") > 0, expr("(1000 * n_types) div n_tokens"))
          .as("ttr_permille"),
        when(col("n_types") > 0, expr("(1000 * n_hapax) div n_types"))
          .as("hapax_permille"))
      .orderBy(col("source"))
  }
  // Lexical diversity: (source, word) counts → TTR + hapax share in
  // exact permille.
  query("q_lexical_diversity", qLexicalDiversity,
    """WITH w AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '),
      |                                    x -> length(x) > 0)) AS word
      |  FROM documents),
      |c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS n
      |      FROM w GROUP BY 1, 2),
      |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
      |             CAST(count(*) AS BIGINT) AS n_types,
      |             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |               AS n_hapax
      |      FROM c GROUP BY 1)
      |SELECT source, n_tokens, n_types, n_hapax,
      |       CAST((1000 * n_types) // n_tokens AS BIGINT) AS ttr_permille,
      |       CAST((1000 * n_hapax) // n_types AS BIGINT) AS hapax_permille
      |FROM g ORDER BY source""".stripMargin)

  /** Salted COUNT DISTINCT: exact distinct users per event type
    * through a TWO-LEVEL aggregate — level 1 groups by (type, salt)
    * with salt DERIVED FROM THE DISTINCT KEY (user_id mod 16), so the
    * salt buckets partition each type's user space disjointly and the
    * level-2 sums are exactly the distinct counts. This is the
    * skew-proof shape for distinct-aggregation hot keys: a plain
    * count(distinct) funnels a hot group's whole key set through one
    * reducer (distinct can't map-side-combine across the group),
    * while the salted form bounds any reducer at |group|/16 — the
    * aggregation twin of q_salted_join, and like it the oracle is the
    * PLAIN aggregate, so a salt-routing error hash-mismatches. */
  private def qSaltedDistinct(s: SparkSession, d: String): DataFrame = {
    val lvl1 = t(s, d, "events")
      .select(col("event_type"), col("user_id"),
        pmod(col("user_id"), lit(16L)).as("salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(countDistinct(col("user_id")).as("d"))
    lvl1.groupBy(col("event_type")).agg(sum(col("d")).as("n_users"))
      .orderBy(col("event_type"))
  }
  // Salted count-distinct: the oracle is the PLAIN distinct count —
  // any salt-routing error in the two-level form hash-mismatches.
  query("q_salted_distinct", qSaltedDistinct,
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** NOT IN vs NOT EXISTS three-valued-logic parity: the
    * classic SQL-semantics trap under the hash gate — a NOT IN whose
    * subquery contains a NULL returns ZERO rows (every comparison is
    * UNKNOWN), while the NOT EXISTS form anti-joins normally. The SAME
    * text runs on both engines (the q_scalar_subquery discipline);
    * Catalyst plans the NOT IN as a null-aware anti join
    * (NullAwareAntiJoin) and the NOT EXISTS as a plain left-anti. A
    * dialect that silently rewrote one into the other would
    * hash-mismatch here. */
  private def qNullSemantics(s: SparkSession, d: String): DataFrame = {
    t(s, d, "orders").createOrReplaceTempView("orders")
    t(s, d, "customer").createOrReplaceTempView("customer")
    s.sql(nullSemantics.oracleSql)
  }
  // NOT IN with a NULL in the subquery vs NOT EXISTS — the SAME text
  // runs on both engines; the NOT IN branch must return 0.
  private val nullSemantics = query("q_null_semantics", qNullSemantics,
    """WITH s AS (
      |  SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END
      |           AS nullable_key
      |  FROM customer WHERE c_custkey < 50)
      |SELECT
      |  (SELECT count(*) FROM orders
      |   WHERE o_custkey NOT IN (SELECT nullable_key FROM s))
      |    AS not_in_count,
      |  (SELECT count(*) FROM orders o
      |   WHERE NOT EXISTS (SELECT 1 FROM s
      |                     WHERE s.nullable_key = o.o_custkey))
      |    AS not_exists_count""".stripMargin)

  /** GROWTH ACCOUNTING: the social-analytics decomposition of
    * daily actives into NEW (first-ever day), RETAINED (previous active
    * day ≤ 14 days back) and RESURRECTED (returned after > 14 days) —
    * plus the cumulative user count — the DAU movement every growth
    * team reads first. One (user, day) distinct off the scan, one
    * user-keyed lag window over the per-user DAY list (bounded by
    * active days, tighter than raw events), one map-side day aggregate;
    * the running cumulative sum is a window over the calendar-bounded
    * day table (the q_anomaly_zscore bound). Integer-exact. */
  private def qGrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val ud = t(s, d, "events")
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val st = ud.withColumn("prev", lag(col("day"), 1).over(w))
      .select(col("day"),
        when(col("prev").isNull, "new")
          .when(col("day") - col("prev") <= 14, "retained")
          .otherwise("resurrected").as("status"))
    val daily = st.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    daily.withColumn("cum_users",
        sum(col("n_new")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("day"))
  }
  // Growth accounting: per-user active-day lag classifies new /
  // retained (≤14d) / resurrected (>14d); cumulative new-user sum
  // over the calendar-bounded day table.
  query("q_growth_accounting", qGrowthAccounting,
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |st AS (
      |  SELECT day,
      |         CASE WHEN lag(day) OVER (PARTITION BY u ORDER BY day) IS NULL
      |              THEN 'new'
      |              WHEN day - lag(day) OVER (PARTITION BY u ORDER BY day) <= 14
      |              THEN 'retained'
      |              ELSE 'resurrected' END AS status
      |  FROM ud),
      |daily AS (
      |  SELECT day, count(*) AS n_active,
      |         CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_new,
      |         CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_retained,
      |         CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_resurrected
      |  FROM st GROUP BY 1)
      |SELECT day, n_active, n_new, n_retained, n_resurrected,
      |       CAST(sum(n_new) OVER (ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum_users
      |FROM daily ORDER BY day""".stripMargin)

  /** Window DISTRIBUTION functions: percent_rank, cume_dist and
    * ntile(4) of daily event volumes — the remaining ANSI window
    * family beyond rank/lag/running/range/stats/ntile rows, exercised
    * over the CALENDAR-BOUNDED day table (the only place an
    * unpartitioned ordered window is scale-safe — the q_anomaly_zscore
    * bound). percent_rank/cume_dist are single IEEE divisions of exact
    * integer ranks ((r−1)/(n−1), r/n) — correctly rounded, identical
    * expression tree both engines ⇒ hash-stable doubles. */
  private def qWindowDistribution(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .select(expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n"), col("day"))
    daily.select(col("day"), col("n"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("day"))
  }
  // Window distribution functions over the calendar-bounded day
  // table; percent_rank/cume_dist are exact-integer-rank divisions.
  query("q_window_distribution", qWindowDistribution,
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1)
      |SELECT day, n,
      |       percent_rank() OVER (ORDER BY n, day) AS pct_rank,
      |       cume_dist() OVER (ORDER BY n, day) AS cume,
      |       CAST(ntile(4) OVER (ORDER BY n, day) AS INTEGER) AS quartile
      |FROM daily ORDER BY day""".stripMargin)

  /** Top user JOURNEYS: the most frequent event-type TRIGRAMS
    * along each user's timeline — the "what paths do users actually
    * take" product readout one order above the q_event_transitions matrix
    * (a Markov chain cannot distinguish view→click→purchase from
    * view→click→error; the trigram table can). ONE user-keyed window
    * exchange evaluates both leads (same partition order — Spark
    * collapses them into a single Window node), then one map-side
    * aggregate to the ≤\|types\|³ path table; top-20 by (count DESC,
    * path) runs as TakeOrderedAndProject. */
  private def qUserJourneys(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }
  // Top user journeys: per-user lead² trigram paths, top-20 by
  // (count DESC, path).
  query("q_user_journeys", qUserJourneys,
    """WITH e AS (SELECT user_id AS u, event_id, event_type,
      |                  epoch_us(ts) AS us FROM events),
      |t AS (SELECT event_type AS t1,
      |             lead(event_type, 1) OVER (PARTITION BY u ORDER BY us, event_id) AS t2,
      |             lead(event_type, 2) OVER (PARTITION BY u ORDER BY us, event_id) AS t3
      |      FROM e)
      |SELECT t1 || '>' || t2 || '>' || t3 AS path,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM t WHERE t3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)

  /** Day-of-week ingest seasonality profile: per weekday-slot
    * (epoch-day mod 7 — a pure integer phase, no calendar/tz surface)
    * the day count, total events, truncating-integer mean and min/max
    * day volumes — the baseline the anomaly rows (z-score/MAD) should
    * be read against: a "spike" that is just the weekly rhythm isn't
    * one. ONE map-side corpus aggregate to the calendar-bounded day
    * table, then a 7-row profile aggregate. Integer-exact. */
  private def qDowProfile(s: SparkSession, d: String): DataFrame = {
    val daily = t(s, d, "events")
      .select(expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    daily.groupBy(pmod(col("day"), lit(7L)).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total_events"),
        min(col("n")).as("min_day"), max(col("n")).as("max_day"))
      .select(col("dow"), col("n_days"), col("total_events"),
        expr("total_events div n_days").as("mean_per_day"),
        col("min_day"), col("max_day"))
      .orderBy(col("dow"))
  }
  // Day-of-week profile: epoch-day mod 7 phase, truncating mean from
  // the sums.
  query("q_dow_profile", qDowProfile,
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |p AS (SELECT day % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
      |             CAST(sum(n) AS BIGINT) AS total_events,
      |             CAST(min(n) AS BIGINT) AS min_day,
      |             CAST(max(n) AS BIGINT) AS max_day
      |      FROM daily GROUP BY 1)
      |SELECT dow, n_days, total_events,
      |       CAST(total_events // n_days AS BIGINT) AS mean_per_day,
      |       min_day, max_day
      |FROM p ORDER BY dow""".stripMargin)

  /** Inter-event gap spectrum: per event type, the histogram of
    * consecutive same-type gaps per user in log₂(µs) buckets — the
    * burstiness/periodicity readout (bot traffic concentrates in one
    * bucket; a healthy human mix spreads). The bucket is the BINARY
    * DIGIT COUNT minus one — length(bin(gap)) − 1 = ⌊log₂ gap⌋ for
    * gap ≥ 1 and 0 for the equal-timestamp gap — the transcendental-
    * free log that hashes identically across engines (bin() renders
    * unpadded in both). One (user, type)-keyed lag window (the
    * sequence-analytics partition bound), one map-side aggregate to
    * the ~40·|types|-row histogram with exact min/max gap fences. */
  private def qIntereventGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"),
        (length(bin(col("gap"))) - 1).cast("int").as("log2_bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"))
      .orderBy(col("event_type"), col("log2_bucket"))
  }
  // Inter-event gap spectrum: per-(user, type) lag gaps bucketed by
  // binary digit count − 1 (⌊log₂⌋, transcendental-free; bin() is
  // unpadded in both engines, bin(0)='0' → bucket 0).
  query("q_interevent_gaps", qIntereventGaps,
    """WITH e AS (SELECT user_id AS u, event_type, event_id,
      |                  epoch_us(ts) AS us FROM events),
      |g AS (SELECT event_type,
      |             us - lag(us) OVER (PARTITION BY u, event_type
      |                                ORDER BY us, event_id) AS gap
      |      FROM e)
      |SELECT event_type,
      |       CAST(length(bin(gap)) - 1 AS INTEGER) AS log2_bucket,
      |       CAST(count(*) AS BIGINT) AS n_gaps,
      |       CAST(min(gap) AS BIGINT) AS min_gap_us,
      |       CAST(max(gap) AS BIGINT) AS max_gap_us
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY 1, 2 ORDER BY event_type, log2_bucket""".stripMargin)

  /** Ranking-window breadth: ntile, percent_rank, cume_dist, and the
    * unbounded-frame first/last. percent_rank/cume_dist divide small
    * exact integers — IEEE division is correctly rounded, so the doubles
    * match the oracle bit-for-bit. */
  private def qWindowStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).as("nt"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("o_orderkey")).over(full).as("fv"),
        last(col("o_orderkey")).over(full).as("lv"))
      .orderBy(col("o_orderkey"))
  }
  query("q_window_stats", qWindowStats,
    """SELECT o_orderkey, o_custkey,
      |       CAST(ntile(4) OVER w AS INTEGER) AS nt,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd,
      |       first_value(o_orderkey) OVER wf AS fv,
      |       last_value(o_orderkey) OVER wf AS lv
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin)

  /** Deterministic arg-min/arg-max (the min_by/max_by family): the
    * extreme is taken over an ORDERED STRUCT (value, tie-break key), so
    * ties resolve identically everywhere — the raw min_by/arg_min picks
    * an arbitrary row on equal values, which can never sit under an
    * exact-hash gate. One hash aggregate with map-side partials; the
    * struct comparison is codegen'd lexicographic. */
  private def qArgExtreme(s: SparkSession, d: String): DataFrame = {
    val keyed = struct(Relational.cents(col("o_totalprice")).as("c"),
      col("o_orderkey").as("k"))
    t(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(min(keyed).as("mn"), max(keyed).as("mx"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"),
        col("mn.k").as("cheapest_key"), col("mn.c").as("cheapest_cents"),
        col("mx.k").as("priciest_key"), col("mx.c").as("priciest_cents"),
        col("n_orders"))
      .orderBy(col("o_orderpriority"))
  }
  // deterministic arg-min/arg-max: the extreme of an ordered (value,
  // tie-break key) struct — DuckDB compares named structs field-by-field
  // exactly like Spark's lexicographic struct ordering
  query("q_arg_extreme", qArgExtreme,
    """SELECT o_orderpriority,
      |       (min({'c': CAST(round(o_totalprice * 100) AS BIGINT), 'k': o_orderkey})).k AS cheapest_key,
      |       (min({'c': CAST(round(o_totalprice * 100) AS BIGINT), 'k': o_orderkey})).c AS cheapest_cents,
      |       (max({'c': CAST(round(o_totalprice * 100) AS BIGINT), 'k': o_orderkey})).k AS priciest_key,
      |       (max({'c': CAST(round(o_totalprice * 100) AS BIGINT), 'k': o_orderkey})).c AS priciest_cents,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  /** Bitwise aggregates (bit_and/bit_or/bit_xor): the xor aggregate is
    * the classic order-independent set checksum (pair-cancelling, so a
    * re-sent row cancels out) — cheap reconciliation across pipeline
    * stages at any scale; all three combine map-side. */
  private def qBitwiseAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("bit_and(l_orderkey)").as("and_keys"),
        expr("bit_or(l_orderkey)").as("or_keys"),
        expr("bit_xor(l_orderkey)").as("xor_keys"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  query("q_bitwise_agg", qBitwiseAgg,
    """SELECT l_returnflag,
      |       bit_and(l_orderkey) AS and_keys,
      |       bit_or(l_orderkey) AS or_keys,
      |       bit_xor(l_orderkey) AS xor_keys,
      |       CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin)

  /** NULL-preserving generator (explode_outer): a group whose collected
    * array is EMPTY still yields one row with a NULL element — the outer
    * join of generators, and the semantics plain explode silently drops.
    * collect_list skips the when()-nulls, so non-qualifying groups
    * produce genuinely empty arrays. */
  private def qExplodeOuter(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(
        when(col("o_totalprice") > 450000.0, col("o_orderkey")))).as("big"))
      .select(col("o_custkey"), explode_outer(col("big")).as("big_orderkey"))
      .orderBy(col("o_custkey"), col("big_orderkey"))
  // explode_outer: an empty collected list still yields one NULL row —
  // mirrored by substituting [NULL] for the empty list before unnest
  query("q_explode_outer", qExplodeOuter,
    """WITH g AS (
      |  SELECT o_custkey,
      |         list_sort(list(o_orderkey) FILTER (WHERE o_totalprice > 450000.0)) AS big
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT o_custkey, u.big_orderkey
      |FROM g, LATERAL unnest(
      |  CASE WHEN big IS NULL OR len(big) = 0 THEN [NULL] ELSE big END)
      |  AS u(big_orderkey)
      |ORDER BY o_custkey, big_orderkey""".stripMargin)

  /** Join-strategy HINTS are result-transparent: the merge hint forces a
    * sort-merge join where the planner would broadcast, and the answer
    * must not move — the oracle is the plain join. The plan assertion
    * lives in PlanInvariantsSpec; at 100 TB hints are the operator-level
    * escape hatch when statistics mislead the planner. */
  private def qJoinHints(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(min(col("o_orderkey")).as("first_key"),
        max(Relational.cents(col("o_totalprice"))).as("max_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  // the hinted sort-merge join must equal the plain join
  query("q_join_hints", qJoinHints,
    """SELECT c_mktsegment,
      |       min(o_orderkey) AS first_key,
      |       max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** Cartesian product (explicit crossJoin — the one join type with no
    * key): bounded to dimension tables, where it is legitimate. */
  private def qCrossJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "region").select(col("r_name"))
      .crossJoin(t(s, d, "nation").select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))
  query("q_cross_join", qCrossJoin,
    """SELECT r.r_name, n.n_name
      |FROM region r CROSS JOIN nation n
      |ORDER BY r.r_name, n.n_name""".stripMargin)

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): a NULL key
    * matches exactly the NULL key, unlike `=` which drops it. */
  private def qNullsafeJoin(s: SparkSession, d: String): DataFrame = {
    val a = t(s, d, "orders")
      .groupBy(when(col("o_orderpriority") === "1-URGENT", lit(null))
        .otherwise(col("o_orderpriority")).as("k"))
      .agg(count(lit(1)).as("n"))
    val b = a.select(col("k").as("kb"), col("n").as("n_b"))
    a.join(b, col("k") <=> col("kb"))
      .select(col("k"), col("n").as("n_a"), col("n_b"))
      .orderBy(asc_nulls_first("k"))
  }
  // NULL key matches exactly the NULL key under IS NOT DISTINCT FROM
  query("q_nullsafe_join", qNullsafeJoin,
    """WITH a AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
      |              ELSE o_orderpriority END AS k,
      |         count(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT a.k, a.n AS n_a, b.n AS n_b
      |FROM a JOIN a b ON a.k IS NOT DISTINCT FROM b.k
      |ORDER BY a.k NULLS FIRST""".stripMargin)

  /** Date arithmetic breadth: day offset, end-of-month, day difference,
    * quarter, day-of-year. */
  private def qDateArith(s: SparkSession, d: String): DataFrame = {
    val od = col("o_orderdate").cast("date")
    t(s, d, "orders")
      .select(col("o_orderkey"),
        date_add(od, 30).as("plus30"),
        last_day(od).as("eom"),
        datediff(lit(java.sql.Date.valueOf("1995-01-01")), od).as("dd"),
        quarter(od).as("qtr"),
        dayofyear(od).as("doy"))
      .orderBy(col("o_orderkey"))
  }
  query("q_date_arith", qDateArith,
    """SELECT o_orderkey,
      |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
      |       last_day(CAST(o_orderdate AS DATE)) AS eom,
      |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1995-01-01') AS INTEGER) AS dd,
      |       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin)

  /** Approximate median under the own-sketch/own-check contract (the
    * q_approx_count_distinct pattern): each engine runs ITS OWN sketch
    * (Spark: Greenwald-Khanna percentile_approx; DuckDB: t-digest) and
    * asserts the result's RANK lands within tolerance of n/2 — both
    * inside ⇒ identical boolean rows, hash-matchable. */
  private def qApproxPercentile(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val p = li.groupBy(col("l_returnflag").as("rf"))
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap"),
        count(lit(1)).as("n"))
    li.join(broadcast(p), col("l_returnflag") === col("rf"))
      .groupBy(col("rf"))
      .agg(first(col("n")).as("n"),
        sum(when(col("l_extendedprice") <= col("ap"), 1L).otherwise(0L)).as("below"))
      .select(col("rf"), col("n"),
        (abs(col("below") - col("n").cast("double") / 2)
          <= col("n").cast("double") / 100 + 1).as("within_tolerance"))
      .orderBy(col("rf"))
  }
  // own-sketch/own-rank-check: DuckDB's t-digest vs Spark's GK sketch,
  // each asserted within rank tolerance of the true median
  query("q_approx_percentile", qApproxPercentile,
    """WITH p AS (
      |  SELECT l_returnflag AS rf,
      |         approx_quantile(l_extendedprice, 0.5) AS ap,
      |         count(*) AS n
      |  FROM lineitem GROUP BY 1)
      |SELECT p.rf, CAST(p.n AS BIGINT) AS n,
      |       abs(sum(CASE WHEN l.l_extendedprice <= p.ap THEN 1 ELSE 0 END)
      |           - p.n / 2.0) <= p.n / 100.0 + 1 AS within_tolerance
      |FROM lineitem l JOIN p ON l.l_returnflag = p.rf
      |GROUP BY p.rf, p.n
      |ORDER BY p.rf""".stripMargin)

  /** MapType surface: parse the JSON props column into map<string,int>,
    * expose keys and a value lookup — scan-linear, no shuffle beyond the
    * output ordering. The key list is serialized (array_join) so the
    * verified output carries no raw ARRAY column: the driver's comparer
    * sorts every column before hashing and cannot hash arrays. */
  private def qMapOps(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(col("event_id"),
        array_join(map_keys(col("m")), ",").as("ks"),
        col("m").getItem("k").as("kv"))
      .orderBy(col("event_id"))
  query("q_map_ops", qMapOps,
    """SELECT event_id,
      |       array_to_string(json_keys(props), ',') AS ks,
      |       CAST(json_extract(props, '$.k') AS INTEGER) AS kv
      |FROM events
      |ORDER BY event_id""".stripMargin)

  /** Array + string aggregation with a deterministic contract: the
    * collected list is SORTED before it ever leaves the aggregate, so the
    * result is partition-order-independent (bare collect_list is not).
    * The verified output serializes the sorted list (concat_ws) rather
    * than emitting the raw array — same semantics, hashable by the
    * driver's column-sorting comparer. */
  private def qArrayAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("o_orderpriority"))).as("prios"),
        count(lit(1)).as("n"))
      .select(col("o_custkey"),
        concat_ws(",", col("prios")).as("prio_csv"), col("n"))
      .orderBy(col("o_custkey"))
  // deterministic array agg: the list is sorted INSIDE the aggregate,
  // then serialized (the driver's comparer cannot hash raw arrays)
  query("q_array_agg", qArrayAgg,
    """SELECT o_custkey,
      |       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_csv,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin)

  /** Unpivot (melt): wide measures → (measure, value) rows — the inverse
    * of q_pivot; a pure in-row Expand, no shuffle beyond the ordering. */
  private def qUnpivot(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        Relational.cents(col("l_extendedprice")).as("price_cents"),
        Relational.cents(col("l_discount")).as("disc_cents"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("price_cents"), col("disc_cents")),
        "measure", "cents")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
  // melt: the oracle mirrors semantics with a UNION ALL (same rows)
  query("q_unpivot", qUnpivot,
    """SELECT l_orderkey, l_linenumber, 'price_cents' AS measure,
      |       CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'disc_cents' AS measure,
      |       CAST(round(l_discount * 100) AS BIGINT) AS cents
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)

  /** Higher-order array functions over the token arrays: filter, exists,
    * aggregate (fold), transform+max — all codegen-friendly in-row work. */
  private def qArrayHof(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(s, d, "documents")
      .select(col("doc_id"),
        size(filter(toks, t => length(t) > 4)).as("n_long"),
        exists(toks, t => t === "data").as("has_data"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("chars_sum"),
        array_max(transform(toks, t => length(t))).as("max_len"))
      .orderBy(col("doc_id"))
  }
  query("q_array_hof", qArrayHof,
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |       CAST(len(list_filter(toks, t -> length(t) > 4)) AS INTEGER) AS n_long,
      |       len(list_filter(toks, t -> t = 'data')) > 0 AS has_data,
      |       CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS chars_sum,
      |       CAST(list_max(list_transform(toks, t -> length(t))) AS INTEGER) AS max_len
      |FROM t ORDER BY doc_id""".stripMargin)

  // The JSON-lines landing copy of orders, the text-source sibling of
  // csvOrdersDir.
  private[graft] def jsonOrdersDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "orders_json", "orders") { dir =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"))
        .write.json(dir)
    }

  /** JSON-lines source round-trip against the parquet base table. */
  private def qJsonScan(s: SparkSession, d: String): DataFrame =
    s.read
      .schema("o_orderkey LONG, o_custkey LONG, o_orderpriority STRING, o_totalprice DOUBLE, o_date DATE")
      .json(jsonOrdersDir(s, d))
      .orderBy(col("o_orderkey"))
  // JSON-lines round-trip: same base-table transparency as q_csv_scan
  query("q_json_scan", qJsonScan,
    """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
      |       CAST(o_orderdate AS DATE) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  // One binary FILE per document (doc-id-named synthetic image payloads),
  // written by the executors — the landing shape of a real media corpus.
  private[graft] def binaryMediaDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "media_bin", "documents") { dir =>
      val p = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(new java.net.URI(dir))).toString
      graft.multimodal.SynthImages.packSynth(t(s, d, "documents"), "doc_id", "text")
        .foreachPartition {
          (rows: Iterator[graft.multimodal.Multimodal.MediaRow]) =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(p, s"doc_${r.doc_id}.bin"), r.bytes)
            }
        }
    }

  /** binaryFile source over the per-document media files — the ingest
    * path of an image/audio corpus: doc identity parsed from the file
    * name, payload length verified against the closed-form synthesis
    * contract (any write or read corruption breaks the hash). */
  private def qBinaryScan(s: SparkSession, d: String): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(binaryMediaDir(s, d))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        length(col("content")).as("byte_len"))
      .orderBy(col("doc_id"))
  // binaryFile source: payload length vs the closed-form synthesis
  // contract (SynthImages: BMP for even ids, PPM P6 for odd)
  query("q_binary_scan", qBinaryScan,
    """SELECT doc_id,
      |       CAST(CASE WHEN doc_id % 2 = 0
      |         THEN 54 + ((3 * (8 + doc_id % 25) + 3) // 4) * 4 * (8 + doc_id % 17)
      |         ELSE 9 + length(CAST(8 + doc_id % 25 AS VARCHAR))
      |                + length(CAST(8 + doc_id % 17 AS VARCHAR))
      |                + 3 * (8 + doc_id % 25) * (8 + doc_id % 17)
      |       END AS INTEGER) AS byte_len
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Deterministic training shuffle + sharding: a pseudo-random global
    * order from md5(doc_id), hash-sharded so each shard assigns its
    * positions in an INDEPENDENT window — at 100 TB this parallelizes
    * per shard instead of funneling the corpus through one global sort,
    * and the (shard, pos) assignment is reproducible run-over-run (the
    * property a training job needs to resume mid-epoch). */
  private def qShardShuffle(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    t(s, d, "documents")
      .select(col("doc_id"), h.as("h"),
        pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(8)).cast("int").as("shard"))
      .withColumn("pos", row_number().over(w) - 1)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }
  // deterministic hash shuffle + sharding for training resume
  query("q_shard_shuffle", qShardShuffle,
    """WITH h AS (
      |  SELECT doc_id, md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, h,
      |         CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS INTEGER) AS shard
      |  FROM h)
      |SELECT doc_id, shard,
      |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS INTEGER) AS pos
      |FROM s ORDER BY doc_id""".stripMargin)

  /** Incremental aggregate maintenance (the dbt incremental-model
    * pattern): the base table holds PARTIAL aggregate states (count,
    * sum), a delta batch arrives, and the merge is a union + re-aggregate
    * over the states — O(|delta| + |affected keys|), never a rescan of
    * the full history. Verified against the full-table aggregate, which
    * is exactly the mergeability contract of algebraic aggregates. */
  private def qIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(Relational.cents(col("o_totalprice"))).as("cents"))
    val cut = lit(java.sql.Date.valueOf("1996-01-01"))
    val base = partial(t(s, d, "orders").filter(col("o_orderdate") < cut))
    val delta = partial(t(s, d, "orders").filter(col("o_orderdate") >= cut))
    base.unionAll(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("o_orderpriority"))
  }
  // incremental merge must equal the full-table aggregate
  query("q_incremental_agg", qIncrementalAgg,
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Snapshot diff (CDC-style drift report): two keyed snapshots FULL
    * OUTER joined, each key classified added / removed / changed /
    * unchanged by comparing exact cent values. Both snapshots derive
    * deterministically from the base table. */
  private def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .select(col("o_orderkey").as("k"), Relational.cents(col("o_totalprice")).as("cents"))
    val snapA = o.filter(col("k") % 11 =!= 0)
    val snapB = o.filter(col("k") % 13 =!= 0)
      .select(col("k").as("kb"),
        (col("cents") + when(col("k") % 7 === 0, 1L).otherwise(0L)).as("cents_b"))
    snapA.join(snapB, col("k") === col("kb"), "full_outer")
      .select(
        when(col("k").isNull, lit("added"))
          .when(col("kb").isNull, lit("removed"))
          .when(col("cents") =!= col("cents_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }
  query("q_snapshot_diff", qSnapshotDiff,
    """WITH o AS (SELECT o_orderkey AS k,
      |                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |a AS (SELECT * FROM o WHERE k % 11 <> 0),
      |b AS (SELECT k AS kb,
      |             cents + CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END AS cents_b
      |      FROM o WHERE k % 13 <> 0)
      |SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT CASE WHEN a.k IS NULL THEN 'added'
      |              WHEN b.kb IS NULL THEN 'removed'
      |              WHEN a.cents <> b.cents_b THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON a.k = b.kb)
      |GROUP BY status ORDER BY status""".stripMargin)

  /** Keyset-free pagination: total order + LIMIT/OFFSET. (At 100 TB the
    * right pagination is keyset — WHERE key > last — but OFFSET is the
    * API surface users reach for first; a total order makes it exact.) */
  private def qPagination(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy(col("o_orderkey"))
      .offset(40).limit(20)
  query("q_pagination", qPagination,
    """SELECT o_orderkey, o_custkey FROM orders
      |ORDER BY o_orderkey LIMIT 20 OFFSET 40""".stripMargin)

  /** Multiset set-ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    * multiplicities (the bag semantics DISTINCT-based set ops destroy). */
  private def qIntersectAll(s: SparkSession, d: String): DataFrame = {
    val hi = t(s, d, "orders").filter(col("o_totalprice") > 100000.0)
      .select(col("o_orderpriority"))
    val lo = t(s, d, "orders").filter(col("o_totalprice") <= 200000.0)
      .select(col("o_orderpriority"))
    hi.intersectAll(lo)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }
  query("q_intersect_all", qIntersectAll,
    """WITH i AS (
      |  SELECT o_orderpriority FROM orders WHERE o_totalprice > 100000
      |  INTERSECT ALL
      |  SELECT o_orderpriority FROM orders WHERE o_totalprice <= 200000)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
      |FROM i GROUP BY 1 ORDER BY 1""".stripMargin)

  private def qExceptAll(s: SparkSession, d: String): DataFrame = {
    val all = t(s, d, "orders").select(col("o_orderpriority"))
    val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderpriority"))
    all.exceptAll(urgent)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }
  query("q_except_all", qExceptAll,
    """WITH e AS (
      |  SELECT o_orderpriority FROM orders
      |  EXCEPT ALL
      |  SELECT o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Error-tolerant parsing (try_cast): malformed numerics become NULL
    * instead of failing the job — the ingest posture for dirty text
    * feeds; the malformed slice is synthesized deterministically. */
  private def qTryCast(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("junk"))
          .otherwise(col("doc_id").cast("string")).as("raw"))
      .select(col("doc_id"), col("raw"),
        expr("try_cast(raw AS BIGINT)").as("parsed"),
        expr("try_cast(raw AS BIGINT)").isNull.as("malformed"))
      .orderBy(col("doc_id"))
  query("q_try_cast", qTryCast,
    """WITH r AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'junk'
      |              ELSE CAST(doc_id AS VARCHAR) END AS raw
      |  FROM documents)
      |SELECT doc_id, raw,
      |       TRY_CAST(raw AS BIGINT) AS parsed,
      |       TRY_CAST(raw AS BIGINT) IS NULL AS malformed
      |FROM r ORDER BY doc_id""".stripMargin)

  /** GROUPING SETS with grouping() markers — the one grouping construct
    * `.rollup`/`.cube` can't express (arbitrary mixed sets). SQL entry
    * point over a temp view; the plan is a single Expand + hash
    * aggregate, same as rollup/cube. */
  private def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    t(s, d, "lineitem").createOrReplaceTempView("li_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |       CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |       count(1) AS n_rows,
        |       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents
        |FROM li_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)
  }
  query("q_grouping_sets", qGroupingSets,
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
      |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)

  /** Edit-distance fuzzy matching over the (small by construction)
    * distinct domain values — the catalog-cleaning join that catches
    * near-identical source labels. The distinct set is tiny relative to
    * the corpus, so the pairwise comparison is bounded by #domains², not
    * rows². */
  private def qFuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val src = t(s, d, "documents").select(col("source")).distinct()
    src.as("a").join(src.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        levenshtein(col("a.source"), col("b.source")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("src_a"), col("src_b"))
  }
  query("q_fuzzy_match", qFuzzyMatch,
    """WITH s AS (SELECT DISTINCT source FROM documents)
      |SELECT a.source AS src_a, b.source AS src_b,
      |       CAST(levenshtein(a.source, b.source) AS INTEGER) AS dist
      |FROM s a JOIN s b ON a.source < b.source
      |WHERE levenshtein(a.source, b.source) <= 2
      |ORDER BY src_a, src_b""".stripMargin)

  /** Scan of the z-ordered layout with a second-dimension filter — the
    * oracle is the same predicate over the base table, so any clustering
    * or write error breaks the hash compare (result transparency, like
    * the salted join). */
  private def qZorderScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(zorderedLineitemDir(s, d))
      .filter(col("zy") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("zx"), col("zy"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  // q_zorder_scan reads the Morton-clustered copy of lineitem (same
  // rows, different layout) — the oracle is the equivalent predicate
  // over the base table (result transparency).
  query("q_zorder_scan", qZorderScan,
    """SELECT l_orderkey, l_linenumber,
      |       CAST(l_partkey % 1024 AS INTEGER) AS zx,
      |       CAST(l_suppkey % 1024 AS INTEGER) AS zy,
      |       l_quantity
      |FROM lineitem WHERE l_suppkey % 1024 < 5
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** Partition-pruned scan: monthly revenue for ONE year read from the
    * year-partitioned layout. The o_year predicate is a partition filter —
    * the scan lists and reads only that year's directory (PartitionFilters
    * in the plan; asserted by IOSpec and recorded in PLANS.md), which at
    * 100 TB is the difference between reading a day and reading the
    * table. */
  private def qPartitionPrune(s: SparkSession, d: String): DataFrame =
    s.read.parquet(partitionedOrdersDir(s, d))
      .filter(col("o_year") === 1996)
      .groupBy(col("o_year"), month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(Relational.cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy(col("o_month"))
  // q_partition_prune reads the year-partitioned copy of orders (same
  // rows, different layout), so the oracle is the equivalent predicate
  // over the base table; o_year is the INT partition-directory value.
  query("q_partition_prune", qPartitionPrune,
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |       CAST(month(o_orderdate) AS INTEGER) AS o_month,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders
      |WHERE year(o_orderdate) = 1996
      |GROUP BY 1, 2 ORDER BY o_month""".stripMargin)

  // File-backed year dim for the DPP row. It must be FILE-backed: with a
  // LocalRelation dim the selective filter constant-folds away before the
  // PartitionPruning rule looks for it, and no DPP subquery is planted.
  // testdata orders span 1995–2001; keep = {1996, 1999} so the DPP run
  // prunes 7 partition dirs down to 2. The dim reads no source, so its
  // CONTENT is folded into the name: other constants get another dir.
  private val YearDimKeep = Set(1996, 1999)

  private[graft] def yearDimDir(s: SparkSession, d: String): String =
    derivedDir(s, d, s"year_dim_${Integer.toHexString((1995 to 2001, YearDimKeep).hashCode)}") { dir =>
      import s.implicits._
      (1995 to 2001)
        .map(y => (y, if (YearDimKeep(y)) "keep" else "dead"))
        .toDF("yy", "tag")
        .coalesce(1).write.parquet(dir)
    }

  /** DYNAMIC partition pruning under the correctness gate: the year
    * filter lives on the DIM (tag = 'keep'), not the fact — the fact
    * scan learns which o_year directories survive only at runtime, from
    * the broadcast dim's join keys (`dynamicpruning` subquery in
    * PartitionFilters; planted-and-pruned asserted by IOSpec and
    * PlanInvariantsSpec). At 100 TB this is THE selective-star-join
    * lever: static pruning can't see through a join, so without DPP the
    * fact side reads every partition. Oracle = the same join over the
    * base table with a VALUES dim. */
  private[graft] def qDppScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(partitionedOrdersDir(s, d))
      .join(s.read.parquet(yearDimDir(s, d)).filter(col("tag") === "keep"),
        col("o_year") === col("yy"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(Relational.cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy(col("o_year"))
  // q_dpp_scan joins the year-partitioned orders copy with a FILE-backed
  // year dim filtered on tag — the oracle is the same join over the base
  // table with the dim inlined as VALUES (identical content by
  // construction: keep = {1996, 1999}).
  query("q_dpp_scan", qDppScan,
    """WITH dim AS (SELECT * FROM (VALUES (1995, 'dead'), (1996, 'keep'),
      |  (1997, 'dead'), (1998, 'dead'), (1999, 'keep'), (2000, 'dead'),
      |  (2001, 'dead')) d(yy, tag))
      |SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN dim ON CAST(year(o_orderdate) AS INTEGER) = dim.yy
      |WHERE dim.tag = 'keep'
      |GROUP BY 1 ORDER BY o_year""".stripMargin)

  // Bloom-join session: a child session (shared SparkContext and table
  // cache, separate SQLConf) whose conf makes the runtime bloom filter
  // real at registry scale — broadcast off so the join actually
  // shuffles, application-side size floor dropped so sf-scale facts
  // qualify. Conf must live on the session the returned frame is BOUND
  // to (Verify/Bench re-plan at action time, long after this function
  // returns), and a child session keeps it off every other query's plan.
  private val bloomSessionMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, SparkSession]()

  private def bloomSession(s: SparkSession): SparkSession =
    bloomSessionMemo.computeIfAbsent(System.identityHashCode(s), _ => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      s2
    })

  /** RUNTIME bloom-filter join under the correctness gate: lineitem ⋈ a
    * selectively-filtered part dim as a SHUFFLE join — the optimizer
    * compresses the dim's surviving keys into a bloom filter evaluated
    * INSIDE the fact scan stage (`might_contain` in the plan), so
    * non-candidate fact rows never enter the exchange. At 100 TB this is
    * the shuffle-volume killer for selective joins too big to broadcast.
    * The filter is advisory (false positives only) — the join is exact,
    * which is precisely what the oracle hash-compare proves. */
  private[graft] def qBloomJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = bloomSession(s)
    val li = s2.read.parquet(s"$d/lineitem.parquet")
    val p = s2.read.parquet(s"$d/part.parquet").filter(col("p_size") <= 2)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_size"))
      .agg(count(lit(1)).as("n_lines"),
        sum(Relational.cents(col("l_extendedprice"))).as("revenue_cents"))
      .orderBy(col("p_size"))
  }
  // q_bloom_join runs the selective dim join as a SHUFFLE join with the
  // runtime bloom filter injected on the fact side; the filter is
  // advisory, so the oracle is the plain join — any false-negative
  // pruning would break the hash.
  query("q_bloom_join", qBloomJoin,
    """SELECT p_size, count(*) AS n_lines,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 2
      |GROUP BY p_size ORDER BY p_size""".stripMargin)

  private def qMonthlyRevenue(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(Relational.cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy(col("month"))
  query("q_monthly_revenue", qMonthlyRevenue,
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)

  /** RANGE JOIN (equi + interval): same-user event pairs within 5
    * minutes — burst detection. With the equi key the plan is an
    * ordinary hash join plus a range filter (scales like any equi
    * join); comparisons run on µs-truncated event time so they agree
    * exactly with the oracle's TIMESTAMP precision. */
  private def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
    e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.us") > col("a.us") &&
          col("b.us") <= col("a.us") + lit(300000000L)) // 5 min in µs
      .select(col("a.event_id").as("id_a"), col("b.event_id").as("id_b"),
        (col("b.us") - col("a.us")).as("gap_us"))
      .orderBy(col("id_a"), col("id_b"))
  }
  query("q_range_join", qRangeJoin,
    """SELECT a.event_id AS id_a, b.event_id AS id_b,
      |       date_diff('microsecond', a.ts, b.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts > a.ts
      | AND b.ts <= a.ts + INTERVAL 5 MINUTE
      |ORDER BY id_a, id_b""".stripMargin)

  /** Gap-based sessionization of the event stream (batch): 30-minute
    * inactivity gap per user, one row per session with its bounds and
    * event count (Relational.sessionize — single window shuffle on the
    * user key). Times compared at µs precision (`ts div 1000`) so Spark's
    * nanos-as-long read and DuckDB's µs-truncated parquet timestamps
    * agree. */
  /** TPC-H Q1-shaped pricing summary: per (returnflag,
    * linestatus) quantity/price/discount/charge roll-up with EXACT
    * fixed-point money — cents for base price, hundredths for
    * discount/tax, so disc price is fp4 and charge fp6, all BIGINT
    * sums (order-free, engine-exact); averages are truncating integer
    * means DERIVED from the sums. One map-side-combining aggregate
    * over the filtered scan — the canonical whole-stage-codegen shape.
    * 100 TB note: fp6 row terms reach ~1e11, so a 1e12-row group would
    * overflow BIGINT — ANSI mode fails LOUDLY there, and the deploy
    * rule (knobs audit) is two-level aggregation into DECIMAL(38,0). */
  private def qPricingSummary(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity")).cast("long").as("qty"),
        Relational.cents(col("l_extendedprice")).as("base_c"),
        round(col("l_discount") * 100).cast("long").as("disc_c"),
        round(col("l_tax") * 100).cast("long").as("tax_c"))
      .withColumn("disc_fp4", col("base_c") * (lit(100L) - col("disc_c")))
      .withColumn("charge_fp6", col("disc_fp4") * (lit(100L) + col("tax_c")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("qty")).as("sum_qty"),
        sum(col("base_c")).as("sum_base_cents"),
        sum(col("disc_fp4")).as("sum_disc_fp4"),
        sum(col("charge_fp6")).as("sum_charge_fp6"),
        sum(col("disc_c")).as("sum_disc_c"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base_cents"), col("sum_disc_fp4"),
        col("sum_charge_fp6"), col("count_order"),
        expr("sum_qty div count_order").as("avg_qty"),
        expr("sum_base_cents div count_order").as("avg_price_cents"),
        expr("sum_disc_c div count_order").as("avg_disc_c"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  // TPC-H Q1-shaped pricing summary: exact fixed-point money (cents /
  // fp4 / fp6), truncating integer means derived from the sums.
  query("q_pricing_summary", qPricingSummary,
    """WITH l AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(round(l_quantity) AS BIGINT) AS qty,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS base_c,
      |         CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
      |         CAST(round(l_tax * 100) AS BIGINT) AS tax_c
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
      |SELECT l_returnflag, l_linestatus,
      |       CAST(sum(qty) AS BIGINT) AS sum_qty,
      |       CAST(sum(base_c) AS BIGINT) AS sum_base_cents,
      |       CAST(sum(base_c * (100 - disc_c)) AS BIGINT) AS sum_disc_fp4,
      |       CAST(sum(base_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT) AS sum_charge_fp6,
      |       count(*) AS count_order,
      |       CAST(sum(qty) // count(*) AS BIGINT) AS avg_qty,
      |       CAST(sum(base_c) // count(*) AS BIGINT) AS avg_price_cents,
      |       CAST(sum(disc_c) // count(*) AS BIGINT) AS avg_disc_c
      |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** TPC-H Q3-shaped shipping priority: top-10 unshipped-revenue
    * orders for one market segment — revenue in exact fp4 (cents ×
    * (100−disc_c)) summed as BIGINT. Plan: the tiny filtered customer
    * dim broadcasts, orders filter-pushes its date bound and joins it,
    * lineitem (date-filtered at the scan) equi-joins on orderkey, one
    * map-side-combining per-order aggregate, then TakeOrderedAndProject
    * — the fact table shuffles once, on the join key, and only the
    * top-10 crosses to the driver. */
  private def qShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp_ntz")
    val cust = t(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = t(s, d, "orders").filter(col("o_orderdate") < cutoff)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    t(s, d, "lineitem").filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (Relational.cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_fp4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum(col("rev_fp4")).as("revenue_fp4"))
      .orderBy(col("revenue_fp4").desc, col("order_date"), col("l_orderkey"))
      .limit(10)
  }
  // TPC-H Q3-shaped shipping priority: top-10 unshipped-revenue orders
  // for the BUILDING segment, revenue in exact fp4; ISO date string
  // (timestamps hash differently across engines).
  query("q_shipping_priority", qShippingPriority,
    """SELECT l.l_orderkey,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       o.o_orderpriority,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
      |         AS revenue_fp4
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-03-15'
      |  AND l.l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue_fp4 DESC, order_date, l_orderkey
      |LIMIT 10""".stripMargin)

  /** TPC-H Q18-shaped large-volume customers: orders whose total
    * line quantity exceeds 300, with their customer, date, and exact
    * integer totals — the "whales" report. The HAVING aggregate is ONE
    * map-side-combining per-order sum off the lineitem scan; its
    * surviving set is tiny by construction (selective threshold), so
    * AQE broadcasts it into orders and nothing else shuffles — at
    * 100 TB the per-order aggregate is the single fact exchange, the
    * customer dim broadcasts, and the top-100 runs as
    * TakeOrderedAndProject (only 100 rows reach the driver). Quantities
    * sum as exact integers, money as cents, dates as ISO strings
    * (timestamps hash differently across engines). */
  private def qBigOrders(s: SparkSession, d: String): DataFrame = {
    val bigQ = t(s, d, "lineitem").groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
      .filter(col("total_qty") > 300)
    t(s, d, "orders").join(bigQ, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        Relational.cents(col("o_totalprice")).as("totalprice_cents"),
        col("total_qty"))
      .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
      .limit(100)
  }
  // TPC-H Q18-shaped large-volume customers: per-order quantity sum
  // HAVING > 300, exact integer quantities + cents, ISO dates,
  // deterministic top-100 (ties broken by orderkey).
  query("q_big_orders", qBigOrders,
    """WITH bq AS (
      |  SELECT l_orderkey,
      |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) > 300)
      |SELECT c.c_name, o.o_custkey, o.o_orderkey,
      |       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
      |       bq.total_qty
      |FROM bq
      |JOIN orders o ON o.o_orderkey = bq.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |ORDER BY totalprice_cents DESC, o.o_orderkey
      |LIMIT 100""".stripMargin)

  /** TPC-H Q5-shaped local-supplier revenue: per-nation revenue
    * for ASIA-region customers served by a SAME-nation supplier within
    * one order year — the classic multi-dim star probe. Dim chain
    * region→nation broadcasts into customer and supplier; the
    * date-filtered orders⋈customer edge produces the (orderkey,
    * cust-nation) probe set (AQE broadcasts it at gate scale; at 100 TB
    * it is the one custkey shuffle, and lineitem⋈orders the one
    * orderkey shuffle); the supplier side broadcasts with the
    * same-nation equality folded into the join condition, so mismatched
    * rows never reach the aggregate. Revenue in exact fp4 BIGINT. */
  private def qRegionRevenue(s: SparkSession, d: String): DataFrame = {
    val natAsia = t(s, d, "nation")
      .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val custAsia = t(s, d, "customer")
      .join(broadcast(natAsia), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val suppAsia = t(s, d, "supplier")
      .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ordAsia = t(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (Relational.cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_fp4"))
      .join(ordAsia, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppAsia),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_fp4")).as("revenue_fp4"))
      .orderBy(col("revenue_fp4").desc, col("n_name"))
  }
  // TPC-H Q5-shaped local-supplier revenue: ASIA customers served by
  // a same-nation supplier within one order year, exact fp4 revenue.
  query("q_region_revenue", qRegionRevenue,
    """SELECT n.n_name,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
      |         AS revenue_fp4
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |                AND s.s_nationkey = c.c_nationkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY revenue_fp4 DESC, n_name""".stripMargin)

  /** TPC-H Q6-shaped revenue band: the canonical full-pushdown
    * aggregate — one scan with ALL THREE predicates (date window,
    * discount band, quantity cap) in PushedFilters feeding a single
    * 1-row map-side aggregate; no join, no shuffle beyond the final
    * 1-row combine. The raw-double band compare is identical on both
    * engines (same parquet doubles, same IEEE comparison); the money
    * aggregates in exact fp4 (cents × discount-cents). */
  private def qRevenueBand(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(Relational.cents(col("l_extendedprice")) *
          round(col("l_discount") * 100).cast("long")).as("revenue_fp4"),
        count(lit(1)).as("n_items"))
  // TPC-H Q6-shaped revenue band: full-pushdown 1-row aggregate,
  // exact fp4 (cents × discount-cents).
  query("q_revenue_band", qRevenueBand,
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_fp4,
      |       count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin)

  /** TPC-H Q14-shaped promo revenue share: the conditional-
    * aggregate-over-a-dim-join shape — one month of lineitem joined to
    * the broadcast part dim, promo vs total revenue in ONE aggregate
    * (two conditional sums, never two scans), share derived as exact
    * integer permille. At 100 TB part exceeds broadcast and the
    * partkey equi-join is the single fact shuffle. */
  private def qPromoShare(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp_ntz"))
      .select(col("l_partkey"),
        (Relational.cents(col("l_extendedprice")) *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_fp4"))
    li.join(broadcast(t(s, d, "part")
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))),
        col("l_partkey") === col("p_partkey"))
      .agg(coalesce(sum(when(col("is_promo"), col("rev_fp4"))), lit(0L))
          .as("promo_fp4"),
        sum(col("rev_fp4")).as("total_fp4"))
      .select(col("promo_fp4"), col("total_fp4"),
        expr("(1000 * promo_fp4) div total_fp4").as("promo_permille"))
  }
  // TPC-H Q14-shaped promo share: one conditional aggregate over the
  // month × part join, exact permille.
  query("q_promo_share", qPromoShare,
    """WITH j AS (
      |  SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |         * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_fp4,
      |         p.p_type = 'PROMO' AS is_promo
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      |    AND l.l_shipdate < TIMESTAMP '1996-10-01'),
      |a AS (SELECT CAST(COALESCE(sum(CASE WHEN is_promo THEN rev_fp4 END), 0)
      |                  AS BIGINT) AS promo_fp4,
      |             CAST(sum(rev_fp4) AS BIGINT) AS total_fp4
      |      FROM j)
      |SELECT promo_fp4, total_fp4,
      |       CAST((1000 * promo_fp4) // total_fp4 AS BIGINT) AS promo_permille
      |FROM a""".stripMargin)

  /** TPC-H Q16-shaped supplier-per-part census: distinct
    * suppliers per (brand, size) excluding one brand and the promo
    * type — the count-distinct-over-dim-join shape. The filtered part
    * dim broadcasts (its equality/inequality predicates push into the
    * scan); the distinct runs as Spark's two-level aggregate (partial
    * distinct on (group, supp) before the group shuffle). */
  private def qSupplierParts(s: SparkSession, d: String): DataFrame = {
    val pt = t(s, d, "part")
      .filter(col("p_type") =!= "PROMO" && col("p_brand") =!= "Brand#4")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }
  // TPC-H Q16-shaped supplier census: distinct suppliers per
  // (brand, size), promo type and one brand excluded.
  query("q_supplier_parts", qSupplierParts,
    """SELECT p.p_brand, p.p_size,
      |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_type <> 'PROMO' AND p.p_brand <> 'Brand#4'
      |GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)

  /** Benford first-digit audit: the leading-significant-digit
    * distribution of order totals — the classic fabricated-data /
    * ingest-corruption screen (organic multiplicative amounts follow
    * Benford's law; flat or spiked first digits say synthetic or
    * truncated money). Exact integer cents (the leading digit of
    * cents equals the leading digit of the positive amount — decimal
    * shifts preserve it), digit via one substring on the cast — ONE
    * map-side-combining aggregate to 9 rows plus a broadcast total.
    * The expected-frequency comparison (log₁₀(1+1/d)) stays out of the
    * hash gate — transcendental-free discipline. */
  private def qBenford(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "orders")
      .select(substring(Relational.cents(col("o_totalprice")).cast("string"),
        1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("nt"))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), expr("(1000 * n) div nt").as("permille"))
      .orderBy(col("digit"))
  }
  // Benford first-digit audit: leading digit of exact cents, counts +
  // permille; the log-expected comparison stays outside the gate.
  query("q_benford", qBenford,
    """WITH c AS (
      |  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |                     AS VARCHAR), 1, 1) AS digit
      |  FROM orders),
      |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
      |SELECT digit, n, CAST((1000 * n) // nt AS BIGINT) AS permille
      |FROM g, tot ORDER BY digit""".stripMargin)

  /** RFM user segmentation (see Relational.rfmSegments): exact
    * population quintiles on recency/frequency/monetary via three
    * global ranks of the user table; integer cents, packed rfm_code. */
  private def qRfmSegments(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events").select(col("user_id"),
      expr("ts div 1000").as("us"), col("value"))
    Relational.rfmSegments(e, "user_id", "us", "value")
      .withColumnRenamed("u", "user_id")
      .orderBy(col("user_id"))
  }
  // RFM quintiles: exact global rank by (metric ASC, user ASC) per
  // axis, quint = (rank-1)*5 // n + 1; monetary in exact integer
  // cents (round-half-away matches Spark's HALF_UP on both signs).
  query("q_rfm_segments", qRfmSegments,
    """WITH u AS (
      |  SELECT user_id AS u, max(epoch_us(ts)) AS rec,
      |         CAST(count(*) AS BIGINT) AS freq,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mon
      |  FROM events GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u),
      |r AS (SELECT u, row_number() OVER (ORDER BY rec, u) AS rk FROM u),
      |f AS (SELECT u, row_number() OVER (ORDER BY freq, u) AS rk FROM u),
      |m AS (SELECT u, row_number() OVER (ORDER BY mon, u) AS rk FROM u),
      |q AS (
      |  SELECT r.u,
      |         CAST((r.rk - 1) * 5 // nu + 1 AS INTEGER) AS r_quint,
      |         CAST((f.rk - 1) * 5 // nu + 1 AS INTEGER) AS f_quint,
      |         CAST((m.rk - 1) * 5 // nu + 1 AS INTEGER) AS m_quint
      |  FROM r JOIN f USING (u) JOIN m USING (u), n)
      |SELECT u AS user_id, r_quint, f_quint, m_quint,
      |       CAST(r_quint * 100 + f_quint * 10 + m_quint AS INTEGER) AS rfm_code
      |FROM q ORDER BY user_id""".stripMargin)

  /** Ordered conversion funnel (see Relational.funnelSteps):
    * view → click → purchase, each step the earliest qualifying event
    * strictly after the previous step within 24 h; per-step user counts
    * + exact integer latency sums. */
  private def qFunnelSteps(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events").select(col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    Relational.funnelSteps(e, "user_id", "us", "event_type",
        Seq("view", "click", "purchase"), stepWindow = 86400000000L)
      .orderBy(col("step"))
  }
  // Ordered conversion funnel: per-step state = (user, t1, t) with the
  // earliest qualifying event strictly after the previous step within
  // 24 h; per-step 1-row summaries unioned. sum(BIGINT) is HUGEINT in
  // DuckDB — cast back down.
  query("q_funnel_steps", qFunnelSteps,
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, event_type FROM events),
      |s1 AS MATERIALIZED (
      |  SELECT u, min(us) AS t1, min(us) AS t FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS MATERIALIZED (
      |  SELECT e.u, min(s1.t1) AS t1, min(e.us) AS t
      |  FROM e JOIN s1 ON e.u = s1.u
      |  WHERE e.event_type = 'click'
      |    AND e.us > s1.t AND e.us <= s1.t + 86400000000
      |  GROUP BY 1),
      |s3 AS MATERIALIZED (
      |  SELECT e.u, min(s2.t1) AS t1, min(e.us) AS t
      |  FROM e JOIN s2 ON e.u = s2.u
      |  WHERE e.event_type = 'purchase'
      |    AND e.us > s2.t AND e.us <= s2.t + 86400000000
      |  GROUP BY 1)
      |SELECT CAST(1 AS INTEGER) AS step, 'view' AS event_type,
      |       count(*) AS n_users, CAST(0 AS BIGINT) AS sum_latency_us
      |FROM s1
      |UNION ALL
      |SELECT CAST(2 AS INTEGER), 'click', count(*),
      |       CAST(COALESCE(sum(t - t1), 0) AS BIGINT) FROM s2
      |UNION ALL
      |SELECT CAST(3 AS INTEGER), 'purchase', count(*),
      |       CAST(COALESCE(sum(t - t1), 0) AS BIGINT) FROM s3
      |ORDER BY step""".stripMargin)

  /** Cohort retention matrix (see Relational.cohortRetention):
    * users cohorted by the epoch-week (integer µs div) of their first
    * event; (cohort_week, week_offset) active-user counts. */
  private def qCohortRetention(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events").select(col("user_id"),
      expr("ts div 1000").as("us"))
    Relational.cohortRetention(e, "user_id", "us")
      .orderBy(col("cohort_week"), col("week_offset"))
  }
  // Cohort retention: epoch-week = integer µs division (no calendar
  // semantics to diverge across engines).
  query("q_cohort_retention", qCohortRetention,
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
      |c AS (SELECT u, min(us) // 604800000000 AS cohort_week FROM e GROUP BY 1),
      |a AS (SELECT DISTINCT u, us // 604800000000 AS week FROM e)
      |SELECT cohort_week, CAST(week - cohort_week AS INTEGER) AS week_offset,
      |       count(*) AS n_users
      |FROM c JOIN a USING (u)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)

  /** First-order Markov event-transition matrix (see
    * Relational.eventTransitions): per-user consecutive event-type
    * pairs, counts + exact out-share permille. One user-keyed window
    * exchange, matrix-sized output. */
  private def qEventTransitions(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    Relational.eventTransitions(e, "user_id", "us", "event_type",
        tieBreak = col("event_id"))
      .orderBy(col("from_type"), col("to_type"))
  }
  // First-order Markov transitions: per-user lead() pairs, counts +
  // exact out-share permille (sum(BIGINT) is HUGEINT — cast down).
  query("q_event_transitions", qEventTransitions,
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, event_id, event_type
      |           FROM events),
      |p AS (SELECT event_type AS from_type,
      |             lead(event_type) OVER (PARTITION BY u ORDER BY us, event_id)
      |               AS to_type
      |      FROM e),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |       CAST((1000 * c.n) // t.n_out AS BIGINT) AS permille
      |FROM c JOIN tot t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin)

  /** Last-touch conversion attribution (see
    * Relational.lastTouchAttribution): each purchase credited to the
    * user's latest preceding non-purchase event type ('direct' when
    * none); conversions, exact revenue cents, share permille. */
  private def qAttribution(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"), col("value"))
    Relational.lastTouchAttribution(e, "user_id", "us", "event_type",
        "value", convType = "purchase", tieBreak = col("event_id"))
      .orderBy(col("touch_type"))
  }
  // Last-touch attribution: running last non-purchase type per user
  // (IGNORE NULLS over the strictly-preceding frame), 'direct' when
  // none; integer cents, share permille.
  query("q_attribution", qAttribution,
    """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us, event_id,
      |                  event_type, value FROM events),
      |t AS (SELECT event_type, value,
      |             last_value(CASE WHEN event_type <> 'purchase'
      |                             THEN event_type END IGNORE NULLS)
      |               OVER (PARTITION BY u ORDER BY us, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |               AS touch
      |      FROM e),
      |c AS (SELECT COALESCE(touch, 'direct') AS touch_type,
      |             CAST(count(*) AS BIGINT) AS n_conversions,
      |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |               AS revenue_cents
      |      FROM t WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_conversions) AS BIGINT) AS nt FROM c)
      |SELECT touch_type, n_conversions, revenue_cents,
      |       CAST((1000 * n_conversions) // nt AS BIGINT) AS share_permille
      |FROM c, tot ORDER BY touch_type""".stripMargin)

  /** DAU/WAU stickiness: per-day distinct actives over the
    * enclosing epoch-week's distinct actives, in exact integer permille
    * — the engagement-health ratio (how much of the weekly audience
    * shows up on a given day). Weeks are integer µs division like
    * q_cohort_retention (no calendar surface). Two distinct aggregates
    * over the event scan — both map-side combining on (period, user) —
    * then a broadcast join of the calendar-bounded week table onto the
    * calendar-bounded day table. At any corpus size the output is
    * bounded by days, and the corpus-sized work is the two distincts. */
  private def qStickiness(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
    val dau = e.distinct().groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = e.select(expr("day div 7").as("week"), col("user_id")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("wau"))
    dau.withColumn("week", expr("day div 7"))
      .join(broadcast(wau), Seq("week"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(1000 * dau) div wau").as("stickiness_permille"))
      .orderBy(col("day"))
  }
  // DAU/WAU stickiness: epoch-day and epoch-week integer division,
  // two distinct aggregates, permille ratio.
  query("q_stickiness", qStickiness,
    """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id AS u
      |           FROM events),
      |dau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS dau
      |        FROM e GROUP BY 1),
      |wau AS (SELECT day // 7 AS week, CAST(count(DISTINCT u) AS BIGINT) AS wau
      |        FROM e GROUP BY 1)
      |SELECT d.day, d.dau, w.wau,
      |       CAST((1000 * d.dau) // w.wau AS BIGINT) AS stickiness_permille
      |FROM dau d JOIN wau w ON d.day // 7 = w.week
      |ORDER BY d.day""".stripMargin)

  /** Exact per-group median at scale (see
    * Relational.groupedLowerMedian): median order total cents per
    * priority via ONE composite-key global range rank — never a
    * corpus-sized single-task group window. */
  private def qGroupedMedian(s: SparkSession, d: String): DataFrame =
    Relational.groupedLowerMedian(
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"),
          Relational.cents(col("o_totalprice")).as("cents")),
        "o_orderkey", "o_orderpriority", "cents")
      .withColumnRenamed("median", "median_cents")
      .orderBy(col("o_orderpriority"))
  // Exact per-group lower median: per-group rank (v, id), element at
  // (n+1)//2 — equals the engine's composite-key global-rank form.
  query("q_grouped_median", qGroupedMedian,
    """WITH o AS (SELECT o_orderpriority AS g,
      |                  CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |                  o_orderkey AS id
      |           FROM orders),
      |r AS (SELECT g, v,
      |             row_number() OVER (PARTITION BY g ORDER BY v, id) AS lr
      |      FROM o),
      |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows FROM o GROUP BY 1)
      |SELECT r.g AS o_orderpriority, c.n_rows,
      |       CAST(r.v AS BIGINT) AS median_cents
      |FROM r JOIN c ON r.g = c.g
      |WHERE r.lr = (c.n_rows + 1) // 2
      |ORDER BY o_orderpriority""".stripMargin)

  /** Session market-basket affinity: which event types co-occur
    * within a session beyond chance — lift·1000 = 1000·n_ab·n_sessions
    * div (n_a·n_b), the classic association readout (Agrawal & Srikant
    * 1994's support/lift, computed exactly). Sessions from the gap
    * sessionizer; per-session DISTINCT items (one row per (session,
    * type) — support semantics); the pair join is session-keyed with
    * fan-out ≤ |types|² per session (bounded), singles and the session
    * total are broadcast model-sized tables. Integer-exact UNDER THE
    * FENCE: Spark wraps a Long product silently where the oracle
    * (128-bit multiply) stays exact, so both products are
    * raise_error-fenced PER ROW at the overflow condition via
    * division-only bounds (n_ab > (2⁶³−1 div 1000) div n_sess, or
    * n_a > (2⁶³−1) div n_b — conservative by at most one unit of the
    * nested floor, and the fence arithmetic itself cannot wrap; the
    * unigram maxWordLen pattern): a violating corpus fails loudly
    * instead of hash-mismatching. The pair table this rides is
    * |types|²-bounded, so the fence costs two comparisons on a
    * model-sized frame. */
  private def qBasketAffinity(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("event_type"))
    val items = Relational.sessionize(e, "user_id", "us",
        gap = 30L * 60 * 1000000, tieBreak = col("event_id"))
      .select(col("user_id"), col("session_idx"), col("event_type")).distinct()
    val nSess = items.select(col("user_id"), col("session_idx")).distinct()
      .agg(count(lit(1)).as("n_sess"))
    val singles = items.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = items.as("a").join(items.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_idx") === col("b.session_idx") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(singles.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSess))
      .withColumn("_fence",
        // Column `/` is floating-point Divide — long operands
        // cast to double, and both bounds exceed 2^53, so the rounded
        // comparison could miss (or spuriously raise) near the boundary.
        // SQL `div` keeps the guard in LongType end to end; nested floor
        // stays conservative by at most one unit, and cannot wrap.
        when(expr("n_ab > (9223372036854775807L div 1000) div n_sess") ||
          expr("n_a > 9223372036854775807L div n_b"),
          raise_error(lit("qBasketAffinity: lift product exceeds Long "
            + "exactness (1000*n_ab*n_sess or n_a*n_b overflows)")).cast("int"))
          .otherwise(lit(0)))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        (expr("(1000 * n_ab * n_sess) div (n_a * n_b)") + col("_fence"))
          .as("lift_x1000"))
      .orderBy(col("type_a"), col("type_b"))
  }
  // Session basket affinity: gap-sessionized DISTINCT (session, type)
  // items, pair counts + exact lift·1000.
  query("q_basket_affinity", qBasketAffinity,
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |f AS (SELECT user_id, event_id, event_type, us,
      |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS ns
      |      FROM e),
      |g AS (SELECT user_id, event_type,
      |        sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sx
      |      FROM f),
      |it AS (SELECT DISTINCT user_id AS u, sx, event_type AS t FROM g),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sess
      |       FROM (SELECT DISTINCT u, sx FROM it)),
      |si AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM it GROUP BY 1),
      |pr AS (SELECT a.t AS type_a, b.t AS type_b, CAST(count(*) AS BIGINT) AS n_ab
      |       FROM it a JOIN it b ON a.u = b.u AND a.sx = b.sx AND a.t < b.t
      |       GROUP BY 1, 2)
      |SELECT pr.type_a, pr.type_b, pr.n_ab, sa.n AS n_a, sb.n AS n_b,
      |       CAST((1000 * pr.n_ab * ns.n_sess) // (sa.n * sb.n) AS BIGINT)
      |         AS lift_x1000
      |FROM pr JOIN si sa ON sa.t = pr.type_a
      |        JOIN si sb ON sb.t = pr.type_b, ns
      |ORDER BY type_a, type_b""".stripMargin)

  private def qSessionize(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
    Relational.sessionize(e, "user_id", "us",
        gap = 30L * 60 * 1000000, tieBreak = col("event_id"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_idx"))
  }
  // same flag-and-running-sum formulation as Relational.sessionize;
  // epoch_us(ts) matches Spark's `ts div 1000` on the nanos-as-long read
  query("q_sessionize", qSessionize,
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |f AS (SELECT user_id, event_id, us,
      |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS ns
      |      FROM e),
      |g AS (SELECT user_id, us,
      |        sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_idx
      |      FROM f)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |       min(us) AS session_start_us, max(us) AS session_end_us,
      |       count(*) AS n_events
      |FROM g GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin)

  /** E8 — JSON serialization (`to_json`): rows re-encoded as compact JSON
    * objects, the payload-envelope shape the reference keeps in its
    * raw_json column. Non-null fields only: Spark omits null fields where
    * DuckDB emits them, so the verified contract covers the common
    * (non-null) encoding both engines agree on byte-for-byte. */
  private def qJsonSerialize(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .filter(col("o_orderstatus").isNotNull)
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("payload"))
      .orderBy(col("o_orderkey"))
  query("q_json_serialize", qJsonSerialize,
    """SELECT o_orderkey,
      |       to_json(struct_pack(o_orderkey := o_orderkey,
      |                           o_orderstatus := o_orderstatus)) AS payload
      |FROM orders WHERE o_orderstatus IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin)

  private def qJsonExtract(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))
  query("q_json_extract", qJsonExtract,
    """SELECT event_id, event_type,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin)

  /** AS-OF JOIN: each event picks up the most recent order (at or before
    * the event time) of the same customer — union + running-last_value,
    * one shuffle (Relational.asOfJoin). The right side is deduplicated to
    * one order per (customer, date) so the tie-break is deterministic in
    * both engines. */
  private def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val events = t(s, d, "events")
      .select(col("event_id"), col("user_id"),
        // integer `div`, not `/`: double division loses ulps above 2^53 ns
        timestamp_micros(expr("ts div 1000")).as("ts"))
    val orders = Relational.latestPerKey(
      t(s, d, "orders").select(col("o_custkey"), col("o_orderdate"),
        col("o_orderkey"), col("o_totalprice")),
      Seq("o_custkey", "o_orderdate"), Seq(col("o_orderkey").desc))
      .withColumnRenamed("o_custkey", "user_id")
    Relational.asOfJoin(events, orders, "user_id", "ts", "o_orderdate",
      Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("event_id"))
  }
  query("q_asof_join", qAsofJoin,
    """WITH o1 AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                                 ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT e.event_id, e.user_id, o1.o_orderkey, o1.o_totalprice
      |FROM events e ASOF LEFT JOIN o1
      |  ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
      |ORDER BY e.event_id""".stripMargin)

  // Bucketed saves of orders+customer on the join key (8 buckets each
  // side): repeated joins on that key read co-located buckets with NO
  // exchange (the plan property IOSpec asserts); this registry query
  // proves result transparency of the bucketed layout. Unlike the copies
  // in Fs.derived's store, these are rewritten once per session: the
  // catalog entries they register live only as long as the session.
  private val bucketedMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), String]()

  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val tag = bucketedMemo.computeIfAbsent((System.identityHashCode(s), d), _ => {
      val t0 = java.lang.Integer.toHexString(d.hashCode)
      // a PREVIOUS session's managed-table files may survive in the
      // warehouse dir while the fresh in-memory catalog knows nothing of
      // them — drop both the entry and the location before (re)writing
      Seq(s"orders_bkt_$t0", s"customer_bkt_$t0").foreach { name =>
        s.sql(s"DROP TABLE IF EXISTS $name")
        val loc = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), name)
        graft.Fs.of(s, loc).delete(loc, true)
      }
      graft.sources.IO.writeBucketed(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          Relational.cents(col("o_totalprice")).as("price_cents")),
        s"orders_bkt_$t0", Seq("o_custkey"), nBuckets = 8)
      graft.sources.IO.writeBucketed(
        t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
        s"customer_bkt_$t0", Seq("c_custkey"), nBuckets = 8)
      t0
    })
    (s"orders_bkt_$tag", s"customer_bkt_$tag")
  }

  /** Join over the bucketed layout (see [[bucketedTables]]) — verified
    * against the plain-join oracle over the base tables. */
  private def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (ot, ct) = bucketedTables(s, d)
    s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("price_cents"),
        col("c_mktsegment"))
      .orderBy(col("o_orderkey"))
  }
  // q_bucketed_join reads the bucketed saves of orders/customer — the
  // oracle is the plain join over the base tables (result transparency
  // of the bucketed layout; the no-exchange plan is IOSpec-asserted).
  query("q_bucketed_join", qBucketedJoin,
    """SELECT o_orderkey, o_custkey,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |       c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin)

  /** Schema-evolution union (`unionByName(allowMissingColumns)`): an
    * old-generation batch without the price column unions a
    * new-generation batch that has it — the absent column null-extends,
    * the DataFrame-level twin of mergeSchema's footer union (spec:
    * IOSpec "mergeSchema reads a schema-drifted landing directory"). */
  private def qUnionEvolve(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val oldGen = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val newGen = orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"),
        Relational.cents(col("o_totalprice")).as("price_cents"))
    oldGen.unionByName(newGen, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }
  query("q_union_evolve", qUnionEvolve,
    """SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS price_cents
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |FROM orders WHERE o_orderkey % 2 <> 0
      |ORDER BY o_orderkey""".stripMargin)

  /** SLIDING event-time windows (size 2 h, slide 1 h — each event lands
    * in size/slide = 2 overlapping windows): the built-in `window()`
    * generator expands in-row, then ONE hash aggregate; the other window
    * flavors (tumbling: q_stream_window_counts, merging session:
    * q_session_window) are already under the
    * gate. Exact integer cents keep the overlap-duplicated sums
    * hash-stable. */
  private def qSlidingWindow(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_type"), col("value"),
        timestamp_micros(expr("ts div 1000")).as("tts"))
      .groupBy(window(col("tts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n_events"), col("value_cents"))
      .orderBy(col("window_start_us"), col("event_type"))
  // Sliding windows: size 2h / slide 1h ⇒ every event belongs to the
  // two hour-aligned windows covering it (epoch-aligned, same as
  // Spark's window() contract).
  query("q_sliding_window", qSlidingWindow,
    """WITH e AS (SELECT event_type, value,
      |                  (epoch_us(ts) // 3600000000) * 3600000000 AS h
      |           FROM events),
      |x AS (SELECT event_type, value, h - s * 3600000000 AS ws
      |      FROM e, (SELECT unnest([0, 1]) AS s))
      |SELECT ws AS window_start_us, ws + 7200000000 AS window_end_us,
      |       event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM x GROUP BY ws, event_type
      |ORDER BY window_start_us, event_type""".stripMargin)

  /** Deterministic hash-based train/validation/test split — the
    * reproducible corpus partitioning a training pipeline needs (stable
    * under re-runs, joins, and repartitioning, unlike randomSplit).
    * Hash = first 60 bits of md5(doc_id), engine-portable. */
  private def qTrainTestSplit(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    val pct = pmod(h, lit(100L))
    t(s, d, "documents")
      .select(col("doc_id"), pct.as("pct"),
        when(pct < 80, "train").when(pct < 90, "valid").otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }
  query("q_train_test_split", qTrainTestSplit,
    """SELECT doc_id,
      |       CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS pct,
      |       CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
      |            WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'valid'
      |            ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Generator/UDTF surface: positional explode of the embedding arrays
    * into (row, ordinal, component) — the lateral-view shape. */
  private def qPosexplode(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .withColumnRenamed("col", "component")
      .orderBy(col("vec_id"), col("pos"))
  query("q_posexplode", qPosexplode,
    """SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS pos, embedding[t.i] AS component
      |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      |ORDER BY vec_id, pos""".stripMargin)

  /** Join-key skew diagnostics — the pre-flight a 100 TB join runs
    * before picking salting/AQE strategy: per-key frequency histogram
    * (ONE map-side-partial exchange), then the top-5 heavy hitters with
    * corpus-level shape stats (key count, row count, max frequency,
    * max/mean skew in milli). The summary is a one-row broadcast onto
    * the 5-row heavy-hitter table; skew_milli divides by the INTEGER
    * mean (n_rows div n_keys ≥ 1) so the numerator stays BIGINT-safe at
    * any scale. */
  private def qSkewReport(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "events").groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val summary = c
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"), max(col("c")).as("max_c"))
      .select(col("n_keys"), col("n_rows"), col("max_c"),
        expr("max_c * 1000 div (n_rows div n_keys)").as("skew_milli"))
    c.orderBy(col("c").desc, col("user_id")).limit(5)
      .crossJoin(broadcast(summary))
      .select(col("user_id"), col("c").as("n_events"),
        expr("c * 1000 div n_rows").as("share_permille"),
        col("n_keys"), col("n_rows"), col("max_c"), col("skew_milli"))
      .orderBy(col("n_events").desc, col("user_id"))
  }
  // Skew diagnostics: per-key histogram, top-5 heavy hitters, shape
  // stats; skew divides by the integer mean to stay BIGINT-safe.
  query("q_skew_report", qSkewReport,
    """WITH c AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |             CAST(sum(c) AS BIGINT) AS n_rows,
      |             CAST(max(c) AS BIGINT) AS max_c FROM c),
      |t5 AS (SELECT user_id, c FROM c ORDER BY c DESC, user_id LIMIT 5)
      |SELECT t5.user_id, t5.c AS n_events,
      |       CAST(t5.c * 1000 // s.n_rows AS BIGINT) AS share_permille,
      |       s.n_keys, s.n_rows, s.max_c,
      |       CAST(s.max_c * 1000 // (s.n_rows // s.n_keys) AS BIGINT) AS skew_milli
      |FROM t5, s ORDER BY n_events DESC, user_id""".stripMargin)

  /** SCD1 MERGE: the pre-1997 latest-order-per-customer snapshot upserted
    * with the 1997+ orders, updates winning per customer. */
  private def qUpsert(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"), Relational.cents(col("o_totalprice")).as("price_cents"))
    val cut = to_timestamp(lit("1997-01-01"))
    val keyOrder = Seq(col("o_orderdate").desc, col("o_orderkey").desc)
    val base = Relational.latestPerKey(
      o.filter(col("o_orderdate") < cut), Seq("o_custkey"), keyOrder)
    Relational.upsert(base, o.filter(col("o_orderdate") >= cut),
        Seq("o_custkey"), keyOrder)
      .orderBy(col("o_custkey"))
  }
  query("q_upsert", qUpsert,
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |b AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, price_cents FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_custkey
      |                                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01')
      |  WHERE rn = 1),
      |u AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, price_cents FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_custkey
      |                                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM o WHERE o_orderdate >= TIMESTAMP '1997-01-01')
      |  WHERE rn = 1)
      |SELECT o_custkey, o_orderkey, o_orderdate, price_cents FROM u
      |UNION ALL
      |SELECT o_custkey, o_orderkey, o_orderdate, price_cents FROM b
      |WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.o_custkey = b.o_custkey)
      |ORDER BY o_custkey""".stripMargin)

  /** SCD2 historization of the order log: per customer, each order is
    * valid until the next one (valid_to NULL = current). */
  private def qScd2(s: SparkSession, d: String): DataFrame =
    Relational.historize(
      t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").as("valid_from"),
        Relational.cents(col("o_totalprice")).as("price_cents")),
      Seq("o_custkey"), "valid_from", col("o_orderkey"))
      .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
  query("q_scd2", qScd2,
    """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |       lead(o_orderdate) OVER (PARTITION BY o_custkey
      |                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |       lead(o_orderdate) OVER (PARTITION BY o_custkey
      |                               ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
      |FROM orders ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin)

  /** Hourly resample of the event stream per user with forward-filled
    * hour totals across gaps. */
  private def qResampleFfill(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
    Relational.resampleHourlyFfill(e, "user_id", "us", col("cents"))
      .orderBy(col("user_id"), col("h"))
  }
  // Hour totals are exact integer cents, so the forward-fill carries a
  // partition-order-independent value; leading empty hours stay NULL in
  // both engines.
  query("q_resample_ffill", qResampleFfill,
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |hv AS (SELECT user_id, h, CAST(sum(cents) AS BIGINT) AS v, count(*) AS n
      |       FROM e GROUP BY 1, 2),
      |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1),
      |spine AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM span),
      |j AS (SELECT s.user_id, s.h, hv.v, coalesce(hv.n, 0) AS n
      |      FROM spine s LEFT JOIN hv ON s.user_id = hv.user_id AND s.h = hv.h)
      |SELECT user_id, h, n, v,
      |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
      |FROM j ORDER BY user_id, h""".stripMargin)

  /** Percentile winsorization (clip at p1/p99) of the price column —
    * two-pass: 1-row exact-percentile stats broadcast back over the
    * scan. */
  private def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
      Relational.cents(col("l_extendedprice")).as("price_cents"))
    val stats = base.agg(
      expr("percentile(price_cents, 0.01)").as("p_lo"),
      expr("percentile(price_cents, 0.99)").as("p_hi"))
    base.crossJoin(broadcast(stats))
      .select(col("l_orderkey"), col("l_linenumber"), col("price_cents"),
        when(col("price_cents") < col("p_lo"), col("p_lo"))
          .when(col("price_cents") > col("p_hi"), col("p_hi"))
          .otherwise(col("price_cents").cast("double")).as("clipped"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }
  query("q_winsorize", qWinsorize,
    """WITH b AS (
      |  SELECT l_orderkey, l_linenumber,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      |  FROM lineitem),
      |st AS (SELECT quantile_cont(price_cents, 0.01) AS p_lo,
      |              quantile_cont(price_cents, 0.99) AS p_hi FROM b)
      |SELECT l_orderkey, l_linenumber, price_cents,
      |       CASE WHEN price_cents < p_lo THEN p_lo
      |            WHEN price_cents > p_hi THEN p_hi
      |            ELSE CAST(price_cents AS DOUBLE) END AS clipped
      |FROM b, st ORDER BY l_orderkey, l_linenumber""".stripMargin)
}
