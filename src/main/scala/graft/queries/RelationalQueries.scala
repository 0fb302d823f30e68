package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core over the TPC-H-ish tables: scan+filter+agg, multi-way
  * joins with broadcast dims, windows, anti joins. These exercise the
  * operator classes of SURVEY §2.1-2.7 on the driver testdata.
  */
object RelationalQueries {
  import Helpers._

  val all: Seq[Q] = Seq(q110, q125, q126, q206, q211) ++ Seq(

    // Pricing summary (TPC-H Q1 shape): scan → filter (pushed to parquet)
    // → hash agg with map-side combine → tiny sort.
    Q("q01_pricing_summary", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      s"""SELECT l_returnflag, l_linestatus,
         | ${dsumSql("l_quantity")} AS sum_qty,
         | ${dsumSql("l_extendedprice")} AS sum_base_price,
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         | ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         | ${davgSql("l_quantity")} AS avg_qty,
         | ${davgSql("l_discount")} AS avg_disc,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Revenue by nation: lineitem ⋈ orders ⋈ customer shuffle joins on
    // keys, nation broadcast (25 rows — broadcast at any scale).
    Q("q02_revenue_by_nation", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(desc("revenue"), asc("n_name"))
    }, Some(
      s"""SELECT n_name,
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         | count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name ASC""".stripMargin)),

    // Top-3 orders per customer: ranking window (shuffle on o_custkey,
    // in-partition sort — no global sort).
    Q("q03_top_orders_per_customer", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("price"), col("rn"))
        .orderBy("o_custkey", "rn")
    }, Some(
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Customers with no high-value order: left-anti join (NOT EXISTS)
    // with a pushed-down predicate on the probe side.
    Q("q04_customers_without_orders", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)),

    // Order priority by region: two broadcast dims chained below a
    // shuffle join, count-only aggregate.
    Q("q05_priority_by_region", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("r_name", "o_orderpriority")
    }, Some(
      s"""SELECT r_name, o_orderpriority, count(*) AS n,
         | ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, o_orderpriority
         |ORDER BY r_name, o_orderpriority""".stripMargin)),

    // Left-semi join (EXISTS): customers holding at least one
    // high-value order — complement of q04's anti join.
    Q("q09_customers_with_orders", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)),

    // Scalar-subquery predicate: parts priced above the global mean
    // (exact decimal mean broadcast over the scan).
    Q("q27_parts_above_avg", (s, dir) => {
      val p = Tables.part(s, dir)
      val stats = p.agg(
        (sum(col("p_retailprice").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double") / count(lit(1))).as("avg_price"))
      p.crossJoin(broadcast(stats))
        .filter(col("p_retailprice") > col("avg_price"))
        .select(col("p_partkey"), round(col("p_retailprice"), 4).as("price"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey, round(p_retailprice, 4) AS price FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(20,6))) AS DOUBLE) / count(*)
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin)),

    // Month-bucketed revenue trend: date_trunc + exact decimal sums.
    Q("q28_monthly_revenue", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(unix_timestamp(date_trunc("month", col("l_shipdate"))).as("month_epoch"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("month_epoch")
    }, Some(
      s"""SELECT CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS month_epoch,
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         | count(*) AS n_lines
         |FROM lineitem GROUP BY 1 ORDER BY month_epoch""".stripMargin)),

    // Set operations: segments served in both nation halves, and the
    // one-sided remainders (INTERSECT / EXCEPT distinct semantics).
    Q("q07_segment_set_ops", (s, dir) => {
      val c = Tables.customer(s, dir)
      val lo = c.filter(col("c_nationkey") < 12).select("c_mktsegment")
      val hi = c.filter(col("c_nationkey") >= 12).select("c_mktsegment")
      lo.intersect(hi).withColumn("side", lit("both"))
        .unionAll(lo.except(hi).withColumn("side", lit("low_only")))
        .unionAll(hi.except(lo).withColumn("side", lit("high_only")))
        .orderBy("side", "c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, side FROM (
        |  SELECT c_mktsegment, 'both' AS side FROM (
        |    SELECT c_mktsegment FROM customer WHERE c_nationkey < 12
        |    INTERSECT SELECT c_mktsegment FROM customer WHERE c_nationkey >= 12)
        |  UNION ALL SELECT c_mktsegment, 'low_only' FROM (
        |    SELECT c_mktsegment FROM customer WHERE c_nationkey < 12
        |    EXCEPT SELECT c_mktsegment FROM customer WHERE c_nationkey >= 12)
        |  UNION ALL SELECT c_mktsegment, 'high_only' FROM (
        |    SELECT c_mktsegment FROM customer WHERE c_nationkey >= 12
        |    EXCEPT SELECT c_mktsegment FROM customer WHERE c_nationkey < 12))
        |ORDER BY side, c_mktsegment""".stripMargin)),

    // Rollup: region × priority counts with subtotals and grand total;
    // grouping nulls coalesced to 'ALL' so null-ordering semantics never
    // enter the comparison.
    Q("q08_rollup_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      // SQL ROLLUP: the Dataset rollup API false-positives Spark's
      // ambiguous-self-join detector under this join shape (Expand
      // re-tags the grouping attributes); GROUP BY ROLLUP does not.
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView("q08_joined")
      s.sql(
        """SELECT coalesce(r_name, 'ALL') AS region,
          | coalesce(o_orderpriority, 'ALL') AS priority,
          | count(*) AS n,
          | round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE), 4) AS total
          |FROM q08_joined GROUP BY ROLLUP (r_name, o_orderpriority)
          |ORDER BY region, priority""".stripMargin)
    }, Some(
      s"""SELECT coalesce(r_name, 'ALL') AS region,
         | coalesce(o_orderpriority, 'ALL') AS priority,
         | count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, o_orderpriority)
         |ORDER BY region, priority""".stripMargin)),

    // Part-type market share: join to a mid-size dim + conditional agg.
    Q("q06_brand_type_share", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          dsum(when(col("l_returnflag") === "R",
            col("l_extendedprice")).otherwise(lit(0.0))).as("returned_value"),
          count(lit(1)).as("n_lines"))
        .orderBy("p_brand", "p_type")
    }, Some(
      s"""SELECT p_brand, p_type,
         | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         | ${dsumSql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END")} AS returned_value,
         | count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand, p_type
         |ORDER BY p_brand, p_type""".stripMargin)),

    // SQL-surface entry point: the engine's tables registered as views
    // and queried through spark.sql — ONE query text executed verbatim by
    // both Catalyst and DuckDB (shared dialect subset: decimal casts,
    // timestamp literals, alias ordering). TPC-H Q3's shape: segment
    // filter → 3-way join → grouped revenue → top-10. Catalyst plans the
    // same broadcast/shuffle physical ops as the DataFrame queries — the
    // SQL front end costs nothing at scale.
    Q("q105_sql_tpch3", { (s, dir) =>
      Seq("customer", "orders", "lineitem")
        .foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t))
      s.sql(Tpch3Sql)
    }, Some(Tpch3Sql)))

  // def, not val: referenced from `all`'s initializer above
  private def Tpch3Sql: String =
    s"""SELECT o_orderkey,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       | count(*) AS n_items
       |FROM customer, orders, lineitem
       |WHERE c_mktsegment = 'BUILDING'
       |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
       |GROUP BY o_orderkey
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  // TPC-H Q5 shape: the 5-table star join (region→nation→customer→
  // orders→lineitem→supplier) with the classic "local supplier" predicate
  // (customer and supplier share a nation) — the join-order stressor
  // every optimizer benchmark leans on. Catalyst broadcasts the three
  // small dims and shuffle-joins the two facts; revenue per nation over
  // one region-year slice.
  private def q125: Q = Q("q125_tpch5_local_supplier", (s, dir) => {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
    val customer = Tables.customer(s, dir)
    val supplier = Tables.supplier(s, dir)
    val orders = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = Tables.lineitem(s, dir)
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .select(col("nation"), col("revenue"), col("n_items"))
      .orderBy(desc("revenue"), col("nation"))
  }, Some(
    s"""SELECT n_name AS nation,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       | count(*) AS n_items
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC, nation""".stripMargin))

  // TPC-H Q10 (returned-item reporting): customers who returned items in
  // one quarter ranked by lost revenue — the classic fact-fact-dim star
  // with a selective fact predicate (returnflag pushed INTO the lineitem
  // scan) and a top-k cutoff. Catalyst broadcasts nation, shuffle-joins
  // orders⋈lineitem on the order key; TakeOrderedAndProject caps the
  // result without a global sort.
  private def q206: Q = Q("q206_tpch10_returned_items", (s, dir) => {
    val orders = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("nation"),
        col("revenue"), col("n_items"))
  }, Some(
    s"""SELECT c_custkey, c_name, n_name AS nation,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       | count(*) AS n_items
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin))

  // Aggregation-based top-k per group — the WINDOW-FREE top-k: rank
  // brands per nation by purchase count via sort_array + slice over a
  // per-group collected array of (count, brand) structs. The collected
  // array is a per-group buffer that cannot spill; it is safe here only
  // because its input is already aggregated, so a nation holds at most
  // its distinct-brand census (25 TPC-H brands). The general form is
  // q03/q157's row_number window: Spark 4 plans its rank filter as a
  // WindowGroupLimit that keeps k rows per group in each partition
  // before the exchange, and its buffers spill. Output exploded back
  // to rows.
  private def q211: Q = Q("q211_group_topk_agg", (s, dir) => {
    // orders/customer/part are fact-scaled — no broadcast hints; AQE
    // broadcasts when a side fits and shuffle-joins at 100 TB
    val cells = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("c_nationkey"), col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
    cells.groupBy("c_nationkey")
      .agg(slice(sort_array(collect_list(
        struct((-col("cnt")).as("nc"), col("p_brand").as("b")))), 1, 3)
        .as("top"))
      .select(col("c_nationkey").cast("long").as("nationkey"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("nationkey"), (col("pos") + 1).cast("long").as("rank"),
        col("t.b").as("brand"), (-col("t.nc")).as("n_purchases"))
      .orderBy("nationkey", "rank")
  }, Some(
    """WITH cells AS (SELECT c_nationkey, p_brand, count(*) AS cnt
      |  FROM lineitem
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN customer ON c_custkey = o_custkey
      |    JOIN part ON p_partkey = l_partkey
      |  GROUP BY c_nationkey, p_brand),
      |r AS (SELECT c_nationkey, p_brand, cnt, row_number() OVER
      |    (PARTITION BY c_nationkey ORDER BY cnt DESC, p_brand) AS rk
      |  FROM cells)
      |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |  CAST(rk AS BIGINT) AS rank, p_brand AS brand,
      |  CAST(cnt AS BIGINT) AS n_purchases
      |FROM r WHERE rk <= 3 ORDER BY nationkey, rank""".stripMargin))

  // Bag-semantics set operations (q07 covers the DISTINCT forms):
  // INTERSECT ALL / EXCEPT ALL over the per-order priority multiset of
  // two order-status slices — multiplicities preserved, summarized as a
  // census per priority. Spark's intersectAll/exceptAll desugar to the
  // same min/difference-of-counts the oracle spells out.
  private def q126: Q = Q("q126_bag_set_ops", (s, dir) => {
    val o = Tables.orders(s, dir)
    val a = o.filter(col("o_orderstatus") === "F").select("o_orderpriority")
    val b = o.filter(col("o_orderstatus") === "O").select("o_orderpriority")
    val inter = a.intersectAll(b).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_intersect_all"))
    val diff = a.exceptAll(b).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_except_all"))
    inter.join(diff, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"))
      .orderBy("o_orderpriority")
  }, Some(
    """WITH a AS (SELECT o_orderpriority, count(*) AS ca FROM orders
      |           WHERE o_orderstatus = 'F' GROUP BY o_orderpriority),
      |b AS (SELECT o_orderpriority, count(*) AS cb FROM orders
      |      WHERE o_orderstatus = 'O' GROUP BY o_orderpriority)
      |SELECT o_orderpriority,
      |  CAST(CASE WHEN ca IS NULL OR cb IS NULL THEN 0
      |       ELSE least(ca, cb) END AS BIGINT) AS n_intersect_all,
      |  CAST(CASE WHEN ca IS NULL THEN 0
      |       ELSE greatest(ca - coalesce(cb, 0), 0) END AS BIGINT)
      |    AS n_except_all
      |FROM a FULL OUTER JOIN b USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin))

  // Ordered string aggregation (LISTAGG): per market segment, the
  // lexicographically-first 3 customer names joined with '|'. collect_list
  // is partition-order-nondeterministic, so the list is sorted before
  // slicing — the portability contract every warehouse's LISTAGG ...
  // WITHIN GROUP (ORDER BY) makes explicit. One shuffle; group state is
  // bounded by the slice only after collect, so at 100 TB the real
  // plan bounds it earlier with a per-group top-k (cf. q03's window) —
  // documented here, exercised there.
  // (def, not val: referenced from `all`'s initializer above)
  private def q110: Q = Q("q110_string_agg", (s, dir) => {
    Tables.customer(s, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        array_join(slice(array_sort(collect_list(col("c_name"))), 1, 3), "|")
          .as("first_names"))
      .orderBy("c_mktsegment")
  }, Some(
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  array_to_string(list_sort(list(c_name))[1:3], '|') AS first_names
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))
}
