package graft.queries

import graft.sources.{Staging, Tables}
import graft.text.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-distribution and layout operators: quantile bucketing, telemetry
  * debounce, CDC-style latest-state compaction, bounded edit-distance
  * screening, and bucketed-table co-located joins. All exactly
  * oracle-checked.
  */
object LayoutQueries {
  import Helpers._

  /** SCD2 interval build shared by q86 (the dimension itself) and q130
    * (the point-in-time lookup against it). Open intervals carry
    * sentinel -1, not NULL: a nullable BIGINT column degrades to
    * float64+NaN in the driver's pandas compare.
    */
  private[queries] def scd2Intervals(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    EventQueries.events(s, dir)
      .withColumn("us", expr("ts div 1000"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("next_us", lead("us", 1).over(w))
      .select(col("user_id"), col("event_id").as("change_id"),
        col("event_type").as("state"), col("us").as("valid_from_us"),
        coalesce(col("next_us") - 1, lit(-1L)).as("valid_to_us"),
        when(col("next_us").isNull, 1L).otherwise(0L).as("is_current"))
  }

  /** The q86 oracle's interval CTEs, shared with q130's oracle. */
  private[queries] def scd2Cte: String =
    """e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |           FROM events),
      |ch AS (SELECT * FROM (
      |    SELECT user_id, event_id, event_type, us,
      |      lag(event_type) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS prev
      |    FROM e)
      |  WHERE prev IS NULL OR prev <> event_type),
      |iv AS (SELECT user_id, event_id, event_type, us,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
      |  FROM ch),
      |scd2 AS (SELECT user_id, event_id AS change_id, event_type AS state,
      |    us AS valid_from_us,
      |    CAST(coalesce(next_us - 1, -1) AS BIGINT) AS valid_to_us,
      |    CAST(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |      AS is_current
      |  FROM iv)""".stripMargin

  val all: Seq[Q] = Seq(

    // Price deciles WITHOUT a global sort: exact percentile boundaries
    // (one aggregate), broadcast to a row-level bucket assignment. An
    // ntile() window would coalesce every row into one partition — this
    // form scans once and shuffles only the 10-row aggregate, the shape
    // that survives 100 TB.
    Q("q71_price_deciles", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      val b = o.agg(percentile(col("o_totalprice"),
        lit((1 to 9).map(_ / 10.0).toArray)).as("bs"))
      o.crossJoin(broadcast(b))
        .select(col("o_totalprice"),
          (size(filter(col("bs"), x => col("o_totalprice") > x)) + 1)
            .cast("long").as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("decile")
    }, Some(
      """WITH b AS (SELECT quantile_cont(o_totalprice,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM orders)
        |SELECT CAST(len(list_filter(bs, x -> o_totalprice > x)) + 1 AS BIGINT) AS decile,
        |  count(*) AS n, round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Telemetry debounce: drop events within 500 ms of the previous raw
    // event of the same (user, type). Keyed lag window — partitions by
    // the natural key, no global state. Gaps are measured in MICROS on
    // both sides (DuckDB truncates parquet TIMESTAMP(NANOS) to micros on
    // read, so a nano-resolution gap test cannot be mirrored).
    Q("q72_debounce", (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
      EventQueries.events(s, dir)
        .withColumn("us", expr("ts div 1000"))
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("keep",
          col("prev").isNull || col("us") - col("prev") >= lit(500000L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(*) AS n_total,
        |  CAST(sum(CASE WHEN prev IS NULL OR us - prev >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM (SELECT event_type, epoch_us(ts) AS us,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                                ORDER BY epoch_us(ts), event_id) AS prev
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Latest-state compaction (CDC/upsert primitive): one row per user —
    // the most recent event, ties broken by event_id. max(struct(...))
    // aggregates with a map-side partial phase: no window, no shuffle of
    // the full history, only per-partition winners cross the wire.
    // Recency is compared in MICROS on both sides: DuckDB truncates
    // parquet TIMESTAMP(NANOS) to micros on read, so sub-microsecond
    // ordering cannot be mirrored — the micro+event_id key is the finest
    // engine-neutral ordering.
    Q("q73_latest_state", (s, dir) => {
      EventQueries.events(s, dir)
        .groupBy("user_id")
        .agg(max(struct(expr("ts div 1000").as("us"), col("event_id"),
          col("event_type"), col("value"))).as("m"))
        .select(col("user_id"), col("m.us").as("last_ts_us"),
          col("m.event_id").as("last_event_id"),
          col("m.event_type").as("last_type"),
          round(col("m.value"), 4).as("last_value"))
        .orderBy("user_id")
    }, Some(
      """SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
        |  event_type AS last_type, round(value, 4) AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Bounded edit-distance screen over adjacent doc ids (the blocked
    // form of fuzzy near-dup): Levenshtein on a fixed 60-char prefix of
    // cleaned text keeps per-pair cost constant regardless of doc size.
    Q("q74_editdist_pairs", (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          substring(TextOps.cleanText(col("text")), 1, 60).as("t"))
      val nxt = d.select((col("doc_id") - 1).as("doc_id"), col("t").as("t2"))
      d.join(nxt, "doc_id")
        .select(col("doc_id"), levenshtein(col("t"), col("t2")).cast("long").as("dist"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, substr(${cleanTextSql("text")}, 1, 60) AS t
         |           FROM documents)
         |SELECT a.doc_id AS doc_id,
         |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
         |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_id""".stripMargin)),

    // Bucketed-table co-located join: both sides written bucketBy(8) +
    // sortBy on the join key, so the sort-merge join consumes bucket
    // files directly — NO Exchange on either input (asserted in
    // LayoutSpec). The pre-shuffled-layout pattern that amortizes one
    // write-time shuffle across every later join at 100 TB.
    Q("q75_bucketed_join", (s, dir) => {
      val base = Staging.scratchDir("buckets").toString
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS customer_b")
      Tables.orders(s, dir).select("o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$base/orders_b")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
      Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").option("path", s"$base/customer_b")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
      s.table("orders_b")
        .join(s.table("customer_b"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }, Some(
      s"""SELECT c_mktsegment, count(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Z-order (Morton) layout clustering: scale two dimensions to 8-bit
    // cells against their global min/max, interleave the bits into a
    // 16-bit curve code, and report per-tile occupancy + dimension
    // ranges (the locality evidence). Sorting 100 TB of parts by this
    // code gives every 2-D range predicate contiguous file-level min/max
    // pruning — the multi-dimensional analogue of q75's bucketing. The
    // bit interleave is generated from ONE Scala loop for both engines.
    Q("q85_zorder_layout", (s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_size").cast("double").as("x"),
          col("p_retailprice").cast("double").as("y"))
      val stats = p.agg(min("x").as("lox"), max("x").as("hix"),
        min("y").as("loy"), max("y").as("hiy"))
      def cell(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
          hi: org.apache.spark.sql.Column) =
        least(floor((v - lo) / ((hi - lo) + lit(1e-9)) * lit(256.0)), lit(255L))
      val withCells = p.crossJoin(broadcast(stats))
        .select(col("p_partkey"),
          cell(col("x"), col("lox"), col("hix")).as("cx"),
          cell(col("y"), col("loy"), col("hiy")).as("cy"))
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(col("cx"), i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(col("cy"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
      withCells.withColumn("zcode", z)
        .groupBy(expr("zcode div 64").as("tile"))
        .agg(count(lit(1)).as("n"),
          min("cx").as("min_cx"), max("cx").as("max_cx"),
          min("cy").as("min_cy"), max("cy").as("max_cy"))
        .orderBy("tile")
    }, Some {
      val zSql = (0 until 8).map { i =>
        s"(((cx >> $i) & 1) << ${2 * i}) + (((cy >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      val cellSql = (v: String, lo: String, hi: String) =>
        s"least(CAST(floor(($v - $lo) / (($hi - $lo) + 1e-9) * 256.0) AS BIGINT), 255)"
      s"""WITH p AS (SELECT p_partkey, CAST(p_size AS DOUBLE) AS x,
         |             CAST(p_retailprice AS DOUBLE) AS y FROM part),
         |st AS (SELECT min(x) AS lox, max(x) AS hix,
         |              min(y) AS loy, max(y) AS hiy FROM p),
         |cells AS (SELECT p_partkey,
         |    ${cellSql("x", "lox", "hix")} AS cx,
         |    ${cellSql("y", "loy", "hiy")} AS cy
         |  FROM p CROSS JOIN st),
         |zc AS (SELECT p_partkey, cx, cy, $zSql AS zcode FROM cells)
         |SELECT CAST(zcode // 64 AS BIGINT) AS tile, count(*) AS n,
         |  min(cx) AS min_cx, max(cx) AS max_cx,
         |  min(cy) AS min_cy, max(cy) AS max_cy
         |FROM zc GROUP BY 1 ORDER BY tile""".stripMargin
    }),

    // SCD2 dimension build from the CDC event stream: collapse repeated
    // states per user (keyed lag), then stamp validity intervals with a
    // keyed lead — valid_to is open (null) on the current row. Two
    // windows over one shuffle on user_id; at 100 TB the state history
    // per key is what moves, never the full fact stream. Micros on both
    // sides (DuckDB truncates TIMESTAMP(NANOS) on read).
    Q("q86_scd2_intervals", (s, dir) => {
      scd2Intervals(s, dir)
        .orderBy("user_id", "valid_from_us", "change_id")
    }, Some(
      s"""WITH $scd2Cte
         |SELECT user_id, change_id, state, valid_from_us, valid_to_us,
         |  is_current
         |FROM scd2 ORDER BY user_id, valid_from_us, change_id""".stripMargin)),

    // Point-in-time (as-of state) lookup against the SCD2 dimension —
    // the feature-store join: for every purchase, the user's state ONE
    // HOUR BEFORE the purchase, resolved by validity interval. SCD2
    // intervals are contiguous and disjoint per user (valid_to =
    // next_from − 1), so "the interval containing pit" is exactly "the
    // last state change at-or-before pit" — resolved by the q42
    // tagged-union + running-last window, one shuffle on user_id and
    // LINEAR per-user cost. (The equi-join-with-interval-residual
    // formulation forms probes × intervals pairs per user before the
    // residual filters them — quadratic in one user's history, a
    // measured hot spot on the SkewGen corpus.) State rows sort before
    // probes at equal time (src tag), and among same-microsecond state
    // changes the highest change_id wins — both matching the interval
    // semantics (a change at exactly pit applies; a same-instant
    // superseded change has an empty interval). Purchases before the
    // user's first recorded state land in '(none)'.
    Q("q130_pit_join", (s, dir) => {
      val HourUs = 3600L * 1000000L
      val iv = scd2Intervals(s, dir)
        .select(col("user_id"), col("valid_from_us").as("t"),
          lit(0).as("src"), col("change_id").as("tie"), col("state"),
          lit(null).cast("long").as("event_id"))
      val probes = EventQueries.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), (expr("ts div 1000") - HourUs).as("t"),
          lit(1).as("src"), lit(Long.MaxValue).as("tie"),
          lit(null).cast("string").as("state"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy("t", "src", "tie")
        .rowsBetween(Window.unboundedPreceding, 0)
      iv.unionByName(probes)
        .withColumn("st", last(col("state"), ignoreNulls = true).over(w))
        .filter(col("src") === 1)
        .select(coalesce(col("st"), lit("(none)")).as("st"))
        .groupBy(col("st").as("state_1h_before_purchase"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("state_1h_before_purchase")
    }, Some(
      s"""WITH $scd2Cte,
         |probes AS (SELECT user_id, event_id, epoch_us(ts) - 3600000000 AS pit_us
         |           FROM events WHERE event_type = 'purchase'),
         |m AS (SELECT p.event_id, coalesce(s.state, '(none)') AS st
         |      FROM probes p LEFT JOIN scd2 s ON p.user_id = s.user_id
         |        AND s.valid_from_us <= p.pit_us
         |        AND (s.valid_to_us = -1 OR p.pit_us <= s.valid_to_us))
         |SELECT st AS state_1h_before_purchase, count(*) AS n_purchases
         |FROM m GROUP BY st ORDER BY state_1h_before_purchase""".stripMargin)),

    // Zone-map / data-skipping audit: per month-zone min/max statistics
    // (the footer stats a parquet writer keeps per row group) and
    // whether each zone is prunable under two predicates — a date range
    // (aligned with the layout → prunes) and a price threshold
    // (uncorrelated with the layout → does not). The ANALYZE-side
    // complement of q62's partition-pruned scan and q85's Z-order: at
    // 100 TB this one aggregate tells you which columns benefit from
    // re-clustering before you pay for it.
    Q("q153_zone_map", (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("year"),
          month(col("o_orderdate")).cast("long").as("month"))
        .agg(count(lit(1)).as("n_rows"),
          round(min("o_totalprice"), 2).as("min_price"),
          round(max("o_totalprice"), 2).as("max_price"),
          when(max(col("o_orderdate")) < lit("1997-01-01").cast("timestamp"), 1L)
            .otherwise(0L).as("prune_date"),
          when(max(col("o_totalprice")) <= 450000.0, 1L).otherwise(0L)
            .as("prune_price"))
        .orderBy("year", "month")
    }, Some(
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
        |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS month,
        |  count(*) AS n_rows,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  CAST(CASE WHEN max(o_orderdate) < TIMESTAMP '1997-01-01'
        |       THEN 1 ELSE 0 END AS BIGINT) AS prune_date,
        |  CAST(CASE WHEN max(o_totalprice) <= 450000.0
        |       THEN 1 ELSE 0 END AS BIGINT) AS prune_price
        |FROM orders GROUP BY 1, 2 ORDER BY year, month""".stripMargin)),

    // Small-file compaction — the operational layout problem every
    // 100 TB lake hits: a fragmented write (repartition(64) → 64 files,
    // round-robin so no partition is empty) is compacted with
    // repartition(4) → 4 files. Not coalesce(4): a narrow coalesce can
    // only merge the scan's partitions, and a scan that packs the 64
    // small files into fewer than 4 splits (2 at 2 cores) would write
    // fewer files; a by-number repartition always yields exactly 4,
    // and AQE does not coalesce it. The audit scans both layouts back
    // and proves losslessness with exact counts and decimal sums; file
    // counts are part of the contract (deterministic by construction)
    // — the pattern behind OPTIMIZE/auto-compaction jobs.
    Q("q161_compaction", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      val frag = Staging.scratchDir("frag").toString
      val comp = Staging.scratchDir("comp").toString
      li.repartition(64).write.mode("overwrite").parquet(frag)
      s.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(comp)
      def audit(path: String, stage: String) =
        s.read.parquet(path)
          .withColumn("f", input_file_name()) // project first: not legal
          .agg(                               // directly under the agg
            countDistinct(col("f")).as("n_files"),
            count(lit(1)).as("n_rows"),
            round(sum(col("l_quantity").cast(DecimalType(20, 6)))
              .cast("double"), 4).as("total_qty"))
          .select(lit(stage).as("stage"), col("n_files"), col("n_rows"),
            col("total_qty"))
      audit(frag, "1_fragmented").unionByName(audit(comp, "2_compacted"))
        .orderBy("stage")
    }, Some(
      """SELECT '1_fragmented' AS stage, CAST(64 AS BIGINT) AS n_files,
        |  count(*) AS n_rows,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 4)
        |    AS total_qty
        |FROM lineitem
        |UNION ALL
        |SELECT '2_compacted', CAST(4 AS BIGINT), count(*),
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE), 4)
        |FROM lineitem
        |ORDER BY stage""".stripMargin)))
}
