package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical / reshaping operators done scale-safely: moments from
  * exact integer sums (order-independent, so results are identical on
  * any partitioning AND in the DuckDB oracle), pivot, time-series
  * gap-fill, and a partitioned sink with a pruned scan back.
  */
object StatQueries {
  import Helpers._

  private val NanosPerDayQ172 = 86400L * 1000000000L

  /** Oracle twin of [[Helpers.exactMoments]] over a preceding `m(x, y)`
    * CTE (q44, q149): the sums in `a`, and in `d` as doubles with the
    * count as `nd`.
    */
  private val momentsSql =
    """a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |  sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM m),
      |d AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
      |  CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
      |  CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
      |  CAST(syy AS DOUBLE) AS syy FROM a)""".stripMargin

  val all: Seq[Q] = Seq(

    // Pearson correlation + population covariance of price vs size via
    // exact integer moments: built-in corr()/covar_pop() accumulate
    // doubles in partition order (nondeterministic at scale and
    // unmatchable cross-engine); n/Σx/Σy/Σxy/Σx²/Σy² as exact integers
    // make the statistic bit-reproducible. One map-side-combinable
    // aggregate, no second pass.
    Q("q44_price_stats", (s, dir) => {
      val p = Tables.part(s, dir).select(
        micros(col("p_retailprice")).as("x"),
        micros(col("p_size").cast("double")).as("y"))
      val (n, sx, sy, sxy, sxx, syy) = momentsAsDouble
      exactMoments(p, col("x"), col("y")).select(col("n"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6).as("corr"),
        round((sxy / n - (sx / n) * (sy / n)) / 1e12, 4).as("covar_pop"),
        round(sqrt(sxx / n - (sx / n) * (sx / n)) / 1e6, 6).as("stddev_pop_x"))
    }, Some(
      s"""WITH m AS (SELECT ${microsSql("p_retailprice")} AS x,
         |  ${microsSql("CAST(p_size AS DOUBLE)")} AS y FROM part),
         |$momentsSql
         |SELECT n,
         | round((nd*sxy - sx*sy) / (sqrt(nd*sxx - sx*sx) * sqrt(nd*syy - sy*sy)), 6) AS corr,
         | round((sxy/nd - (sx/nd)*(sy/nd)) / 1e12, 4) AS covar_pop,
         | round(sqrt(sxx/nd - (sx/nd)*(sx/nd)) / 1e6, 6) AS stddev_pop_x
         |FROM d""".stripMargin)),

    // Pivot: per-user event-type counts reshaped to columns (the
    // wide-feature shape). Spark pivot with an EXPLICIT value list — an
    // unlisted pivot costs a distinct-scan pre-pass and nondeterministic
    // column order at scale.
    Q("q45_pivot_event_counts", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(p) { (df, t) =>
          df.withColumn(t, coalesce(col(t), lit(0L)))
        }
        .orderBy("user_id")
    }, Some(
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Time-series gap-fill: hourly counts per event type INCLUDING empty
    // hours — sequence() over the global hour span, exploded and
    // cross-joined with the type dimension, left-joined to the actual
    // counts. The dense-grid primitive for downstream window models;
    // the grid is generated, never shuffled wide.
    Q("q47_gapfill_hourly", (s, dir) => {
      val NanosPerHour = 3600L * 1000000000L
      val ev = EventQueries.events(s, dir)
        .withColumn("hour_epoch",
          expr(s"(ts - pmod(ts, $NanosPerHour)) div $NanosPerHour") * 3600)
      val span = ev.agg(min(col("hour_epoch")).as("lo"), max(col("hour_epoch")).as("hi"))
      val hours = span.select(
        explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
      val types = ev.select(col("event_type")).distinct()
      val counts = ev.groupBy("hour_epoch", "event_type").agg(count(lit(1)).as("cnt"))
      hours.crossJoin(types)
        .join(counts, Seq("hour_epoch", "event_type"), "left")
        .select(col("hour_epoch"), col("event_type"),
          coalesce(col("cnt"), lit(0L)).as("n"))
        .orderBy("hour_epoch", "event_type")
    }, Some(
      """WITH e AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type FROM events),
        |span AS (SELECT min(hour_epoch) AS lo, max(hour_epoch) AS hi FROM e),
        |hours AS (SELECT unnest(range(lo, hi + 3600, 3600)) AS hour_epoch FROM span),
        |types AS (SELECT DISTINCT event_type FROM e),
        |counts AS (SELECT hour_epoch, event_type, count(*) AS cnt
        |  FROM e GROUP BY hour_epoch, event_type)
        |SELECT h.hour_epoch AS hour_epoch, t.event_type AS event_type,
        |  coalesce(c.cnt, 0) AS n
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN counts c ON c.hour_epoch = h.hour_epoch AND c.event_type = t.event_type
        |ORDER BY h.hour_epoch, t.event_type""".stripMargin)),

    // Partitioned parquet sink + pruned scan back: events written
    // partitionBy(event_type), re-read with a partition filter — the
    // layout that turns a full scan into a 1/5th scan at any size
    // (PartitionFilters in explain, not PushedFilters). Oracle aggregates
    // the original table under the same predicate.
    Q("q62_partitioned_scan", (s, dir) => {
      val out = graft.sources.Staging.scratchDir("events-part").toString + "/events"
      EventQueries.events(s, dir)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .orderBy("user_id")
    }, Some(
      s"""SELECT user_id, count(*) AS n, ${dsumSql("value")} AS value_sum
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Snapshot diff / MERGE classification: two deterministic snapshots
    // of orders (old = keys not ≡0 mod 7 at original price; new = keys
    // not ≡0 mod 5, price +5.00 where key ≡0 mod 3 — an exact decimal
    // add, so no cross-engine rescale rounding) full-outer-joined on
    // the key and classified insert/delete/update/unchanged — the CDC
    // reconciliation behind every incremental-materialization pipeline.
    // One co-partitioned shuffle join at any scale; output is the class
    // census plus an exact decimal value delta.
    Q("q87_snapshot_diff", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      val old = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v_old"))
      val neu = o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 3 === 0,
            col("o_totalprice") + lit(BigDecimal("5.00")))
            .otherwise(col("o_totalprice")).as("v_new"))
      old.join(neu, Seq("k"), "full_outer")
        .withColumn("op",
          when(col("v_old").isNull, "insert")
            .when(col("v_new").isNull, "delete")
            .when(col("v_old") =!= col("v_new"), "update")
            .otherwise("unchanged"))
        .groupBy("op")
        .agg(count(lit(1)).as("n"),
          dsum(coalesce(col("v_new"), lit(0)) - coalesce(col("v_old"), lit(0)))
            .as("value_delta"))
        .orderBy("op")
    }, Some(
      s"""WITH old AS (SELECT o_orderkey AS k, o_totalprice AS v_old
         |             FROM orders WHERE o_orderkey % 7 <> 0),
         |neu AS (SELECT o_orderkey AS k,
         |          CASE WHEN o_orderkey % 3 = 0
         |            THEN o_totalprice + CAST(5.00 AS DECIMAL(3,2))
         |            ELSE o_totalprice END AS v_new
         |        FROM orders WHERE o_orderkey % 5 <> 0),
         |d AS (SELECT coalesce(old.k, neu.k) AS k, v_old, v_new,
         |        CASE WHEN v_old IS NULL THEN 'insert'
         |             WHEN v_new IS NULL THEN 'delete'
         |             WHEN v_old <> v_new THEN 'update'
         |             ELSE 'unchanged' END AS op
         |      FROM old FULL OUTER JOIN neu USING (k))
         |SELECT op, count(*) AS n,
         |  ${dsumSql("coalesce(v_new, 0) - coalesce(v_old, 0)")} AS value_delta
         |FROM d GROUP BY op ORDER BY op""".stripMargin)),

    // Incremental view maintenance: a per-bucket (count, sum) view of the
    // old snapshot is updated purely from the change rows — insert +1,
    // delete -1, value deltas — and the query emits the incremental
    // result NEXT TO the direct recompute with a per-bucket match flag.
    // All sums are exact decimals, so the IVM algebra holds bit-for-bit.
    // At 100 TB this is the difference between touching the delta
    // (shuffle ∝ changes) and rescanning the fact table.
    Q("q88_incremental_view", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), pmod(col("o_custkey"), lit(50)).as("bucket"),
          col("o_totalprice").cast(DecimalType(20, 6)).as("v"))
      val old = o.filter(col("k") % 7 =!= 0)
      val neu = o.filter(col("k") % 5 =!= 0)
        .withColumn("v", when(col("k") % 3 === 0,
          col("v") + lit(BigDecimal("5.00"))).otherwise(col("v")).cast(DecimalType(20, 6)))
      val oldView = old.groupBy("bucket")
        .agg(count(lit(1)).as("n_old"), sum("v").as("s_old"))
      val deltas = old.select(col("k"), col("bucket").as("b_old"), col("v").as("v_old"))
        .join(neu.select(col("k"), col("bucket").as("b_new"), col("v").as("v_new")),
          Seq("k"), "full_outer")
        .select(coalesce(col("b_new"), col("b_old")).as("bucket"),
          (when(col("v_old").isNull, 1L).otherwise(0L) -
            when(col("v_new").isNull, 1L).otherwise(0L)).as("dn"),
          (coalesce(col("v_new"), lit(0)) - coalesce(col("v_old"), lit(0))).as("dv"))
        .groupBy("bucket").agg(sum("dn").as("dn"), sum("dv").as("dv"))
      val incr = oldView.join(deltas, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n_old"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_incr"),
          (coalesce(col("s_old"), lit(0)) + coalesce(col("dv"), lit(0))).as("s_incr"))
      val direct = neu.groupBy("bucket")
        .agg(count(lit(1)).as("n_direct"), sum("v").as("s_direct"))
      incr.join(direct, Seq("bucket"), "full_outer")
        .select(col("bucket"), col("n_incr"),
          round(col("s_incr").cast("double"), 4).as("value_incr"),
          col("n_direct"),
          round(col("s_direct").cast("double"), 4).as("value_direct"),
          when(col("n_incr") === col("n_direct") &&
            col("s_incr") === col("s_direct"), 1L).otherwise(0L).as("ok"))
        .orderBy("bucket")
    }, Some(
      """WITH o AS (SELECT o_orderkey AS k, o_custkey % 50 AS bucket,
        |             CAST(o_totalprice AS DECIMAL(20,6)) AS v FROM orders),
        |old AS (SELECT * FROM o WHERE k % 7 <> 0),
        |neu AS (SELECT k, bucket,
        |          CAST(CASE WHEN k % 3 = 0 THEN v + CAST(5.00 AS DECIMAL(3,2))
        |               ELSE v END AS DECIMAL(20,6)) AS v
        |        FROM o WHERE k % 5 <> 0),
        |old_view AS (SELECT bucket, count(*) AS n_old, sum(v) AS s_old
        |             FROM old GROUP BY bucket),
        |deltas AS (
        |  SELECT coalesce(n.bucket, d.bucket) AS bucket,
        |    (CASE WHEN d.v IS NULL THEN 1 ELSE 0 END
        |      - CASE WHEN n.v IS NULL THEN 1 ELSE 0 END) AS dn,
        |    (coalesce(n.v, 0) - coalesce(d.v, 0)) AS dv
        |  FROM (SELECT k, bucket, v FROM old) d
        |  FULL OUTER JOIN (SELECT k, bucket, v FROM neu) n USING (k)),
        |delta_agg AS (SELECT bucket, sum(dn) AS dn, sum(dv) AS dv
        |              FROM deltas GROUP BY bucket),
        |incr AS (
        |  SELECT coalesce(o.bucket, a.bucket) AS bucket,
        |    CAST(coalesce(o.n_old, 0) + coalesce(a.dn, 0) AS BIGINT) AS n_incr,
        |    coalesce(o.s_old, 0) + coalesce(a.dv, 0) AS s_incr
        |  FROM old_view o FULL OUTER JOIN delta_agg a USING (bucket)),
        |direct AS (SELECT bucket, count(*) AS n_direct, sum(v) AS s_direct
        |           FROM neu GROUP BY bucket)
        |SELECT bucket, n_incr,
        |  round(CAST(i.s_incr AS DOUBLE), 4) AS value_incr,
        |  d.n_direct,
        |  round(CAST(d.s_direct AS DOUBLE), 4) AS value_direct,
        |  CAST(CASE WHEN i.n_incr = d.n_direct AND i.s_incr = d.s_direct
        |       THEN 1 ELSE 0 END AS BIGINT) AS ok
        |FROM incr i FULL OUTER JOIN direct d USING (bucket)
        |ORDER BY bucket""".stripMargin)),

    // Histogram-sketch quantiles: one pass bins prices into 100
    // equal-width buckets (min/max broadcast), the cumulative bin counts
    // yield p50/p95/p99 estimates, and the query emits them NEXT TO the
    // exact percentile with the absolute error. The mergeable-summary
    // alternative to exact quantiles at 100 TB: bounded state (100
    // counters/partition, map-side combined) vs a full sort; the same
    // cell math both engines evaluate bit-identically (cf. q85).
    Q("q90_histogram_quantiles", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_totalprice").cast("double").as("v"))
      val stats = o.agg(min("v").as("lo"), max("v").as("hi"),
        count(lit(1)).as("total"),
        percentile(col("v"), lit(Array(0.5, 0.95, 0.99))).as("exact"))
      val hist = o.crossJoin(broadcast(stats.select("lo", "hi")))
        .groupBy(least(floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) + lit(1e-9)) * lit(100.0)), lit(99L))
          .as("bin"))
        .agg(count(lit(1)).as("n"))
      val wc = org.apache.spark.sql.expressions.Window.orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.withColumn("cum", sum("n").over(wc))
      val qs = s.range(3).select(
        element_at(lit(Array(0.5, 0.95, 0.99)), col("id").cast("int") + 1).as("q"))
      qs.crossJoin(broadcast(cum))
        .crossJoin(broadcast(stats))
        .filter(col("cum") >= col("q") * col("total"))
        .groupBy("q")
        .agg(min("bin").as("bin"), first("lo").as("lo"), first("hi").as("hi"),
          first("exact").as("exact"))
        .select(col("q"), col("bin"), col("lo"), col("hi"),
          when(col("q") === 0.5, element_at(col("exact"), 1))
            .when(col("q") === 0.95, element_at(col("exact"), 2))
            .otherwise(element_at(col("exact"), 3)).as("ex"))
        .select(col("q"),
          round(col("lo") + (col("bin") + lit(0.5)) *
            (((col("hi") - col("lo")) + lit(1e-9)) / lit(100.0)), 6).as("est"),
          round(col("ex"), 6).as("exact"),
          round(abs(col("lo") + (col("bin") + lit(0.5)) *
            (((col("hi") - col("lo")) + lit(1e-9)) / lit(100.0)) - col("ex")), 6)
            .as("abs_err"))
        .orderBy("q")
    }, Some(
      """WITH o AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
        |st AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS total,
        |         quantile_cont(v, 0.5) AS ex50, quantile_cont(v, 0.95) AS ex95,
        |         quantile_cont(v, 0.99) AS ex99 FROM o),
        |hist AS (SELECT least(CAST(floor((v - lo) / ((hi - lo) + 1e-9) * 100.0)
        |             AS BIGINT), 99) AS bin, count(*) AS n
        |         FROM o CROSS JOIN st GROUP BY 1),
        |cum AS (SELECT bin, sum(n) OVER (ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM hist),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS q),
        |hit AS (SELECT qs.q, min(cum.bin) AS bin
        |        FROM qs CROSS JOIN cum CROSS JOIN st
        |        WHERE cum.cum >= qs.q * st.total GROUP BY qs.q)
        |SELECT h.q AS q,
        |  round(st.lo + (h.bin + 0.5) * (((st.hi - st.lo) + 1e-9) / 100.0), 6) AS est,
        |  round(CASE h.q WHEN 0.5 THEN st.ex50 WHEN 0.95 THEN st.ex95
        |        ELSE st.ex99 END, 6) AS exact,
        |  round(abs(st.lo + (h.bin + 0.5) * (((st.hi - st.lo) + 1e-9) / 100.0)
        |    - CASE h.q WHEN 0.5 THEN st.ex50 WHEN 0.95 THEN st.ex95
        |      ELSE st.ex99 END), 6) AS abs_err
        |FROM hit h CROSS JOIN st ORDER BY q""".stripMargin)),

    // Robust anomaly screen: per-event-type median + MAD (median absolute
    // deviation), flagging |v − med| > 3·MAD — the outlier gate that, per
    // Hampel, survives the contamination that wrecks mean/σ z-scores.
    // Two aggregate passes (med, then MAD over deviations) with the tiny
    // per-type stats broadcast back to the row-level flag — no row ever
    // shuffles twice. Both engines interpolate the same exact percentile,
    // so the strict > comparison agrees bit-for-bit.
    Q("q103_mad_anomaly", (s, dir) => {
      val ev = EventQueries.events(s, dir).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(min("med").as("med"),
          percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      ev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("med")).as("m"), min(col("mad")).as("d"),
          sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"), round(col("m"), 6).as("med"),
          round(col("d"), 6).as("mad"), col("n_outliers"))
        .orderBy("event_type")
    }, Some(
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY event_type),
        |md AS (SELECT e.event_type, min(m.med) AS med,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |       FROM events e JOIN m USING (event_type) GROUP BY e.event_type)
        |SELECT e.event_type AS event_type, count(*) AS n,
        |  round(min(md.med), 6) AS med, round(min(md.mad), 6) AS mad,
        |  CAST(count(*) FILTER (WHERE abs(e.value - md.med) > 3.0 * md.mad)
        |    AS BIGINT) AS n_outliers
        |FROM events e JOIN md USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin)),

    // CUPED-adjusted A/B analysis (Deng et al., WSDM'13): users split
    // into arms by the q79 hash discipline, post-period purchase value
    // adjusted by the pre-period covariate — θ = cov(pre, post)/var(pre)
    // pooled — cutting metric variance without touching the estimand.
    // Every moment is an exact micro-integer sum (q44's discipline), so
    // θ, the adjusted means, and the variance reduction are closed-form
    // doubles over identical inputs in both engines; per-user rows
    // never leave the first aggregation.
    Q("q170_cuped_abtest", (s, dir) => {
      import graft.text.StableHash64
      val CutNs = 1705363200L * 1000000000L // 2024-01-16T00:00Z (mid-window)
      val ev = EventQueries.events(s, dir)
      val users = ev.select(col("user_id")).distinct()
      val pp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(when(col("ts") < CutNs, micros(col("value")))
          .otherwise(lit(0L))).as("xm"),
          sum(when(col("ts") >= CutNs, micros(col("value")))
            .otherwise(lit(0L))).as("ym"))
      val u = users.join(pp, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("xm"), lit(0L)).as("xm"),
          coalesce(col("ym"), lit(0L)).as("ym"))
        .withColumn("arm", pmod(StableHash64(
          concat(lit("ab:"), col("user_id").cast("string"))), lit(2L)))
      val arm = u.groupBy("arm").agg(
        count(lit(1)).as("n"),
        sum(col("xm").cast(DecimalType(38, 0))).as("sx"),
        sum(col("ym").cast(DecimalType(38, 0))).as("sy"),
        sum((col("xm").cast(DecimalType(38, 0)) *
          col("ym").cast(DecimalType(38, 0)))).as("sxy"),
        sum((col("xm").cast(DecimalType(38, 0)) *
          col("xm").cast(DecimalType(38, 0)))).as("sxx"),
        sum((col("ym").cast(DecimalType(38, 0)) *
          col("ym").cast(DecimalType(38, 0)))).as("syy"))
      val tot = arm.agg(sum("n").as("tn"), sum("sx").as("tsx"),
        sum("sy").as("tsy"), sum("sxy").as("tsxy"), sum("sxx").as("tsxx"))
      val (tn, tsx, tsy, tsxy, tsxx) = (col("tn").cast("double"),
        col("tsx").cast("double"), col("tsy").cast("double"),
        col("tsxy").cast("double"), col("tsxx").cast("double"))
      val theta = (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
      val (n, sx, sy, sxy, sxx, syy) = momentsAsDouble
      val meanPre = sx / n / 1e6
      val meanPost = sy / n / 1e6
      val varPost = (syy / n - (sy / n) * (sy / n)) / 1e12
      val varPre = (sxx / n - (sx / n) * (sx / n)) / 1e12
      val covA = (sxy / n - (sx / n) * (sy / n)) / 1e12
      arm.crossJoin(broadcast(tot))
        .withColumn("theta", theta)
        .select(col("arm"), col("n"),
          round(meanPre, 6).as("mean_pre"),
          round(meanPost, 6).as("mean_post"),
          round(meanPost - col("theta") * (meanPre - tsx / tn / 1e6), 6)
            .as("mean_adj"),
          round(varPost, 6).as("var_post"),
          round(varPost + col("theta") * col("theta") * varPre -
            lit(2.0) * col("theta") * covA, 6).as("var_adj"),
          round(col("theta"), 6).as("theta"))
        .orderBy("arm")
    }, Some {
      val uh = graft.text.StableHash.hashes64Sql(
        "['ab:' || CAST(user_id AS VARCHAR)]") + "[1]"
      val cut = 1705363200L * 1000000000L
      s"""WITH users AS (SELECT DISTINCT user_id FROM events),
         |pp AS (SELECT user_id,
         |    CAST(sum(CASE WHEN epoch_ns(ts) < $cut
         |      THEN ${microsSql("value")} ELSE 0 END) AS BIGINT) AS xm,
         |    CAST(sum(CASE WHEN epoch_ns(ts) >= $cut
         |      THEN ${microsSql("value")} ELSE 0 END) AS BIGINT) AS ym
         |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |u AS (SELECT users.user_id, coalesce(xm, 0) AS xm, coalesce(ym, 0) AS ym,
         |    ((CAST(CASE WHEN $uh >= 9223372036854775808
         |        THEN $uh - 18446744073709551616 ELSE $uh END AS BIGINT)
         |      % 2) + 2) % 2 AS arm
         |  FROM users LEFT JOIN pp USING (user_id)),
         |a AS (SELECT arm, count(*) AS n,
         |    sum(CAST(xm AS HUGEINT)) AS sx, sum(CAST(ym AS HUGEINT)) AS sy,
         |    sum(CAST(xm AS HUGEINT) * CAST(ym AS HUGEINT)) AS sxy,
         |    sum(CAST(xm AS HUGEINT) * CAST(xm AS HUGEINT)) AS sxx,
         |    sum(CAST(ym AS HUGEINT) * CAST(ym AS HUGEINT)) AS syy
         |  FROM u GROUP BY arm),
         |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tn, CAST(sum(sx) AS DOUBLE) AS tsx,
         |    CAST(sum(sy) AS DOUBLE) AS tsy, CAST(sum(sxy) AS DOUBLE) AS tsxy,
         |    CAST(sum(sxx) AS DOUBLE) AS tsxx
         |  FROM a),
         |d AS (SELECT arm, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         |    CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
         |    CAST(syy AS DOUBLE) AS syy,
         |    (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS theta,
         |    tsx / tn / 1e6 AS gmean_pre
         |  FROM a CROSS JOIN t)
         |SELECT arm, n,
         |  round(sx / nd / 1e6, 6) AS mean_pre,
         |  round(sy / nd / 1e6, 6) AS mean_post,
         |  round(sy / nd / 1e6 - theta * (sx / nd / 1e6 - gmean_pre), 6)
         |    AS mean_adj,
         |  round((syy / nd - (sy / nd) * (sy / nd)) / 1e12, 6) AS var_post,
         |  round((syy / nd - (sy / nd) * (sy / nd)) / 1e12
         |    + theta * theta * (sxx / nd - (sx / nd) * (sx / nd)) / 1e12
         |    - 2.0 * theta * ((sxy / nd - (sx / nd) * (sy / nd)) / 1e12), 6)
         |    AS var_adj,
         |  round(theta, 6) AS theta
         |FROM d ORDER BY arm""".stripMargin
    }),

    // Seasonal-baseline anomaly screen: hourly event counts compared to
    // the hour-of-day seasonal profile (median ± 3·MAD per (type,
    // hour-of-day) — q103's robust screen lifted onto a seasonal key).
    // The monitoring shape for cyclic traffic: raw events collapse to
    // the (type, hour) grid FIRST (≤ 24·types·days rows at any scale),
    // the 24-row-per-type profile broadcasts back, and anomalous hours
    // are exact-integer comparisons against rounded robust bounds.
    Q("q162_seasonal_anomaly", (s, dir) => {
      val NanosPerHour = 3600L * 1000000000L
      val hourly = EventQueries.events(s, dir)
        .groupBy(col("event_type"), expr(s"ts div $NanosPerHour").as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("hod", pmod(col("hour"), lit(24L)))
      val med = hourly.groupBy("event_type", "hod")
        .agg(percentile(col("n"), lit(0.5)).as("med"))
      val prof = hourly.join(broadcast(med), Seq("event_type", "hod"))
        .groupBy("event_type", "hod")
        .agg(min("med").as("med"),
          percentile(abs(col("n") - col("med")), lit(0.5)).as("mad"))
      hourly.join(broadcast(prof), Seq("event_type", "hod"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n_hours"),
          round(min("med"), 6).as("med"), round(min("mad"), 6).as("mad"),
          sum(when(abs(col("n") - col("med")) > lit(3.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_anomalous"))
        .orderBy("event_type", "hod")
    }, Some {
      val nph = 3600L * 1000000000L
      s"""WITH h AS (SELECT event_type, epoch_ns(ts)//$nph AS hour, count(*) AS n
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, hour, n, hour % 24 AS hod FROM h),
         |m AS (SELECT event_type, hod, quantile_cont(n, 0.5) AS med
         |      FROM g GROUP BY 1, 2),
         |p AS (SELECT g.event_type, g.hod, min(m.med) AS med,
         |        quantile_cont(abs(g.n - m.med), 0.5) AS mad
         |      FROM g JOIN m USING (event_type, hod) GROUP BY 1, 2)
         |SELECT g.event_type AS event_type, g.hod AS hod,
         |  count(*) AS n_hours, round(min(p.med), 6) AS med,
         |  round(min(p.mad), 6) AS mad,
         |  CAST(count(*) FILTER (WHERE abs(g.n - p.med) > 3.0 * p.mad)
         |    AS BIGINT) AS n_anomalous
         |FROM g JOIN p USING (event_type, hod)
         |GROUP BY 1, 2 ORDER BY event_type, hod""".stripMargin
    }),

    // Functional-dependency profile: for candidate determinant →
    // dependent pairs, count violating keys (determinant values with
    // >1 distinct dependent) and the violation rows — the data-
    // profiling primitive behind constraint discovery (cf. q124's
    // declared-constraint suite; this DISCOVERS them). Each pair costs
    // one (determinant, dependent) distinct + one regroup, both
    // map-side-combinable; the union of per-pair summaries is tiny.
    Q("q163_fd_profile", (s, dir) => {
      def fd(df: org.apache.spark.sql.DataFrame, name: String,
             det: Column, dep: Column) = {
        val pairs = df.select(det.cast("string").as("k"),
          dep.cast("string").as("v")).distinct()
        pairs.groupBy("k").agg(countDistinct("v").as("nv"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
            sum(when(col("nv") > 1, col("nv")).otherwise(0L))
              .as("n_violating_values"))
          .select(lit(name).as("fd"), col("n_keys"), col("n_violating_keys"),
            col("n_violating_values"))
      }
      fd(Tables.nation(s, dir), "1_nationkey_to_regionkey",
          col("n_nationkey"), col("n_regionkey"))
        .unionByName(fd(Tables.customer(s, dir), "2_nationkey_to_mktsegment",
          col("c_nationkey"), col("c_mktsegment")))
        .unionByName(fd(Tables.part(s, dir), "3_brand_to_type",
          col("p_brand"), col("p_type")))
        .orderBy("fd")
    }, Some(
      """WITH f1 AS (SELECT CAST(n_nationkey AS VARCHAR) AS k,
        |              CAST(n_regionkey AS VARCHAR) AS v FROM nation GROUP BY 1, 2),
        |f2 AS (SELECT CAST(c_nationkey AS VARCHAR) AS k, c_mktsegment AS v
        |       FROM customer GROUP BY 1, 2),
        |f3 AS (SELECT p_brand AS k, p_type AS v FROM part GROUP BY 1, 2),
        |a1 AS (SELECT k, count(DISTINCT v) AS nv FROM f1 GROUP BY k),
        |a2 AS (SELECT k, count(DISTINCT v) AS nv FROM f2 GROUP BY k),
        |a3 AS (SELECT k, count(DISTINCT v) AS nv FROM f3 GROUP BY k)
        |SELECT fd, n_keys, n_violating_keys, n_violating_values FROM (
        |  SELECT '1_nationkey_to_regionkey' AS fd, count(*) AS n_keys,
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating_keys,
        |    CAST(sum(CASE WHEN nv > 1 THEN nv ELSE 0 END) AS BIGINT)
        |      AS n_violating_values FROM a1
        |  UNION ALL
        |  SELECT '2_nationkey_to_mktsegment', count(*),
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN nv > 1 THEN nv ELSE 0 END) AS BIGINT) FROM a2
        |  UNION ALL
        |  SELECT '3_brand_to_type', count(*),
        |    CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN nv > 1 THEN nv ELSE 0 END) AS BIGINT) FROM a3)
        |ORDER BY fd""".stripMargin)),

    // Heavy-tail diagnosis: the basket-size (items per order)
    // frequency distribution plus a log-log OLS fit of ln(count) on
    // ln(size) — the power-law-exponent check run before choosing
    // skew-handling strategy (a steep negative slope says the q58
    // salting path is unnecessary; a flat one says hot keys are
    // coming). Frequencies are exact integers; the fit reuses q149's
    // exact micro-moment machinery over ≤ max-basket-size points.
    Q("q174_degree_tail_fit", (s, dir) => {
      val sizes = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("freq"))
      val pts = sizes.select(
        micros(round(log(col("sz").cast("double")), 6)).as("xm"),
        micros(round(log(col("freq").cast("double")), 6)).as("ym"))
      val agg = pts.agg(count(lit(1)).as("n_points"),
        sum("xm").as("sx"), sum("ym").as("sy"),
        sum((col("xm").cast(DecimalType(38, 0)) *
          col("ym").cast(DecimalType(38, 0)))).as("sxy"),
        sum((col("xm").cast(DecimalType(38, 0)) *
          col("xm").cast(DecimalType(38, 0)))).as("sxx"))
      val (np, sx, sy, sxy, sxx) = (col("n_points").cast("double"),
        col("sx").cast("double"), col("sy").cast("double"),
        col("sxy").cast("double"), col("sxx").cast("double"))
      val tot = sizes.agg(count(lit(1)).as("nsz"), sum("freq").as("n_orders"),
        max("sz").as("max_size"))
      agg.crossJoin(broadcast(tot))
        .select(col("n_orders"), col("max_size"), col("n_points"),
          round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6)
            .as("loglog_slope"))
    }, Some(
      s"""WITH s AS (SELECT l_orderkey, count(*) AS sz FROM lineitem
         |           GROUP BY l_orderkey),
         |h AS (SELECT sz, count(*) AS freq FROM s GROUP BY sz),
         |pts AS (SELECT
         |    ${microsSql("round(ln(CAST(sz AS DOUBLE)), 6)")} AS xm,
         |    ${microsSql("round(ln(CAST(freq AS DOUBLE)), 6)")} AS ym
         |  FROM h),
         |a AS (SELECT count(*) AS n_points, sum(xm) AS sx, sum(ym) AS sy,
         |    sum(CAST(xm AS HUGEINT) * CAST(ym AS HUGEINT)) AS sxy,
         |    sum(CAST(xm AS HUGEINT) * CAST(xm AS HUGEINT)) AS sxx
         |  FROM pts),
         |t AS (SELECT count(*) AS nsz, CAST(sum(freq) AS BIGINT) AS n_orders,
         |    CAST(max(sz) AS BIGINT) AS max_size FROM h),
         |d AS (SELECT n_orders, max_size, n_points,
         |    CAST(n_points AS DOUBLE) AS npd, CAST(sx AS DOUBLE) AS sx,
         |    CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
         |    CAST(sxx AS DOUBLE) AS sxx
         |  FROM a CROSS JOIN t)
         |SELECT n_orders, max_size, n_points,
         |  round((npd*sxy - sx*sy) / (npd*sxx - sx*sx), 6) AS loglog_slope
         |FROM d""".stripMargin)),

    // Retention half-life: the day-0 cohort's retention curve r(d)
    // fitted with a log-linear exact-moment OLS (q149's machinery on
    // micro-integer ln-rates) → half-life = −ln 2 / slope. The
    // growth-metric summary every retention dashboard quotes; inputs
    // collapse to ≤31 (offset, rate) points before the fit, so the
    // statistic costs two narrow shuffles at any event volume.
    Q("q173_retention_halflife", (s, dir) => {
      val ev = EventQueries.events(s, dir)
        .select(col("user_id"), expr(s"ts div $NanosPerDayQ172").as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("d0"))
      val gmin = first.agg(min("d0").as("gd"))
      val cohort = first.crossJoin(broadcast(gmin))
        .filter(col("d0") === col("gd"))
        .select(col("user_id"), col("gd"))
      val cs = cohort.agg(count(lit(1)).as("cohort_size"))
      val pts = ev.join(cohort, "user_id")
        .select(col("user_id"), (col("day") - col("gd")).as("offset"))
        .distinct()
        .groupBy("offset").agg(count(lit(1)).as("active"))
        .crossJoin(broadcast(cs))
        .filter(col("offset") >= 1)
        .select(col("offset").as("x"),
          micros(round(log(col("active").cast("double") /
            col("cohort_size")), 6)).as("ym"),
          col("cohort_size"))
      val agg = pts.agg(count(lit(1)).as("np"), max("cohort_size").as("cohort_size"),
        sum("x").as("sx"), sum("ym").as("sy"),
        sum(col("x") * col("ym")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val (np, sx, sy, sxy, sxx) = (col("np").cast("double"),
        col("sx").cast("double"), col("sy").cast("double"),
        col("sxy").cast("double"), col("sxx").cast("double"))
      val slope = (np * sxy - sx * sy) / (np * sxx - sx * sx) / 1e6
      agg.select(col("cohort_size"), col("np").as("n_points"),
        round(slope, 6).as("slope"),
        when(slope < 0, round(-log(lit(2.0)) / slope, 4)).otherwise(-1.0)
          .as("half_life_days"))
    }, Some(
      s"""WITH e AS (SELECT user_id, epoch_ns(ts)//$NanosPerDayQ172 AS day
         |           FROM events),
         |f AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY user_id),
         |g AS (SELECT min(d0) AS gd FROM f),
         |cohort AS (SELECT f.user_id, g.gd FROM f, g WHERE f.d0 = g.gd),
         |cs AS (SELECT count(*) AS cohort_size FROM cohort),
         |act AS (SELECT doff, count(*) AS active FROM (
         |    SELECT DISTINCT e.user_id, e.day - c.gd AS doff
         |    FROM e JOIN cohort c ON e.user_id = c.user_id)
         |  GROUP BY doff),
         |pts AS (SELECT doff AS x,
         |    ${microsSql("round(ln(CAST(active AS DOUBLE) / cohort_size), 6)")}
         |      AS ym, cohort_size
         |  FROM act CROSS JOIN cs WHERE doff >= 1),
         |a AS (SELECT count(*) AS np,
         |    CAST(max(cohort_size) AS BIGINT) AS cohort_size,
         |    sum(x) AS sx, sum(ym) AS sy, sum(x*ym) AS sxy, sum(x*x) AS sxx
         |  FROM pts),
         |d AS (SELECT cohort_size, np, CAST(np AS DOUBLE) AS npd,
         |    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         |    CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx
         |  FROM a)
         |SELECT cohort_size, np AS n_points,
         |  round((npd*sxy - sx*sy) / (npd*sxx - sx*sx) / 1e6, 6) AS slope,
         |  CASE WHEN (npd*sxy - sx*sy) / (npd*sxx - sx*sx) / 1e6 < 0
         |    THEN round(-ln(2.0) / ((npd*sxy - sx*sy) / (npd*sxx - sx*sx) / 1e6), 4)
         |    ELSE -1.0 END AS half_life_days
         |FROM d""".stripMargin)),

    // Classical seasonal decomposition (trend = centered 7-day moving
    // average over exact daily decimal sums; seasonal index = per
    // day-of-week mean of the detrended series): the additive
    // trend/seasonal split behind every traffic-forecast baseline.
    // Same two-level discipline as q66/q162 — raw events collapse to
    // the ≤31-row day series before any window touches them; every
    // window term rounds before the exact-decimal mean.
    Q("q172_seasonal_decompose", (s, dir) => {
      val daily = EventQueries.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(expr(s"ts div $NanosPerDayQ172").as("day"))
        .agg(sum(col("value").cast(DecimalType(20, 6))).as("rev_d"))
      val w = Window.orderBy("day").rangeBetween(-3, 3)
      daily
        .withColumn("trend", round(
          sum(col("rev_d")).over(w).cast("double") / count(lit(1)).over(w), 6))
        .withColumn("detr",
          round(col("rev_d").cast("double") - col("trend"), 6))
        .groupBy(pmod(col("day"), lit(7L)).as("dow"))
        .agg(count(lit(1)).as("n_days"),
          davg(col("detr")).as("seasonal_idx"),
          davg(col("trend")).as("mean_trend"))
        .orderBy("dow")
    }, Some(
      s"""WITH d AS (SELECT epoch_ns(ts)//$NanosPerDayQ172 AS day,
         |    sum(CAST(value AS DECIMAL(20,6))) AS rev_d
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |t AS (SELECT day,
         |    round(CAST(sum(rev_d) OVER w AS DOUBLE) / count(*) OVER w, 6)
         |      AS trend,
         |    rev_d
         |  FROM d WINDOW w AS (ORDER BY day
         |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dt AS (SELECT day % 7 AS dow,
         |    round(CAST(rev_d AS DOUBLE) - trend, 6) AS detr, trend
         |  FROM t)
         |SELECT CAST(dow AS BIGINT) AS dow, count(*) AS n_days,
         |  ${davgSql("detr")} AS seasonal_idx,
         |  ${davgSql("trend")} AS mean_trend
         |FROM dt GROUP BY dow ORDER BY dow""".stripMargin)),

    // Mutual information between event type and hour-of-day — the
    // feature-selection / dependence-mining statistic (χ²'s
    // information-theoretic sibling, q111): MI = Σ p_xy·ln(p_xy/(p_x·
    // p_y)) over exact integer cell counts, each cell's contribution
    // rounded at 12dp and decimal-summed so the total is partition-
    // order-free. The contingency table is (types × 24)-sized — one
    // shuffle regardless of row count — and marginals broadcast back.
    Q("q171_mutual_information", (s, dir) => {
      val NanosPerHour = 3600L * 1000000000L
      val cells = EventQueries.events(s, dir)
        .groupBy(col("event_type"),
          pmod(expr(s"ts div $NanosPerHour"), lit(24L)).as("hod"))
        .agg(count(lit(1)).as("c"))
      val mx = cells.groupBy("event_type").agg(sum("c").as("cx"))
      val my = cells.groupBy("hod").agg(sum("c").as("cy"))
      val tot = cells.agg(sum("c").as("n"))
      cells.join(broadcast(mx), "event_type")
        .join(broadcast(my), "hod")
        .crossJoin(broadcast(tot))
        .withColumn("term", round(
          col("c").cast("double") / col("n") *
            log(col("c").cast("double") * col("n") /
              (col("cx").cast("double") * col("cy"))), 12))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("term").cast(DecimalType(24, 12))).cast("double"), 9)
            .as("mi_nats"))
    }, Some {
      val nph = 3600L * 1000000000L
      s"""WITH cells AS (SELECT event_type, (epoch_ns(ts)//$nph) % 24 AS hod,
         |    count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |mx AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cx
         |       FROM cells GROUP BY event_type),
         |my AS (SELECT hod, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY hod),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         |terms AS (SELECT round(
         |    CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) * n /
         |      (CAST(cx AS DOUBLE) * cy)), 12) AS term
         |  FROM cells JOIN mx USING (event_type) JOIN my USING (hod)
         |  CROSS JOIN t)
         |SELECT count(*) AS n_cells,
         |  round(CAST(sum(CAST(term AS DECIMAL(24,12))) AS DOUBLE), 9)
         |    AS mi_nats
         |FROM terms""".stripMargin
    }),

    // Chi-square independence test of event_type × user cohort (the A/B
    // significance primitive): observed cells from one groupBy, expected
    // = row·col/n from exact integer marginals, χ² as a sum of 9dp-
    // rounded cell contributions through exact decimals (order-
    // independent, bit-equal in the oracle), plus Cramér's V. Marginals
    // broadcast back onto the 20-cell frame — the statistic costs one
    // shuffle over (type, cohort) keys no matter the row count.
    Q("q111_chi_square", (s, dir) => {
      val ev = EventQueries.events(s, dir)
        .select(col("event_type"), pmod(col("user_id"), lit(4L)).as("cohort"))
      val cells = ev.groupBy("event_type", "cohort").agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy("event_type").agg(sum("o").as("rt"))
      val colT = cells.groupBy("cohort").agg(sum("o").as("ct"))
      val n = cells.agg(sum("o").as("n"),
        countDistinct("event_type").as("r"), countDistinct("cohort").as("c"))
      cells.join(broadcast(rowT), "event_type").join(broadcast(colT), "cohort")
        .crossJoin(broadcast(n))
        .withColumn("e",
          col("rt").cast("double") * col("ct") / col("n"))
        .withColumn("contrib",
          round(pow(col("o") - col("e"), 2) / col("e"), 9))
        .agg(first("n").as("n_events"), first("r").as("r"), first("c").as("c"),
          round(sum(col("contrib").cast(DecimalType(20, 12))).cast("double"), 6)
            .as("chi2"))
        .select(col("n_events"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          col("chi2"),
          round(sqrt(col("chi2") /
            (col("n_events") * least(col("r") - 1, col("c") - 1))), 6)
            .as("cramers_v"))
    }, Some(
      """WITH ev AS (SELECT event_type, user_id % 4 AS cohort FROM events),
        |cells AS (SELECT event_type, cohort, count(*) AS o
        |          FROM ev GROUP BY event_type, cohort),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
        |       FROM cells GROUP BY event_type),
        |ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS ct
        |       FROM cells GROUP BY cohort),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |        count(DISTINCT event_type) AS r, count(DISTINCT cohort) AS c
        |      FROM cells),
        |k AS (SELECT cells.o,
        |        CAST(rt.rt AS DOUBLE) * ct.ct / n.n AS e, n.n, n.r, n.c
        |      FROM cells JOIN rt USING (event_type) JOIN ct USING (cohort)
        |      CROSS JOIN n),
        |s AS (SELECT min(n) AS n_events, min(r) AS r, min(c) AS c,
        |        round(CAST(sum(CAST(round(pow(o - e, 2) / e, 9)
        |          AS DECIMAL(20,12))) AS DOUBLE), 6) AS chi2
        |      FROM k)
        |SELECT n_events, (r - 1) * (c - 1) AS dof, chi2,
        |  round(sqrt(chi2 / (n_events * least(r - 1, c - 1))), 6) AS cramers_v
        |FROM s""".stripMargin)),

    // Weighted median: order totalprice weighted by line-item count —
    // the first price whose cumulative weight reaches half the total
    // (lower weighted median, ties broken by key so the crossing row is
    // unique). TWO-LEVEL selection, no row-granularity global sort:
    // (1) histogram the weights by integer price bucket (domain-bounded
    // — the bucket census is the price RANGE, not the row count) and
    // cumsum over that post-aggregate census to locate the single
    // bucket containing the crossing; (2) rank only inside that one
    // bucket (window PARTITIONED by bucket — a sliver of the data),
    // offset by the weight of everything before it. The exact per-row
    // crossing survives, but nothing |rows|-sized ever enters a
    // single-partition exchange.
    Q("q129_weighted_median", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("v"))
      val li = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("w"))
      val ow = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .withColumn("b", floor(col("v")).cast("long"))
      val tot = ow.agg(sum("w").as("wt"), percentile(col("v"), lit(0.5)).as("um"))
      // bucket census: |distinct floor(price)| rows, then one cumsum
      val wcb = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bstar = ow.groupBy("b").agg(sum("w").as("wb"))
        .withColumn("bcum", sum("wb").over(wcb))
        .crossJoin(broadcast(tot))
        .filter(col("bcum") * 2 >= col("wt"))
        .orderBy("b").limit(1)
        .select(col("b"), (col("bcum") - col("wb")).as("boff"),
          col("wt"), col("um"))
      // rank only the median bucket's rows; global cum = bucket offset +
      // within-bucket cumsum (floor preserves the (v, key) order across
      // buckets, and price ties cannot straddle an integer bucket edge)
      val wcv = Window.partitionBy("b").orderBy("v", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ow.join(broadcast(bstar), "b")
        .withColumn("cum", col("boff") + sum("w").over(wcv))
        .filter(col("cum") * 2 >= col("wt"))
        .orderBy("v", "o_orderkey")
        .limit(1)
        .select(round(col("v"), 4).as("weighted_median"),
          col("wt").as("total_weight"),
          round(col("um"), 4).as("unweighted_median"))
    }, Some(
      """WITH li AS (SELECT l_orderkey, count(*) AS w FROM lineitem
        |            GROUP BY l_orderkey),
        |ow AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v, w
        |       FROM orders JOIN li ON o_orderkey = l_orderkey),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt,
        |        quantile_cont(v, 0.5) AS um FROM ow),
        |c AS (SELECT v, o_orderkey,
        |        sum(w) OVER (ORDER BY v, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM ow)
        |SELECT round(v, 4) AS weighted_median, t.wt AS total_weight,
        |  round(t.um, 4) AS unweighted_median
        |FROM c CROSS JOIN t WHERE cum * 2 >= wt
        |ORDER BY v, o_orderkey LIMIT 1""".stripMargin)),

    // Closed-form OLS (price ~ size): slope/intercept/R² from the same
    // exact micro-integer moments as q44 — one map-side-combinable
    // aggregate, no iterative solver, bit-reproducible on any
    // partitioning. The distributed-regression primitive: at 100 TB
    // this is still a single pass producing six numbers.
    Q("q149_ols_regression", (s, dir) => {
      val p = Tables.part(s, dir).select(
        micros(col("p_size").cast("double")).as("x"),
        micros(col("p_retailprice")).as("y"))
      val (n, sx, sy, sxy, sxx, syy) = momentsAsDouble
      exactMoments(p, col("x"), col("y")).select(col("n"),
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).as("slope"),
        round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / lit(1e6), 6)
          .as("intercept"),
        round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("r2"))
    }, Some(
      s"""WITH m AS (SELECT ${microsSql("CAST(p_size AS DOUBLE)")} AS x,
         |  ${microsSql("p_retailprice")} AS y FROM part),
         |$momentsSql
         |SELECT n,
         | round((nd*sxy - sx*sy) / (nd*sxx - sx*sx), 6) AS slope,
         | round((sy - (nd*sxy - sx*sy) / (nd*sxx - sx*sx) * sx) / nd / 1e6, 6)
         |   AS intercept,
         | round(((nd*sxy - sx*sy) * (nd*sxy - sx*sy)) /
         |   ((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6) AS r2
         |FROM d""".stripMargin)),

    // Cohen's kappa between two deterministic quality raters (char-count
    // screen vs token-count screen over documents): the inter-annotator
    // agreement census every labeling pipeline audits. All four cells
    // are exact integers from one scan; kappa is one double expression
    // over them.
    Q("q150_cohens_kappa", (s, dir) => {
      val d = Tables.documents(s, dir).select(
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("a"),
        when(size(split(col("text"), " ")) >= 50, 1L).otherwise(0L).as("b"))
      val agg = d.agg(
        count(lit(1)).as("n"),
        sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L)).as("n10"),
        sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L)).as("n01"),
        sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L)).as("n00"))
      val n = col("n").cast("double")
      val po = (col("n11") + col("n00")) / n
      val pe = ((col("n11") + col("n10")) / n) * ((col("n11") + col("n01")) / n) +
        ((col("n01") + col("n00")) / n) * ((col("n10") + col("n00")) / n)
      agg.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    }, Some(
      """WITH r AS (SELECT
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |c AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM r),
        |d AS (SELECT n, n11, n10, n01, n00, CAST(n AS DOUBLE) AS nd,
        |    (n11 + n00) / CAST(n AS DOUBLE) AS po,
        |    ((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE)) +
        |    ((n01 + n00) / CAST(n AS DOUBLE)) * ((n10 + n00) / CAST(n AS DOUBLE)) AS pe
        |  FROM c)
        |SELECT n, n11, n10, n01, n00, round(po, 6) AS po, round(pe, 6) AS pe,
        |  round((po - pe) / (1.0 - pe), 6) AS kappa FROM d""".stripMargin)),

    // Smoothed target (mean) encoding: per (segment, nation) category,
    // enc = (Σ target + m·global_mean) / (n + m) with prior weight m=10
    // — the leakage-safe categorical feature. Exact decimal sums on
    // both levels; the global prior is one broadcast scalar, so the
    // encode is a single shuffle on the category key at any scale.
    Q("q151_target_encoding", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_mktsegment"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_acctbal").cast(DecimalType(20, 6)).as("bal"))
      val g = c.agg((sum("bal").cast("double") / count(lit(1))).as("gmean"))
      c.groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), sum("bal").as("sbal"))
        .crossJoin(broadcast(g))
        .select(col("c_mktsegment"), col("c_nationkey"), col("n"),
          round((col("sbal").cast("double") + lit(10.0) * col("gmean")) /
            (col("n") + 10), 6).as("enc"),
          round(col("gmean"), 6).as("global_mean"))
        .orderBy("c_mktsegment", "c_nationkey")
    }, Some(
      """WITH c AS (SELECT c_mktsegment,
        |    CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |    CAST(c_acctbal AS DECIMAL(20,6)) AS bal FROM customer),
        |g AS (SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS gmean FROM c)
        |SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |  round((CAST(sum(bal) AS DOUBLE) + 10.0 * g.gmean) / (count(*) + 10), 6)
        |    AS enc,
        |  round(g.gmean, 6) AS global_mean
        |FROM c CROSS JOIN g GROUP BY c_mktsegment, c_nationkey, g.gmean
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // Deterministic Poisson-style bootstrap CI for mean(o_totalprice):
    // replicate r weights each row by StableHash("bs:"+key+":"+r) mod 3
    // ∈ {0,1,2} (mean 1) — the one-pass bootstrap that needs NO
    // resampling shuffle, just a 16× explode feeding one combinable
    // aggregate (Chamandy et al. 2012, "Estimating Uncertainty for
    // Massive Data Streams"). Replicate means are exact-decimal ratios;
    // the CI is the p5/p95 of 16 rounded values.
    Q("q155_bootstrap_ci", (s, dir) => {
      val BootstrapParts(reps, exact) = BootstrapCi.build(s, dir)
      reps.agg(
          count(lit(1)).as("n_replicates"),
          round(sum(col("mean_r").cast(DecimalType(20, 6))).cast("double") /
            count(lit(1)), 6).as("boot_mean"),
          round(percentile(col("mean_r"), lit(0.05)), 6).as("ci_lo"),
          round(percentile(col("mean_r"), lit(0.95)), 6).as("ci_hi"))
        .crossJoin(broadcast(exact))
    }, Some(BootstrapCi.oracle)))
}

/** q155's two frames: per-replicate means + the exact full-data mean. */
final case class BootstrapParts(
    reps: org.apache.spark.sql.DataFrame,
    exact: org.apache.spark.sql.DataFrame)

object BootstrapCi {
  import graft.text.{StableHash, StableHash64}
  import org.apache.spark.sql.SparkSession

  def build(s: SparkSession, dir: String): BootstrapParts = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_totalprice").cast(DecimalType(20, 6)).as("tp"))
    val w = o.select(col("o_orderkey"), col("tp"),
        explode(sequence(lit(0), lit(15))).as("r"))
      .withColumn("m", pmod(StableHash64(concat(lit("bs:"),
        col("o_orderkey").cast("string"), lit(":"), col("r").cast("string"))),
        lit(3L)))
    val reps = w.groupBy("r")
      .agg(round(sum(col("tp") * col("m")).cast("double") / sum("m"), 6)
        .as("mean_r"))
    val exact = o.agg(
      round(sum("tp").cast("double") / count(lit(1)), 6).as("exact_mean"))
    BootstrapParts(reps, exact)
  }

  def oracle: String = {
    val h = StableHash.hashes64Sql(
      "['bs:' || CAST(o_orderkey AS VARCHAR) || ':' || CAST(t.r AS VARCHAR)]") + "[1]"
    s"""WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(20,6)) AS tp
       |           FROM orders),
       |w AS (SELECT o_orderkey, tp, t.r,
       |        ((CAST(CASE WHEN $h >= 9223372036854775808
       |            THEN $h - 18446744073709551616 ELSE $h END AS BIGINT)
       |          % 3) + 3) % 3 AS m
       |      FROM o, UNNEST(range(0, 16)) AS t(r)),
       |reps AS (SELECT r, round(CAST(sum(tp * m) AS DOUBLE) /
       |           CAST(sum(m) AS BIGINT), 6) AS mean_r
       |         FROM w GROUP BY r),
       |b AS (SELECT count(*) AS n_replicates,
       |        round(CAST(sum(CAST(mean_r AS DECIMAL(20,6))) AS DOUBLE)
       |          / count(*), 6) AS boot_mean,
       |        round(quantile_cont(mean_r, 0.05), 6) AS ci_lo,
       |        round(quantile_cont(mean_r, 0.95), 6) AS ci_hi
       |      FROM reps),
       |e AS (SELECT round(CAST(sum(tp) AS DOUBLE) / count(*), 6) AS exact_mean
       |      FROM o)
       |SELECT * FROM b CROSS JOIN e""".stripMargin
  }
}

