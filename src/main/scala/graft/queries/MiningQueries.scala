package graft.queries

import graft.sources.Tables
import graft.text.TextOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical-mining operators: rank correlation, inequality/Lorenz,
  * autocorrelation, two-sample inference, and probabilistic-forecast
  * scoring. Same exactness discipline as StatQueries — every statistic
  * reduces to integer/decimal moments (order-independent on any
  * partitioning, bit-equal in the DuckDB oracle); doubles appear only in
  * the final closed-form expression over those moments.
  */
object MiningQueries {
  import Helpers._

  /** Kendall τ-b rank agreement per group from the joint (x, y) VALUE
    * CENSUS — no pair scan (see q217's Scaladoc for the derivation):
    * tie counts n1/n2/n3 come from the marginal censuses, the
    * concordant count from one cumulative-dominance window (each cell
    * fans out to the strictly greater y values of its group — y should
    * come from a bounded domain, since the fan-out is |y-domain| per
    * cell), and disc = n0 − n1 − n2 + n3 − conc. All counts are exact
    * integers; work is O(|census| · |y-domain|) with group × y-value
    * window partitions.
    *
    * Output columns: (g, n_pairs, conc, disc, tau_b) with `g` keeping
    * the caller's group column name; tau_b is null when either
    * marginal is fully tied (n_pairs = n1 or n_pairs = n2).
    */
  def kendallTauB(df: org.apache.spark.sql.DataFrame,
      g: String, x: String, y: String): org.apache.spark.sql.DataFrame = {
    val p = df.select(col(g).as("_g"), col(x).as("_x"), col(y).as("_y"))
    val cells = p.groupBy("_g", "_x", "_y")
      .agg(count(lit(1)).as("cnt")).persist()
    val xTies = cells.groupBy("_g", "_x").agg(sum("cnt").as("cx"))
      .groupBy("_g").agg(sum(expr("cx * (cx - 1) div 2")).as("n1"),
        sum("cx").as("n"))
    val yTies = cells.groupBy("_g", "_y").agg(sum("cnt").as("cy"))
      .groupBy("_g").agg(sum(expr("cy * (cy - 1) div 2")).as("n2"))
    val bothTies = cells.groupBy("_g")
      .agg(sum(expr("cnt * (cnt - 1) div 2")).as("n3"))
    val yVals = cells.select(col("_g").as("_yb"), col("_y").as("_yt"))
      .distinct()
    val sources = cells
      .join(broadcast(yVals),
        col("_yb") === col("_g") && col("_yt") > col("_y"))
      .select(col("_g"), col("_yt"), col("_x"),
        col("cnt").as("w"), lit(1).as("tag"), lit(0L).as("pcnt"))
    val probes = cells.select(col("_g"), col("_y").as("_yt"), col("_x"),
      lit(0L).as("w"), lit(0).as("tag"), col("cnt").as("pcnt"))
    val wd = Window.partitionBy("_g", "_yt")
      .orderBy(col("_x"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conc = sources.unionByName(probes)
      .withColumn("cum", sum("w").over(wd))
      .filter(col("tag") === 0)
      .groupBy("_g").agg(sum(col("pcnt") * col("cum")).as("conc"))
    xTies.join(yTies, "_g").join(bothTies, "_g").join(conc, "_g")
      .withColumn("n_pairs", expr("n * (n - 1) div 2"))
      .withColumn("disc", col("n_pairs") - col("n1") - col("n2") +
        col("n3") - col("conc"))
      .select(col("_g").as(g), col("n_pairs"), col("conc"), col("disc"),
        when(col("n_pairs") - col("n1") > 0 && col("n_pairs") - col("n2") > 0,
          round((col("conc") - col("disc")).cast("double") /
            sqrt(((col("n_pairs") - col("n1")) * (col("n_pairs") - col("n2")))
              .cast("double")), 6)).as("tau_b"))
  }

  val all: Seq[Q] = Seq(

    // Spearman rank correlation (p_size vs p_retailprice): average ranks
    // with the tie convention, then Pearson over ranks. DOUBLED average
    // ranks are exact integers (2·r = 2·|{x'<x}| + |{x'=x}| + 1), built
    // from per-VALUE cumulative counts — the rank table is |distinct|
    // rows, not |rows|, and joins back value-to-value, so nothing
    // |rows|-sized crosses a window. Doubling cancels in ρ, and all six
    // moments are exact integers — bit-reproducible at any partitioning.
    Q("q175_spearman_corr", (s, dir) => {
      val p = Tables.part(s, dir).select(
        col("p_partkey"),
        col("p_size").cast("long").as("x"),
        micros(col("p_retailprice")).as("y"))
      def rank2(c: String): org.apache.spark.sql.DataFrame = {
        val w = Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        p.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .withColumn("cle", sum("cnt").over(w))
          .select(col(c), (lit(2) * (col("cle") - col("cnt")) + col("cnt") + 1)
            .as(s"r_$c"))
      }
      val ranked = p
        .join(broadcast(rank2("x")), "x")
        .join(broadcast(rank2("y")), "y")
      val (n, sx, sy, sxy, sxx, syy) = momentsAsDouble
      exactMoments(ranked, col("r_x"), col("r_y")).select(col("n"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
          .as("spearman_rho"))
    }, Some(
      s"""WITH p AS (SELECT CAST(p_size AS BIGINT) AS x,
         |  ${microsSql("p_retailprice")} AS y FROM part),
         |rx AS (SELECT x, 2 * (sum(cnt) OVER (ORDER BY x
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
         |          + cnt + 1 AS r_x
         |       FROM (SELECT x, count(*) AS cnt FROM p GROUP BY x)),
         |ry AS (SELECT y, 2 * (sum(cnt) OVER (ORDER BY y
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
         |          + cnt + 1 AS r_y
         |       FROM (SELECT y, count(*) AS cnt FROM p GROUP BY y)),
         |r AS (SELECT r_x, r_y FROM p JOIN rx USING (x) JOIN ry USING (y)),
         |a AS (SELECT count(*) AS n, sum(r_x) AS sx, sum(r_y) AS sy,
         |        sum(r_x*r_y) AS sxy, sum(r_x*r_x) AS sxx, sum(r_y*r_y) AS syy
         |      FROM r),
         |d AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
         |  CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         |  CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
         |  CAST(syy AS DOUBLE) AS syy FROM a)
         |SELECT n, round((nd*sxy - sx*sy) /
         |  (sqrt(nd*sxx - sx*sx) * sqrt(nd*syy - sy*sy)), 6) AS spearman_rho
         |FROM d""".stripMargin)),

    // Gini coefficient + top-decile share of customer spend (the
    // inequality/concentration audit for traffic, revenue, token
    // budgets). G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over spend sorted
    // ascending. NO per-row rank materializes: x is constant within a
    // tie group, so Σ i·x over the group collapses to the closed form
    // x·(prev·cnt + cnt(cnt+1)/2), and the top-decile membership count
    // is |{i ∈ (prev, prev+cnt] : 10i > 9n}| = clamp(cle − 9n div 10,
    // 0, cnt) — the q175 value-rank trick. The spend census is near-
    // unique per customer, so its cumsum is TWO-LEVEL (q129's scheme):
    // a single-partition prefix only over the integer-dollar BUCKET
    // census (domain-bounded — the spend range, not the customer
    // count), then within-bucket cumsums under a window PARTITIONED by
    // bucket. cle per distinct value is exact and identical; nothing
    // |customers|-sized ever crosses a single partition.
    Q("q176_gini_spend", (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(20, 6))).as("x"))
      val census = spend.groupBy("x").agg(count(lit(1)).as("cnt"))
        .withColumn("b", floor(col("x")).cast("long"))
      val wb = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val buckets = census.groupBy("b").agg(sum("cnt").as("wbk"))
        .withColumn("boff", sum("wbk").over(wb) - col("wbk"))
        .select("b", "boff")
      // floor preserves the x-order across buckets (spend is positive)
      // and x-ties never straddle a bucket edge, so bucket offset +
      // within-bucket cumsum is the global cumulative count exactly
      val wv = Window.partitionBy("b").orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vals = census.join(buckets, "b")
        .withColumn("cle", col("boff") + sum("cnt").over(wv))
        .withColumn("prev", col("cle") - col("cnt"))
        .crossJoin(broadcast(spend.agg(count(lit(1)).as("nn"))))
      val agg = vals.agg(
        sum("cnt").as("n"),
        sum(col("x") * col("cnt")).as("sx"),
        sum(col("x") *
          (col("prev") * col("cnt") + expr("cnt * (cnt + 1) div 2"))).as("six"),
        sum(col("x") *
          greatest(lit(0L), least(col("cnt"),
            col("cle") - expr("nn * 9 div 10")))).as("top_sx"))
      agg.select(col("n"),
        round(col("sx").cast("double"), 2).as("total_spend"),
        round(lit(2.0) * col("six").cast("double") /
          (col("n") * col("sx").cast("double")) -
          (col("n") + lit(1.0)) / col("n"), 6).as("gini"),
        round(col("top_sx").cast("double") / col("sx").cast("double"), 6)
          .as("top_decile_share"))
    }, Some(
      """WITH spend AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(20,6)) AS x
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
        |        count(*) OVER () AS n FROM spend),
        |a AS (SELECT CAST(max(n) AS BIGINT) AS n, sum(x) AS sx, sum(x*i) AS six,
        |        sum(CASE WHEN i * 10 > n * 9 THEN x
        |            ELSE CAST(0 AS DECIMAL(20,6)) END) AS top_sx
        |      FROM r)
        |SELECT n, round(CAST(sx AS DOUBLE), 2) AS total_spend,
        |  round(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
        |    - (n + 1.0) / n, 6) AS gini,
        |  round(CAST(top_sx AS DOUBLE) / CAST(sx AS DOUBLE), 6)
        |    AS top_decile_share
        |FROM a""".stripMargin)),

    // Sample autocorrelation of daily revenue at lags 1/2/3/7 (the
    // seasonality detector feeding q172's decomposition). Mean-centering
    // is done EXACTLY by scaling through n: d_t = n·x_t − Σx is an exact
    // integer, and r_k = Σ d_t·d_{t+k} / Σ d_t² — the n² scale cancels,
    // so no rounded mean ever enters a sum. Lag alignment is an
    // equi-join on day index (tiny daily table), not a window.
    Q("q177_acf_daily", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(micros(col("o_totalprice"))).as("x"))
      val base = daily.crossJoin(broadcast(daily.agg(
          count(lit(1)).as("n"), sum("x").as("sx"),
          min("day").as("d0"))))
        .select(datediff(col("day"), col("d0")).cast("long").as("idx"),
          (col("n") * col("x") - col("sx")).cast(DecimalType(38, 0)).as("d"))
      val den = base.agg(sum((col("d") * col("d")).cast(DecimalType(38, 0)))
        .as("den"))
      val a = base.withColumn("lag", explode(typedLit(Seq(1, 2, 3, 7)))).as("a")
      val b = base.as("b")
      val pairs = a.join(b, col("a.idx") + col("lag") === col("b.idx"))
      pairs.groupBy(col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("a.d") * col("b.d")).cast(DecimalType(38, 0))).as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("acf"))
        .orderBy("lag")
    }, Some(
      s"""WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
         |    CAST(sum(${microsSql("o_totalprice")}) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |g AS (SELECT count(*) AS n, sum(x) AS sx, min(day) AS d0 FROM daily),
         |base AS (SELECT date_diff('day', g.d0, day) AS idx,
         |    CAST(g.n * x - g.sx AS BIGINT) AS d
         |  FROM daily CROSS JOIN g),
         |den AS (SELECT sum(CAST(d AS HUGEINT) * d) AS den FROM base),
         |pairs AS (SELECT t.lag, a.d AS da, b.d AS db
         |  FROM base a CROSS JOIN (SELECT UNNEST([1,2,3,7]) AS lag) t
         |  JOIN base b ON a.idx + t.lag = b.idx)
         |SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n_pairs,
         |  round(CAST(sum(CAST(da AS HUGEINT) * db) AS DOUBLE)
         |    / CAST((SELECT den FROM den) AS DOUBLE), 6) AS acf
         |FROM pairs GROUP BY lag ORDER BY lag""".stripMargin)),

    // Welch's unequal-variance t-test between two deterministic order
    // cohorts (the A/B significance gate next to q170's CUPED): per-arm
    // n/Σ/Σ² as exact integer moments in ONE conditional aggregate (no
    // second scan, no per-arm shuffle), t and the Welch–Satterthwaite
    // df as closed-form doubles over them.
    Q("q178_welch_ttest", (s, dir) => {
      val o = Tables.orders(s, dir).select(
        pmod(col("o_orderkey"), lit(2L)).as("arm"),
        micros(col("o_totalprice")).as("x"))
      val agg = o.agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0L, col("x")).otherwise(0L)
          .cast(DecimalType(38, 0))).as("s0"),
        sum(when(col("arm") === 0L,
          col("x").cast(DecimalType(38, 0)) * col("x"))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).as("ss0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1L, col("x")).otherwise(0L)
          .cast(DecimalType(38, 0))).as("s1"),
        sum(when(col("arm") === 1L,
          col("x").cast(DecimalType(38, 0)) * col("x"))
          .otherwise(lit(0).cast(DecimalType(38, 0)))).as("ss1"))
      val (n0, s0, ss0) = (col("n0").cast("double"),
        col("s0").cast("double"), col("ss0").cast("double"))
      val (n1, s1, ss1) = (col("n1").cast("double"),
        col("s1").cast("double"), col("ss1").cast("double"))
      val v0 = (ss0 - s0 * s0 / n0) / (n0 - 1)
      val v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
      val se2 = v0 / n0 + v1 / n1
      agg.select(col("n0"), col("n1"),
        round(s0 / n0 / 1e6, 6).as("mean0"),
        round(s1 / n1 / 1e6, 6).as("mean1"),
        round((s0 / n0 - s1 / n1) / sqrt(se2), 6).as("t_stat"),
        round(se2 * se2 /
          (v0 * v0 / (n0 * n0 * (n0 - 1)) + v1 * v1 / (n1 * n1 * (n1 - 1))), 3)
          .as("welch_df"))
    }, Some(
      s"""WITH o AS (SELECT o_orderkey % 2 AS arm,
         |  ${microsSql("o_totalprice")} AS x FROM orders),
         |a AS (SELECT
         |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |  sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS s0,
         |  sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS ss0,
         |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS s1,
         |  sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS ss1
         |  FROM o),
         |d AS (SELECT n0, n1,
         |  CAST(n0 AS DOUBLE) AS n0d, CAST(s0 AS DOUBLE) AS s0d,
         |  CAST(ss0 AS DOUBLE) AS ss0d, CAST(n1 AS DOUBLE) AS n1d,
         |  CAST(s1 AS DOUBLE) AS s1d, CAST(ss1 AS DOUBLE) AS ss1d FROM a),
         |v AS (SELECT n0, n1, n0d, n1d, s0d, s1d,
         |  (ss0d - s0d*s0d/n0d) / (n0d - 1) AS v0,
         |  (ss1d - s1d*s1d/n1d) / (n1d - 1) AS v1 FROM d)
         |SELECT n0, n1,
         |  round(s0d/n0d/1e6, 6) AS mean0, round(s1d/n1d/1e6, 6) AS mean1,
         |  round((s0d/n0d - s1d/n1d) / sqrt(v0/n0d + v1/n1d), 6) AS t_stat,
         |  round((v0/n0d + v1/n1d) * (v0/n0d + v1/n1d) /
         |    (v0*v0/(n0d*n0d*(n0d-1)) + v1*v1/(n1d*n1d*(n1d-1))), 3)
         |    AS welch_df
         |FROM v""".stripMargin)),

    // Market-basket association rules at brand granularity (Agrawal &
    // Srikant's support/confidence frame): baskets = distinct brand sets
    // per order, pair counts from the map-side C(n,2) adjacency
    // expansion (bounded by basket size — the coEdges trick), brand
    // marginals broadcast. Both rule directions derive from ONE
    // canonical pair count via a map-side explode; support, confidence
    // and lift are exact integer ratios rounded once. The 0.5% support
    // floor keeps the rule table sparse at any scale.
    Q("q181_assoc_rules", (s, dir) => {
      val ob = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("o"), col("p_brand").as("b"))
      val baskets = ob.groupBy("o").agg(sort_array(collect_set("b")).as("bs"))
        .persist()
      val nOrders = baskets.agg(count(lit(1)).as("n"))
      val marg = baskets.select(explode(col("bs")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("nb"))
      // bounded-chunk expansion (uniform with item-CF/Adamic–Adar/the
      // co-purchase edge build): a mega-basket cannot evaluate its
      // quadratic pair array in one task allocation
      val pairs = Helpers.chunkedPairs(
          baskets.select(col("o").as("c"), col("bs").as("ps")))
        .groupBy(col("i").as("a"), col("j").as("b"))
        .agg(count(lit(1)).as("nab"))
      val rules = pairs
        .select(explode(array(
          struct(col("a").as("ante"), col("b").as("cons"), col("nab")),
          struct(col("b").as("ante"), col("a").as("cons"), col("nab")))).as("r"))
        .select(col("r.ante").as("ante"), col("r.cons").as("cons"), col("r.nab"))
        .join(broadcast(marg.select(col("b").as("ante"), col("nb").as("na"))), "ante")
        .join(broadcast(marg.select(col("b").as("cons"), col("nb").as("nc"))), "cons")
        .crossJoin(broadcast(nOrders))
        .filter(col("nab") * 200 >= col("n"))
      rules.select(col("ante"), col("cons"), col("nab"),
          round(col("nab").cast("double") / col("n"), 6).as("support"),
          round(col("nab").cast("double") / col("na"), 6).as("confidence"),
          round(col("nab").cast("double") * col("n") /
            (col("na").cast("double") * col("nc")), 6).as("lift"))
        .orderBy(desc("lift"), asc("ante"), asc("cons")).limit(10)
    }, Some(
      """WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
        |            FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT count(DISTINCT o) AS n FROM ob),
        |marg AS (SELECT b, count(*) AS nb FROM ob GROUP BY b),
        |pr AS (SELECT x.b AS a, y.b AS b, count(*) AS nab
        |       FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
        |       GROUP BY x.b, y.b),
        |rules AS (SELECT a AS ante, b AS cons, nab FROM pr
        |          UNION ALL SELECT b AS ante, a AS cons, nab FROM pr),
        |k AS (SELECT r.ante, r.cons, r.nab, ma.nb AS na, mc.nb AS nc, n.n
        |      FROM rules r JOIN marg ma ON ma.b = r.ante
        |        JOIN marg mc ON mc.b = r.cons CROSS JOIN n
        |      WHERE r.nab * 200 >= n.n)
        |SELECT ante, cons, nab,
        |  round(CAST(nab AS DOUBLE) / n, 6) AS support,
        |  round(CAST(nab AS DOUBLE) / na, 6) AS confidence,
        |  round(CAST(nab AS DOUBLE) * n / (CAST(na AS DOUBLE) * nc), 6) AS lift
        |FROM k ORDER BY lift DESC, ante, cons LIMIT 10""".stripMargin)),

    // RFM (recency / frequency / monetary) quintile segmentation — the
    // classic customer-value census. ntile(5) semantics are reproduced
    // EXACTLY without any row-granularity global sort: per dimension,
    // the global rank of a customer decomposes into (weight of all
    // earlier value-BUCKETS — a bounded-domain census cumsum, the q175
    // trick) + (row_number WITHIN its bucket — a window PARTITIONED by
    // bucket, distributed across the cluster). The quintile index then
    // falls out of ntile's closed form (first n%5 buckets get one
    // extra row). Buckets: rec = the day itself, freq = the count
    // itself, mon = floor(spend) — all domain-bounded, so only
    // post-aggregate census rows ever cross a single partition.
    Q("q183_rfm_segments", (s, dir) => {
      val maxd = Tables.orders(s, dir).agg(max(to_date(col("o_orderdate"))).as("md"))
      val rfm = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast(DecimalType(20, 6))).as("mon"))
        .crossJoin(broadcast(maxd))
        .select(col("o_custkey"),
          datediff(col("md"), col("last_d")).cast("long").as("rec"),
          col("freq"), col("mon"))
        .persist()
      val nn = rfm.agg(count(lit(1)).as("n"))
      // exact distributed ntile(5) over (value dir, o_custkey asc)
      def quint(vcol: String, descOrd: Boolean, bucket: Column,
                out: String): org.apache.spark.sql.DataFrame = {
        val base = rfm.select(col("o_custkey"), col(vcol),
          bucket.cast("long").as("bk"))
        val bOrd = if (descOrd) col("bk").desc else col("bk").asc
        val wb = Window.orderBy(bOrd)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val offs = base.groupBy("bk").agg(count(lit(1)).as("cnt"))
          .withColumn("off", sum("cnt").over(wb) - col("cnt"))
          .select(col("bk"), col("off"))
        val ww =
          if (descOrd) Window.partitionBy("bk")
            .orderBy(col(vcol).desc, col("o_custkey").asc)
          else Window.partitionBy("bk")
            .orderBy(col(vcol).asc, col("o_custkey").asc)
        base.join(offs, "bk")
          .withColumn("i", col("off") + row_number().over(ww))
          .crossJoin(broadcast(nn))
          .withColumn(out, expr(
            """CASE WHEN i <= (n % 5) * (n div 5 + 1)
              |THEN (i - 1) div (n div 5 + 1) + 1
              |ELSE n % 5 + (i - (n % 5) * (n div 5 + 1) - 1) div (n div 5) + 1
              |END""".stripMargin))
          .select(col("o_custkey"), col(out))
      }
      val scored = rfm.select("o_custkey", "mon")
        .join(quint("rec", descOrd = false, col("rec"), "r"), "o_custkey")
        .join(quint("freq", descOrd = true, col("freq"), "f"), "o_custkey")
        .join(quint("mon", descOrd = true, floor(col("mon")), "m"), "o_custkey")
      scored.groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_customers"),
          round(sum("mon").cast("double"), 2).as("segment_value"))
        .filter(col("n_customers") >= 10)
        .select(col("r").cast("long").as("r"), col("f").cast("long").as("f"),
          col("m").cast("long").as("m"), col("n_customers"),
          col("segment_value"))
        .orderBy("r", "f", "m")
    }, Some(
      """WITH maxd AS (SELECT max(date_trunc('day', o_orderdate)) AS md FROM orders),
        |rfm AS (SELECT o_custkey,
        |    date_diff('day', max(date_trunc('day', o_orderdate)), (SELECT md FROM maxd)) AS rec,
        |    count(*) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(20,6)) AS mon
        |  FROM orders GROUP BY o_custkey),
        |sc AS (SELECT o_custkey, mon,
        |    ntile(5) OVER (ORDER BY rec, o_custkey) AS r,
        |    ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |    ntile(5) OVER (ORDER BY mon DESC, o_custkey) AS m
        |  FROM rfm)
        |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
        |  CAST(m AS BIGINT) AS m, count(*) AS n_customers,
        |  round(CAST(sum(mon) AS DOUBLE), 2) AS segment_value
        |FROM sc GROUP BY r, f, m HAVING count(*) >= 10
        |ORDER BY r, f, m""".stripMargin)),

    // Grid-partitioned spatial distance self-join: deterministic planar
    // coordinates per customer, 1-unit grid cells, candidate pairs from
    // the SAME cell or the 8 neighbors (one map-side 9-cell explode on
    // the probe side — the standard fixed-radius near-neighbor shape:
    // each pair is seen exactly once because the probe targets the
    // neighbor CELL while the build side keeps its home cell), verified
    // with EXACT decimal squared distance ≤ 0.25. No trig, no doubles
    // until the final sqrt — cross-engine boundary ties are impossible.
    Q("q184_grid_distance_join", (s, dir) => {
      val pts = Tables.customer(s, dir).select(col("c_custkey"),
        ((col("c_custkey") * 37 % 1000) / lit(25.0)).cast(DecimalType(12, 2)).as("x"),
        ((col("c_custkey") * 73 % 1000) / lit(25.0)).cast(DecimalType(12, 2)).as("y"))
        .withColumn("cx", floor(col("x")).cast("long"))
        .withColumn("cy", floor(col("y")).cast("long"))
      val probe = pts
        .withColumn("dxy", explode(typedLit(
          for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1) } yield (dx, dy))))
        .select(col("c_custkey").as("ka"), col("x").as("xa"), col("y").as("ya"),
          (col("cx") + col("dxy._1")).as("cx"), (col("cy") + col("dxy._2")).as("cy"))
      val close = probe.join(
          pts.select(col("c_custkey").as("kb"), col("x").as("xb"),
            col("y").as("yb"), col("cx"), col("cy")),
          Seq("cx", "cy"))
        .filter(col("ka") < col("kb"))
        .withColumn("d2", (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .filter(col("d2") <= 0.25)
      close.agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("ka")).as("n_left"),
          // coalesce: the empty-grid case (possible at tiny SF) yields a
          // typed 0.0, not an engine-dependent NULL double
          coalesce(round(sum(round(sqrt(col("d2").cast("double")), 9)
            .cast(DecimalType(20, 12))).cast("double") / count(lit(1)), 6),
            lit(0.0)).as("avg_dist"),
          coalesce(round(min(col("d2").cast("double")), 6), lit(0.0)).as("min_d2"))
    }, Some(
      """WITH pts AS (SELECT c_custkey,
        |    CAST((c_custkey * 37 % 1000) / 25.0 AS DECIMAL(12,2)) AS x,
        |    CAST((c_custkey * 73 % 1000) / 25.0 AS DECIMAL(12,2)) AS y
        |  FROM customer),
        |cells AS (SELECT c_custkey, x, y,
        |    CAST(floor(x) AS BIGINT) AS cx, CAST(floor(y) AS BIGINT) AS cy
        |  FROM pts),
        |probe AS (SELECT c_custkey AS ka, x AS xa, y AS ya,
        |    cx + d.dx AS cx, cy + d.dy AS cy
        |  FROM cells CROSS JOIN (SELECT dx.x AS dx, dy.y AS dy
        |    FROM (SELECT UNNEST([-1,0,1]) AS x) dx,
        |         (SELECT UNNEST([-1,0,1]) AS y) dy) d),
        |close_ AS (SELECT ka, b.c_custkey AS kb,
        |    (xa - b.x) * (xa - b.x) + (ya - b.y) * (ya - b.y) AS d2
        |  FROM probe JOIN cells b USING (cx, cy)
        |  WHERE ka < b.c_custkey)
        |SELECT count(*) AS n_pairs, count(DISTINCT ka) AS n_left,
        |  coalesce(round(CAST(sum(CAST(round(sqrt(CAST(d2 AS DOUBLE)), 9)
        |    AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6), 0.0) AS avg_dist,
        |  coalesce(round(min(CAST(d2 AS DOUBLE)), 6), 0.0) AS min_d2
        |FROM close_ WHERE d2 <= 0.25""".stripMargin)),

    // Rank-1 ALS over the customer×brand purchase matrix — alternating
    // least squares with a CLOSED-FORM half-step (rank 1: the per-row
    // normal equation collapses to u = Σrv/Σv², no matrix solve), two
    // full alternations unrolled from v≡1. Each half-step is one
    // shuffle on the live side of the matrix; factors round to 9dp at
    // every half-step and cross sums go through rounded-contribution
    // decimals, so the trajectory is bit-reproducible on any
    // partitioning (the honest distributed form of MLlib's ALS — same
    // dataflow per iteration, here with an exact-arithmetic contract).
    Q("q185_als_rank1", (s, dir) => {
      val r = customerBrandLines(s, dir)
        .groupBy(col("o_custkey").as("c"), col("p_brand").as("b"))
        .agg(count(lit(1)).as("r"))
        .persist()
      def dsum12(c: Column): Column =
        sum(round(c, 9).cast(DecimalType(24, 12))).cast("double")
      // u-step against a broadcast brand-factor table, v-step as a
      // shuffle on brand (25 keys — at real scale the item side is the
      // broadcast side and users shuffle, exactly this plan's shape)
      val u1 = r.groupBy("c")
        .agg(round(sum("r").cast("double") / count(lit(1)), 9).as("u"))
      val v1 = r.join(u1, "c")
        .groupBy("b")
        .agg(round(dsum12(col("r") * col("u")) /
          dsum12(col("u") * col("u")), 9).as("v"))
      val u2 = r.join(broadcast(v1), "b")
        .groupBy("c")
        .agg(round(dsum12(col("r") * col("v")) /
          dsum12(col("v") * col("v")), 9).as("u"))
      val v2 = r.join(u2, "c")
        .groupBy("b")
        .agg(round(dsum12(col("r") * col("u")) /
          dsum12(col("u") * col("u")), 9).as("v"))
      val nb = r.groupBy("b").agg(count(lit(1)).as("n_raters"))
      v1.select(col("b"), col("v").as("v_1"))
        .join(v2.select(col("b"), col("v").as("v_2")), "b")
        .join(broadcast(nb), "b")
        .select(col("b").as("brand"), col("n_raters"),
          round(col("v_1"), 6).as("v_iter1"), round(col("v_2"), 6).as("v_iter2"))
        .orderBy("brand")
    }, Some {
      def dsum12(e: String): String =
        s"CAST(sum(CAST(round($e, 9) AS DECIMAL(24,12))) AS DOUBLE)"
      s"""WITH r AS (SELECT o_custkey AS c, p_brand AS b, count(*) AS r
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         |    JOIN part ON p_partkey = l_partkey
         |  GROUP BY o_custkey, p_brand),
         |u1 AS (SELECT c, round(CAST(sum(r) AS DOUBLE) / count(*), 9) AS u
         |       FROM r GROUP BY c),
         |v1 AS (SELECT b, round(${dsum12("r.r * u1.u")} /
         |         ${dsum12("u1.u * u1.u")}, 9) AS v
         |       FROM r JOIN u1 USING (c) GROUP BY b),
         |u2 AS (SELECT c, round(${dsum12("r.r * v1.v")} /
         |         ${dsum12("v1.v * v1.v")}, 9) AS u
         |       FROM r JOIN v1 USING (b) GROUP BY c),
         |v2 AS (SELECT b, round(${dsum12("r.r * u2.u")} /
         |         ${dsum12("u2.u * u2.u")}, 9) AS v
         |       FROM r JOIN u2 USING (c) GROUP BY b),
         |nb AS (SELECT b, count(*) AS n_raters FROM r GROUP BY b)
         |SELECT b AS brand, n_raters,
         |  round(v1.v, 6) AS v_iter1, round(v2.v, 6) AS v_iter2
         |FROM v1 JOIN v2 USING (b) JOIN nb USING (b) ORDER BY brand""".stripMargin
    }),

    // Herfindahl–Hirschman concentration of brand purchases per nation —
    // the mixture-concentration audit (same family as q68's domain mix):
    // HHI = Σ n_b² / (Σ n_b)² as EXACT integer arithmetic (no per-share
    // rounding enters the sum), effective-brand count = 1/HHI. One
    // shuffle on (nation, brand); dims broadcast.
    Q("q186_hhi_concentration", (s, dir) => {
      // only nation below is a true 25-row dim (broadcast)
      val cells = nationBrandLines(s, dir)
        .groupBy(col("c_nationkey"), col("p_brand"))
        .agg(count(lit(1)).as("nb"))
      cells.groupBy("c_nationkey")
        .agg(sum("nb").as("n"), sum(col("nb") * col("nb")).as("ssq"),
          count(lit(1)).as("n_brands"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n").as("n_lineitems"),
          col("n_brands"),
          round(col("ssq").cast("double") / (col("n") * col("n")), 6).as("hhi"),
          round(col("n").cast("double") * col("n") / col("ssq"), 4)
            .as("effective_brands"))
        .orderBy("nation")
    }, Some(
      """WITH cells AS (SELECT c_nationkey, p_brand, count(*) AS nb
        |  FROM lineitem
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN customer ON c_custkey = o_custkey
        |    JOIN part ON p_partkey = l_partkey
        |  GROUP BY c_nationkey, p_brand),
        |h AS (SELECT c_nationkey, CAST(sum(nb) AS BIGINT) AS n,
        |    CAST(sum(nb * nb) AS BIGINT) AS ssq, count(*) AS n_brands
        |  FROM cells GROUP BY c_nationkey)
        |SELECT n_name AS nation, n AS n_lineitems, n_brands,
        |  round(CAST(ssq AS DOUBLE) / (n * n), 6) AS hhi,
        |  round(CAST(n AS DOUBLE) * n / ssq, 4) AS effective_brands
        |FROM h JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY nation""".stripMargin)),

    // Winsorized and trimmed means of order value (the robust-location
    // estimators next to q103's MAD screen): exact p5/p95 interpolated
    // bounds broadcast once; winsorizing clips each row (6dp-rounded
    // contributions, exact sum), trimming keeps the closed interval and
    // sums raw decimals exactly. One scan + one tiny percentile pass —
    // no sort of the full table.
    Q("q187_winsorized_mean", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(20, 6)).as("v"))
      val bounds = o.agg(
        percentile(col("v").cast("double"), lit(0.05)).as("p05"),
        percentile(col("v").cast("double"), lit(0.95)).as("p95"))
      val w = o.crossJoin(broadcast(bounds))
      w.agg(
          count(lit(1)).as("n"),
          round(sum("v").cast("double") / count(lit(1)), 6).as("mean_raw"),
          round(sum(round(least(greatest(col("v").cast("double"), col("p05")),
              col("p95")), 6).cast(DecimalType(20, 6))).cast("double") /
            count(lit(1)), 6).as("mean_winsorized"),
          round(sum(when(col("v").cast("double").between(col("p05"), col("p95")),
              col("v")).otherwise(lit(0).cast(DecimalType(20, 6))))
              .cast("double") /
            sum(when(col("v").cast("double").between(col("p05"), col("p95")), 1L)
              .otherwise(0L)), 6).as("mean_trimmed"),
          sum(when(col("v").cast("double").between(col("p05"), col("p95")), 1L)
            .otherwise(0L)).as("n_kept"))
    }, Some(
      """WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(20,6)) AS v
        |           FROM orders),
        |b AS (SELECT quantile_cont(CAST(v AS DOUBLE), 0.05) AS p05,
        |        quantile_cont(CAST(v AS DOUBLE), 0.95) AS p95 FROM o),
        |w AS (SELECT v, p05, p95 FROM o CROSS JOIN b)
        |SELECT count(*) AS n,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_raw,
        |  round(CAST(sum(CAST(round(least(greatest(CAST(v AS DOUBLE), p05), p95), 6)
        |    AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_winsorized,
        |  round(CAST(sum(CASE WHEN CAST(v AS DOUBLE) BETWEEN p05 AND p95
        |    THEN v ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) /
        |    CAST(sum(CASE WHEN CAST(v AS DOUBLE) BETWEEN p05 AND p95
        |      THEN 1 ELSE 0 END) AS BIGINT), 6) AS mean_trimmed,
        |  CAST(sum(CASE WHEN CAST(v AS DOUBLE) BETWEEN p05 AND p95
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM w""".stripMargin)),

    // CUSUM changepoint screen on the daily order-count series: the
    // cumulative drift statistic S_t = Σ_{i≤t}(n·c_i − Σc) is an exact
    // integer for every prefix (mean-centering scaled through n, q177's
    // trick), the changepoint is the |S| argmax (min-day tiebreak), and
    // the before/after means certify the level shift. One tiny daily
    // aggregate + one window cumsum over |days| rows.
    Q("q191_cusum_changepoint", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("c"))
      val base = daily.crossJoin(broadcast(daily.agg(
          count(lit(1)).as("n"), sum("c").as("sc"), min("day").as("d0"))))
        .select(datediff(col("day"), col("d0")).cast("long").as("idx"),
          col("c"), col("n"), (col("n") * col("c") - col("sc")).as("d"))
      val wc = Window.orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = base.withColumn("s", sum("d").over(wc))
      val cp = cum.orderBy(abs(col("s")).desc, col("idx").asc).limit(1)
        .select(col("idx").as("cp_idx"), col("s").as("cusum_peak"))
      cum.crossJoin(broadcast(cp))
        .agg(
          first("cp_idx").as("cp_idx"), first("cusum_peak").as("cusum_peak"),
          count(lit(1)).as("n_days"),
          round(sum(when(col("idx") <= col("cp_idx"), col("c")).otherwise(0L))
              .cast("double") /
            sum(when(col("idx") <= col("cp_idx"), 1L).otherwise(0L)), 6)
            .as("mean_before"),
          round(sum(when(col("idx") > col("cp_idx"), col("c")).otherwise(0L))
              .cast("double") /
            sum(when(col("idx") > col("cp_idx"), 1L).otherwise(0L)), 6)
            .as("mean_after"))
    }, Some(
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
        |    count(*) AS c FROM orders GROUP BY 1),
        |g AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS sc,
        |        min(day) AS d0 FROM daily),
        |base AS (SELECT date_diff('day', g.d0, day) AS idx, c, g.n,
        |    CAST(g.n * c - g.sc AS BIGINT) AS d
        |  FROM daily CROSS JOIN g),
        |cum AS (SELECT idx, c, CAST(sum(d) OVER (ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |  FROM base),
        |cp AS (SELECT idx AS cp_idx, s AS cusum_peak FROM cum
        |       ORDER BY abs(s) DESC, idx LIMIT 1)
        |SELECT cp.cp_idx AS cp_idx, cp.cusum_peak AS cusum_peak,
        |  count(*) AS n_days,
        |  round(CAST(sum(CASE WHEN idx <= cp_idx THEN c ELSE 0 END) AS DOUBLE) /
        |    sum(CASE WHEN idx <= cp_idx THEN 1 ELSE 0 END), 6) AS mean_before,
        |  round(CAST(sum(CASE WHEN idx > cp_idx THEN c ELSE 0 END) AS DOUBLE) /
        |    sum(CASE WHEN idx > cp_idx THEN 1 ELSE 0 END), 6) AS mean_after
        |FROM cum CROSS JOIN cp GROUP BY cp.cp_idx, cp.cusum_peak""".stripMargin)),

    // Quantile normalization across sources (the batch-effect remover):
    // each source's documents are decile-ranked on n_chars, the
    // cross-source REFERENCE profile is the mean of per-source decile
    // means (rounded-contribution decimals), and each (source, decile)
    // maps raw → reference. The per-source rank is the only sort; the
    // profile is a 10-row broadcast.
    Q("q192_quantile_normalize", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        col("n_chars"))
      val ranked = d.withColumn("dec",
        ntile(10).over(Window.partitionBy("source")
          .orderBy(asc("n_chars"), asc("doc_id"))).cast("long"))
      val cell = ranked.groupBy("source", "dec")
        .agg(count(lit(1)).as("n"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
            .as("raw_mean"))
      val ref = cell.groupBy("dec")
        .agg(round(sum(col("raw_mean").cast(DecimalType(24, 10))).cast("double") /
          count(lit(1)), 6).as("ref_mean"))
      cell.join(broadcast(ref), "dec")
        .select(col("source"), col("dec"), col("n"), col("raw_mean"),
          col("ref_mean"),
          round(col("ref_mean") - col("raw_mean"), 6).as("shift"))
        .orderBy("source", "dec")
    }, Some(
      """WITH r AS (SELECT source, n_chars,
        |    CAST(ntile(10) OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS BIGINT) AS dec
        |  FROM documents),
        |cell AS (SELECT source, dec, count(*) AS n,
        |    round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS raw_mean
        |  FROM r GROUP BY source, dec),
        |ref AS (SELECT dec,
        |    round(CAST(sum(CAST(raw_mean AS DECIMAL(24,10))) AS DOUBLE)
        |      / count(*), 6) AS ref_mean
        |  FROM cell GROUP BY dec)
        |SELECT source, dec, n, raw_mean, ref_mean,
        |  round(ref_mean - raw_mean, 6) AS shift
        |FROM cell JOIN ref USING (dec) ORDER BY source, dec""".stripMargin)),

    // Theil–Sen robust trend of daily revenue: the median of pairwise
    // slopes over day pairs within a 120-day horizon — the estimator
    // that shrugs off the outlier days that wreck OLS (q149). The pair
    // table is |days|·120, NOT |rows|² — daily aggregation first makes
    // pairwise affordable at any scale; slopes are exact-integer
    // differences divided once, and the median is one interpolated
    // percentile over them.
    Q("q193_theil_sen", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(micros(col("o_totalprice"))).as("x"))
      val base = daily.crossJoin(broadcast(daily.agg(min("day").as("d0"))))
        .select(datediff(col("day"), col("d0")).cast("long").as("idx"), col("x"))
      val a = base.as("a")
      val b = base.as("b")
      val slopes = a.join(b,
          col("b.idx") > col("a.idx") && col("b.idx") <= col("a.idx") + 120)
        .select(((col("b.x") - col("a.x")).cast("double") /
          (col("b.idx") - col("a.idx")) / 1e6).as("slope"))
      slopes.agg(count(lit(1)).as("n_pairs"),
        round(percentile(col("slope"), lit(0.5)), 6).as("theil_sen_slope"),
        round(percentile(col("slope"), lit(0.25)), 6).as("slope_p25"),
        round(percentile(col("slope"), lit(0.75)), 6).as("slope_p75"))
    }, Some(
      s"""WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
         |    CAST(sum(${microsSql("o_totalprice")}) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |base AS (SELECT date_diff('day',
         |    (SELECT min(day) FROM daily), day) AS idx, x FROM daily),
         |sl AS (SELECT (CAST(b.x - a.x AS DOUBLE) / (b.idx - a.idx)) / 1e6 AS slope
         |  FROM base a JOIN base b
         |    ON b.idx > a.idx AND b.idx <= a.idx + 120)
         |SELECT count(*) AS n_pairs,
         |  round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope,
         |  round(quantile_cont(slope, 0.25), 6) AS slope_p25,
         |  round(quantile_cont(slope, 0.75), 6) AS slope_p75
         |FROM sl""".stripMargin)),

    // Sorted-neighborhood dedup blocking (Hernández & Stolfo's merge/
    // purge): sort documents by a 20-char content key, window of ±3
    // neighbors as candidates (a map-side self-join on rank bands —
    // candidate count is 3n, not n²), verify with bounded edit distance
    // on the 60-char prefix. The THIRD blocking family next to LSH
    // (q17) and id-blocking (q74) — sliding-window blocking catches
    // near-keys that hash blocking splits. The global sort is the honest
    // cost (range partition at scale).
    Q("q194_sorted_neighborhood", (s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
          substring(TextOps.cleanText(col("text")), 1, 20).as("k"),
          substring(TextOps.cleanText(col("text")), 1, 60).as("p"))
        .withColumn("rn", row_number().over(
          Window.orderBy(asc("k"), asc("doc_id"))).cast("long"))
      // rank-band candidates as an EQUI-join: probe side carries rn+off
      // for off ∈ {1,2,3} (map-side explode) — a hash join on rn, not a
      // nested-loop range join
      val a = keyed.withColumn("off", explode(typedLit(Seq(1L, 2L, 3L))))
        .select(col("doc_id").as("da"), col("p").as("pa"),
          (col("rn") + col("off")).as("rn"))
      val b = keyed.select(col("doc_id").as("db"), col("p").as("pb"), col("rn"))
      a.join(b, "rn")
        .select(col("da"), col("db"),
          levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
        .filter(col("dist") <= 10)
        .orderBy("da", "db")
    }, Some(
      s"""WITH keyed AS (SELECT doc_id,
         |    substr(${cleanTextSql("text")}, 1, 20) AS k,
         |    substr(${cleanTextSql("text")}, 1, 60) AS p
         |  FROM documents),
         |r AS (SELECT doc_id, p,
         |    CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS rn
         |  FROM keyed)
         |SELECT a.doc_id AS da, b.doc_id AS db,
         |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
         |FROM r a CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS o) t
         |JOIN r b ON b.rn = a.rn + t.o
         |WHERE levenshtein(a.p, b.p) <= 10
         |ORDER BY da, db""".stripMargin)),

    // Forecast backtest: naive (x_{t−1}) vs seasonal-naive (x_{t−7})
    // daily-revenue forecasts scored over the last 28 days with
    // MAE / RMSE / MAPE — the baseline gate every forecasting pipeline
    // must beat. Errors are exact integer differences of daily micro
    // sums; squares go through decimals; MAPE contributions round to
    // 9dp then sum exactly. Lag alignment is an equi-join on day index
    // against the tiny daily table.
    Q("q195_forecast_backtest", (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(micros(col("o_totalprice"))).as("x"))
      val base = daily.crossJoin(broadcast(daily.agg(
          min("day").as("d0"), max("day").as("d1"))))
        .select(datediff(col("day"), col("d0")).cast("long").as("idx"),
          datediff(col("d1"), col("d0")).cast("long").as("maxidx"), col("x"))
        .persist()
      val eval = base.filter(col("idx") > col("maxidx") - 28)
      def scoreLag(lag: Int, name: String) = {
        val f = base.select((col("idx") + lag).as("idx"), col("x").as("fx"))
        eval.join(f, "idx")
          .select((col("x") - col("fx")).as("e"), col("x"))
          .agg(lit(name).as("model"), count(lit(1)).as("n"),
            round(sum(abs(col("e")).cast(DecimalType(38, 0))).cast("double") /
              count(lit(1)) / 1e6, 4).as("mae"),
            round(sqrt(sum((col("e").cast(DecimalType(38, 0)) * col("e")))
              .cast("double") / count(lit(1))) / 1e6, 4).as("rmse"),
            round(sum(round(abs(col("e")).cast("double") / col("x"), 9)
              .cast(DecimalType(20, 12))).cast("double") / count(lit(1)), 6)
              .as("mape"))
      }
      scoreLag(1, "naive").unionByName(scoreLag(7, "seasonal_naive"))
        .orderBy("model")
    }, Some(
      s"""WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
         |    CAST(sum(${microsSql("o_totalprice")}) AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |g AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |base AS (SELECT date_diff('day', g.d0, day) AS idx,
         |    date_diff('day', g.d0, g.d1) AS maxidx, x
         |  FROM daily CROSS JOIN g),
         |ev AS (SELECT * FROM base WHERE idx > maxidx - 28),
         |sc AS (SELECT t.model, ev.x,
         |    ev.x - f.x AS e
         |  FROM ev CROSS JOIN (SELECT UNNEST(['naive', 'seasonal_naive']) AS model) t
         |  JOIN base f ON f.idx = ev.idx - (CASE WHEN t.model = 'naive' THEN 1 ELSE 7 END))
         |SELECT model, count(*) AS n,
         |  round(CAST(sum(CAST(abs(e) AS HUGEINT)) AS DOUBLE) / count(*) / 1e6, 4)
         |    AS mae,
         |  round(sqrt(CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE) / count(*)) / 1e6, 4)
         |    AS rmse,
         |  round(CAST(sum(CAST(round(CAST(abs(e) AS DOUBLE) / x, 9)
         |    AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS mape
         |FROM sc GROUP BY model ORDER BY model""".stripMargin)),

    // One-way ANOVA across market segments on account balance: SSB/SSW
    // from per-group exact integer moments (one groupBy + one 5-row
    // fold), F statistic, degrees of freedom, and η² effect size as
    // closed-form doubles over them — the multi-arm generalization of
    // q178's two-sample test.
    Q("q196_anova_f", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_mktsegment"),
        micros(col("c_acctbal")).as("x"))
      val g = c.groupBy("c_mktsegment").agg(
        count(lit(1)).as("ng"),
        sum(col("x").cast(DecimalType(38, 0))).as("sg"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("ssg"))
      val agg = g.agg(
        count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sg").as("st"), sum("ssg").as("sst"),
        // sg²/ng ≈ 1e23 micros²: every double that large is integral, so
        // round(·,0) + the decimal cast is EXACT and the 5-term sum is
        // order-free; the sub-micro² truncation is 1e-18-relative noise
        sum(round(col("sg").cast("double") * col("sg").cast("double") /
          col("ng"), 0).cast(DecimalType(38, 0))).as("sb"))
      val (k, n, st, sst, sb) = (col("k").cast("double"), col("n").cast("double"),
        col("st").cast("double"), col("sst").cast("double"),
        col("sb").cast("double"))
      val ssb = sb - st * st / n
      val ssw = sst - sb
      agg.select(col("k"), col("n"),
        round(ssb / (k - 1) / (ssw / (n - k)), 6).as("f_stat"),
        (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
        round(ssb / (ssb + ssw), 6).as("eta_sq"))
    }, Some(
      s"""WITH c AS (SELECT c_mktsegment, ${microsSql("c_acctbal")} AS x
         |           FROM customer),
         |g AS (SELECT c_mktsegment, count(*) AS ng,
         |    sum(CAST(x AS HUGEINT)) AS sg, sum(CAST(x AS HUGEINT) * x) AS ssg
         |  FROM c GROUP BY c_mktsegment),
         |a AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
         |    sum(sg) AS st, sum(ssg) AS sst,
         |    sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng, 0)
         |      AS DECIMAL(38,0))) AS sb
         |  FROM g),
         |d AS (SELECT CAST(k AS BIGINT) AS k, n, CAST(k AS DOUBLE) AS kd,
         |    CAST(n AS DOUBLE) AS nd, CAST(st AS DOUBLE) AS st,
         |    CAST(sst AS DOUBLE) AS sst, CAST(sb AS DOUBLE) AS sb FROM a),
         |e AS (SELECT k, n, kd, nd,
         |    sb - st * st / nd AS ssb, sst - sb AS ssw FROM d)
         |SELECT k, n, round(ssb / (kd - 1) / (ssw / (nd - kd)), 6) AS f_stat,
         |  k - 1 AS df1, n - k AS df2,
         |  round(ssb / (ssb + ssw), 6) AS eta_sq
         |FROM e""".stripMargin)),

    // Vocabulary-coverage curve: share of corpus tokens covered by the
    // top-V vocabulary at V ∈ {5, 10, 20, 50} — the tokenizer-sizing
    // curve (complements q89's OOV rate at one fixed V). Counts are one
    // shuffle on term; the cumulative share is a window over the
    // VOCAB-sized count table (never corpus-sized rows), checkpointed
    // by a map-side band filter.
    Q("q198_vocab_coverage", (s, dir) => {
      val cnt = Tables.documents(s, dir)
        .select(explode(split(TextOps.cleanText(col("text")), " ")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy("term").agg(count(lit(1)).as("cf"))
      val tot = cnt.agg(sum("cf").as("tot"), count(lit(1)).as("vocab"))
      val w = Window.orderBy(desc("cf"), asc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = cnt
        .withColumn("rn", row_number().over(Window.orderBy(desc("cf"), asc("term"))))
        .withColumn("cum", sum("cf").over(w))
      ranked.filter(col("rn").isin(5, 10, 20, 50))
        .crossJoin(broadcast(tot))
        .select(col("rn").cast("long").as("top_v"), col("vocab"),
          col("cum").as("tokens_covered"),
          round(col("cum").cast("double") / col("tot"), 6).as("coverage"))
        .orderBy("top_v")
    }, Some(
      s"""WITH cnt AS (SELECT term, count(*) AS cf FROM (
         |    SELECT unnest(string_split(${cleanTextSql("text")}, ' ')) AS term
         |    FROM documents) WHERE length(term) >= 3 GROUP BY term),
         |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS tot, count(*) AS vocab FROM cnt),
         |r AS (SELECT term, cf,
         |    CAST(row_number() OVER (ORDER BY cf DESC, term) AS BIGINT) AS rn,
         |    CAST(sum(cf) OVER (ORDER BY cf DESC, term
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM cnt)
         |SELECT rn AS top_v, vocab, cum AS tokens_covered,
         |  round(CAST(cum AS DOUBLE) / tot, 6) AS coverage
         |FROM r CROSS JOIN tot WHERE rn IN (5, 10, 20, 50)
         |ORDER BY top_v""".stripMargin)),

    // Pairwise KS divergence matrix across sources (generalizes q94's
    // one-pair test to the full ingest-monitoring grid): per-source
    // CDFs are evaluated on the pooled value grid (per-source window
    // cumsum over the |values|-sized grid, never |rows|), then one
    // self-join on value computes sup|F_a − F_b| for all C(20,2) pairs
    // at once. CDF values are exact rationals. Top-5 most-divergent
    // pairs — the "which source drifted" answer in one pass.
    Q("q199_ks_matrix", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"), col("n_chars"))
      val counts = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val totals = d.groupBy("source").agg(count(lit(1)).as("n"))
      val values = d.select("n_chars").distinct()
      val grid = values.crossJoin(broadcast(totals))
        .join(counts, Seq("source", "n_chars"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wc = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid.withColumn("cum", sum("c").over(wc))
        .select(col("source"), col("n_chars"), col("cum"), col("n"))
      val a = cdf.as("a")
      val b = cdf.as("b")
      a.join(b, col("a.n_chars") === col("b.n_chars") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(max(abs(col("a.cum") * col("b.n") - col("b.cum") * col("a.n")))
          .as("num"), first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
        .select(col("source_a"), col("source_b"),
          round(col("num").cast("double") / (col("na") * col("nb")), 6).as("ks"))
        .orderBy(desc("ks"), asc("source_a"), asc("source_b")).limit(5)
    }, Some(
      """WITH d AS (SELECT source, n_chars FROM documents),
        |counts AS (SELECT source, n_chars, count(*) AS c
        |           FROM d GROUP BY source, n_chars),
        |totals AS (SELECT source, count(*) AS n FROM d GROUP BY source),
        |vals AS (SELECT DISTINCT n_chars FROM d),
        |grid AS (SELECT t.source, v.n_chars, t.n, coalesce(c.c, 0) AS c
        |  FROM vals v CROSS JOIN totals t
        |  LEFT JOIN counts c ON c.source = t.source AND c.n_chars = v.n_chars),
        |cdf AS (SELECT source, n_chars, n,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM grid),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    max(abs(a.cum * b.n - b.cum * a.n)) AS num,
        |    min(a.n) AS na, min(b.n) AS nb
        |  FROM cdf a JOIN cdf b
        |    ON a.n_chars = b.n_chars AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT source_a, source_b,
        |  round(CAST(num AS DOUBLE) / (na * nb), 6) AS ks
        |FROM p ORDER BY ks DESC, source_a, source_b LIMIT 5""".stripMargin)),

    // Kaplan–Meier survival of customer lifetime (first→last order
    // span; churn event if the last order predates the 30-day horizon,
    // else censored): Ŝ(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ) computed as
    // exp(Σ ln(1−dᵢ/nᵢ)) — the product becomes a WINDOW CUMSUM of
    // 9dp-rounded log terms over the |distinct lifetimes|-sized risk
    // table, the canonical trick for distributed running products.
    // Read out at fixed horizons {30,90,180,365}.
    Q("q202_kaplan_meier", (s, dir) => {
      val span = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
      val g = span.agg(max("last_d").as("gmax"))
      val life = span.crossJoin(broadcast(g))
        .select(datediff(col("last_d"), col("first_d")).cast("long").as("t"),
          when(datediff(col("gmax"), col("last_d")) > 30, 1L).otherwise(0L)
            .as("event"))
      val tot = life.agg(count(lit(1)).as("n_total"))
      // risk table: deaths at t; at-risk = those with lifetime ≥ t
      val byT = life.groupBy("t")
        .agg(sum("event").as("d"), count(lit(1)).as("c"))
      val wAll = Window.orderBy(desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = byT.withColumn("n_risk", sum("c").over(wAll))
        .filter(col("d") > 0)
      val wS = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val surv = risk
        // terminal event (d = n_risk): survival hits exactly 0 — a −1e6
        // log term underflows exp() to 0.0 identically in both engines
        .withColumn("lg", when(col("d") === col("n_risk"), lit(-1e6))
          .otherwise(round(log(lit(1.0) - col("d").cast("double") /
            col("n_risk")), 9)))
        .withColumn("cuml", sum(col("lg").cast(DecimalType(20, 12))).over(wS))
        .select(col("t"), col("d"), col("n_risk"),
          round(exp(col("cuml").cast("double")), 6).as("s"))
      val horizons = surv.crossJoin(broadcast(
          s.range(1).select(explode(typedLit(Seq(30L, 90L, 180L, 365L))).as("h"))))
        .filter(col("t") <= col("h"))
        .groupBy("h").agg(max_by(col("s"), col("t")).as("survival"),
          max("t").as("last_event_t"))
      horizons.crossJoin(broadcast(tot))
        .select(col("h").as("horizon_days"), col("survival"),
          col("last_event_t"), col("n_total"))
        .orderBy("horizon_days")
    }, Some(
      """WITH span AS (SELECT o_custkey,
        |    min(date_trunc('day', o_orderdate)) AS first_d,
        |    max(date_trunc('day', o_orderdate)) AS last_d
        |  FROM orders GROUP BY o_custkey),
        |g AS (SELECT max(last_d) AS gmax FROM span),
        |life AS (SELECT date_diff('day', first_d, last_d) AS t,
        |    CASE WHEN date_diff('day', last_d, g.gmax) > 30 THEN 1 ELSE 0 END
        |      AS event
        |  FROM span CROSS JOIN g),
        |tot AS (SELECT count(*) AS n_total FROM life),
        |byt AS (SELECT t, CAST(sum(event) AS BIGINT) AS d, count(*) AS c
        |        FROM life GROUP BY t),
        |risk AS (SELECT t, d, CAST(sum(c) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM byt),
        |surv AS (SELECT t, d, n_risk,
        |    round(exp(CAST(sum(CAST(CASE WHEN d = n_risk THEN -1e6
        |      ELSE round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9) END
        |      AS DECIMAL(20,12))) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6)
        |      AS s
        |  FROM risk WHERE d > 0),
        |h AS (SELECT UNNEST([30, 90, 180, 365]) AS h),
        |pick AS (SELECT h.h, max(surv.t) AS last_event_t
        |  FROM h JOIN surv ON surv.t <= h.h GROUP BY h.h)
        |SELECT CAST(pick.h AS BIGINT) AS horizon_days, surv.s AS survival,
        |  pick.last_event_t AS last_event_t, tot.n_total AS n_total
        |FROM pick JOIN surv ON surv.t = pick.last_event_t CROSS JOIN tot
        |ORDER BY horizon_days""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // key(i) = −ln(uᵢ)/wᵢ with uᵢ a StableHash-derived uniform — the
    // k smallest keys ARE a weighted sample, drawn in ONE distributed
    // pass with no sequential draw loop. Deterministic: same hash, same
    // keys, same sample in both engines. The importance-sampling
    // primitive for value-weighted corpus subsetting.
    Q("q203_weighted_sample", (s, dir) => {
      import graft.text.StableHash64
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice"),
        (pmod(StableHash64(concat(lit("ws:"), col("o_orderkey").cast("string"))),
          lit(1000000000L)) + 1).as("hu"))
      o.select(col("o_orderkey"), col("o_totalprice"),
          round(-log(col("hu").cast("double") / 1.000000001e9) /
            col("o_totalprice") * 1e6, 9).as("key"))
        .orderBy(asc("key"), asc("o_orderkey")).limit(20)
    }, Some {
      val h = graft.text.StableHash.hashes64Sql(
        "['ws:' || CAST(o_orderkey AS VARCHAR)]") + "[1]"
      s"""WITH o AS (SELECT o_orderkey, o_totalprice,
         |    ((CAST(CASE WHEN $h >= 9223372036854775808
         |        THEN $h - 18446744073709551616 ELSE $h END AS BIGINT)
         |      % 1000000000) + 1000000000) % 1000000000 + 1 AS hu
         |  FROM orders)
         |SELECT o_orderkey, o_totalprice,
         |  round(-ln(CAST(hu AS DOUBLE) / 1.000000001e9) / o_totalprice * 1e6, 9)
         |    AS key
         |FROM o ORDER BY key, o_orderkey LIMIT 20""".stripMargin
    }),

    // Forward-fill (LOCF) imputation over the gappy daily revenue
    // series: build the dense calendar grid (q47's shape), then
    // last_value(IGNORE NULLS) over an ordered window carries the last
    // observation forward — the standard time-series imputation, as one
    // window over the |days|-sized grid. Census: how many days were
    // imputed, plus the exact filled-series total.
    Q("q208_locf_impute", (s, dir) => {
      val daily = Tables.orders(s, dir)
        // sparsify deterministically: drop ~third of days to create gaps
        .filter(pmod(dayofmonth(col("o_orderdate")), lit(3)) =!= 0)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(micros(col("o_totalprice"))).as("x"))
      val bounds = Tables.orders(s, dir)
        .agg(to_date(min(col("o_orderdate"))).as("d0"),
          to_date(max(col("o_orderdate"))).as("d1"))
      val grid = bounds
        .select(explode(sequence(lit(0L), datediff(col("d1"), col("d0"))))
          .as("idx"), col("d0"))
        .select(col("idx"), date_add(col("d0"), col("idx").cast("int")).as("day"))
      val joined = grid.join(daily, Seq("day"), "left")
      val w = Window.orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = joined.withColumn("fx",
        last(col("x"), ignoreNulls = true).over(w))
      filled.agg(count(lit(1)).as("n_days"),
          sum(when(col("x").isNull, 1L).otherwise(0L)).as("n_imputed"),
          sum(when(col("x").isNull && col("fx").isNull, 1L).otherwise(0L))
            .as("n_unfillable"),
          round(sum(coalesce(col("fx"), lit(0L)).cast(DecimalType(38, 0)))
            .cast("double") / 1e6, 2).as("filled_total"))
    }, Some(
      s"""WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
         |    CAST(sum(${microsSql("o_totalprice")}) AS BIGINT) AS x
         |  FROM orders WHERE day(o_orderdate) % 3 <> 0 GROUP BY 1),
         |b AS (SELECT date_trunc('day', min(o_orderdate)) AS d0,
         |        date_trunc('day', max(o_orderdate)) AS d1 FROM orders),
         |grid AS (SELECT u.i AS idx, d0 + to_days(CAST(u.i AS INT)) AS day
         |  FROM b, UNNEST(range(0, date_diff('day', d0, d1) + 1)) AS u(i)),
         |j AS (SELECT grid.idx, daily.x FROM grid LEFT JOIN daily USING (day)),
         |f AS (SELECT idx, x, last_value(x IGNORE NULLS) OVER (ORDER BY idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fx
         |  FROM j)
         |SELECT count(*) AS n_days,
         |  CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
         |  CAST(sum(CASE WHEN x IS NULL AND fx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unfillable,
         |  round(CAST(sum(CAST(coalesce(fx, 0) AS HUGEINT)) AS DOUBLE) / 1e6, 2)
         |    AS filled_total
         |FROM f""".stripMargin)),

    // Per-dimension embedding standardization stats (the whitening
    // front-end of vector pipelines): posexplode to (dim, value),
    // exact micro-integer moments per dimension, mean/σ/min/max for
    // every coordinate — one shuffle on the 64-key dim column, counts
    // bounded by dim × corpus. The feature-scaling audit before any
    // distance computation.
    Q("q209_embedding_standardize", (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(posexplode(graft.vector.VectorOps.asDouble(col("embedding")))
          .as(Seq("pos", "v")))
        .select(col("pos").cast("long").as("dim"),
          (col("v").cast(DecimalType(20, 9)) * 1000000000L).cast("long").as("nv"))
      e.groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("nv").cast(DecimalType(38, 0))).as("s"),
          sum(col("nv").cast(DecimalType(38, 0)) * col("nv")).as("ss"),
          min("nv").as("mn"), max("nv").as("mx"))
        .select(col("dim"),
          round(col("s").cast("double") / col("n") / 1e9, 6).as("mean"),
          round(sqrt(col("ss").cast("double") / col("n") -
            (col("s").cast("double") / col("n")) *
            (col("s").cast("double") / col("n"))) / 1e9, 6).as("std"),
          round(col("mn") / 1e9, 6).as("min_v"),
          round(col("mx") / 1e9, 6).as("max_v"))
        .orderBy("dim")
    }, Some(
      """WITH e AS (SELECT pos1 - 1 AS dim,
        |    CAST(CAST(v AS DECIMAL(20,9)) * 1000000000 AS BIGINT) AS nv
        |  FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
        |          generate_subscripts(embedding, 1) AS pos1 FROM embeddings)),
        |a AS (SELECT dim, count(*) AS n, sum(CAST(nv AS HUGEINT)) AS s,
        |    sum(CAST(nv AS HUGEINT) * nv) AS ss,
        |    min(nv) AS mn, max(nv) AS mx
        |  FROM e GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  round(CAST(s AS DOUBLE) / n / 1e9, 6) AS mean,
        |  round(sqrt(CAST(ss AS DOUBLE) / n -
        |    (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 1e9, 6) AS std,
        |  round(mn / 1e9, 6) AS min_v, round(mx / 1e9, 6) AS max_v
        |FROM a ORDER BY dim""".stripMargin)),

    // Burstiness / index-of-dispersion per event type: Fano factor
    // D = Var/Mean of the per-hour event counts (D≈1 ⇒ Poisson-like,
    // D≫1 ⇒ bursty — the traffic-shape diagnostic for capacity and
    // anomaly work). Hourly counts are one keyed aggregate; the
    // variance comes from exact integer moments per type.
    Q("q210_burstiness", (s, dir) => {
      val hourly = EventQueries.events(s, dir)
        .groupBy(col("event_type"), expr("ts div 3600000000000").as("hr"))
        .agg(count(lit(1)).as("c"))
      hourly.groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"),
          sum("c").as("s"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("event_type"), col("n_hours"),
          col("s").as("n_events"),
          round(col("s").cast("double") / col("n_hours"), 6).as("mean_per_hr"),
          round((col("ss").cast("double") / col("n_hours") -
            (col("s").cast("double") / col("n_hours")) *
            (col("s").cast("double") / col("n_hours"))) /
            (col("s").cast("double") / col("n_hours")), 6).as("fano"))
        .orderBy("event_type")
    }, Some(
      """WITH hourly AS (SELECT event_type,
        |    CAST(floor(epoch_ns(ts) / 3600000000000) AS BIGINT) AS hr,
        |    count(*) AS c
        |  FROM events GROUP BY event_type, hr),
        |a AS (SELECT event_type, count(*) AS n_hours,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM hourly GROUP BY event_type)
        |SELECT event_type, n_hours, s AS n_events,
        |  round(CAST(s AS DOUBLE) / n_hours, 6) AS mean_per_hr,
        |  round((CAST(ss AS DOUBLE) / n_hours -
        |    (CAST(s AS DOUBLE) / n_hours) * (CAST(s AS DOUBLE) / n_hours)) /
        |    (CAST(s AS DOUBLE) / n_hours), 6) AS fano
        |FROM a ORDER BY event_type""".stripMargin)),

    // Brier score + log-loss for q138's scorer — the PROPER scoring
    // rules that complement threshold metrics (q139) and ranking metrics
    // (q140). Per-row contributions are rounded to 9dp (the transcendental
    // seam: exp/ln agree across engines far below 1e-9 relative), then
    // summed exactly — the corpus mean is order-independent.
    Q("q179_brier_logloss", (s, dir) => {
      val sc = EvalQueries.scoredDf(s, dir)
      val p = lit(1.0) / (lit(1.0) + exp(-col("z")))
      val m = (lit(2.0) * col("y") - 1) * col("z")
      val rows = sc.select(col("y"),
        round(pow(p - col("y"), 2), 9).as("b"),
        // softplus(-m) = ln(1+e^{-m}), stable branch for either sign
        round(when(col("z") * (lit(2) * col("y") - 1) >= 0,
          log(lit(1.0) + exp(-m)))
          .otherwise(-m + log(lit(1.0) + exp(m))), 9).as("ll"))
      rows.agg(count(lit(1)).as("n"),
        round(sum(col("b").cast(DecimalType(20, 12))).cast("double") /
          count(lit(1)), 6).as("brier"),
        round(sum(col("ll").cast(DecimalType(20, 12))).cast("double") /
          count(lit(1)), 6).as("log_loss"))
    }, Some(
      s"""WITH ${EvalQueries.scoredCteSql},
         |rows_ AS (SELECT y,
         |    round(pow(1.0/(1.0 + exp(-z)) - y, 2), 9) AS b,
         |    round(CASE WHEN z * (2*y - 1) >= 0
         |      THEN ln(1.0 + exp(-((2.0*y - 1) * z)))
         |      ELSE -((2.0*y - 1) * z) + ln(1.0 + exp((2.0*y - 1) * z)) END,
         |      9) AS ll
         |  FROM sc)
         |SELECT count(*) AS n,
         |  round(CAST(sum(CAST(b AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6)
         |    AS brier,
         |  round(CAST(sum(CAST(ll AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6)
         |    AS log_loss
         |FROM rows_""".stripMargin)),

    // Benford first-digit audit over order totals — the forensic
    // data-quality screen (Benford 1938; Nigrini's fraud-detection
    // use). The leading digit comes from the DECIMAL(18,2) string
    // form (identical text on both engines — no log10-of-data
    // fp hazard), and the expected Benford mass log10(1+1/d) is
    // computed ONCE here and inlined as the same full-precision
    // literal into both the Spark plan and the generated oracle SQL,
    // so the chi-square arithmetic is bit-identical. One row per
    // digit with the per-digit chi-square contribution.
    {
      val benford = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
      Q("q215_benford_audit", (s, dir) => {
        val digits = Tables.orders(s, dir).select(
          substring(col("o_totalprice").cast(DecimalType(18, 2))
            .cast("string"), 1, 1).cast("int").as("digit"))
        val expCol = benford.foldLeft(lit(Double.NaN): Column) {
          case (acc, (d, e)) => when(col("digit") === d, lit(e)).otherwise(acc)
        }
        val tot = digits.agg(count(lit(1)).as("tot"))
        digits.groupBy("digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            round(col("n").cast("double") / col("tot"), 6).as("obs_frac"),
            round(expCol, 6).as("exp_frac"),
            round(pow(col("n").cast("double") - col("tot") * expCol, 2)
              / (col("tot") * expCol), 6).as("chi2_part"))
          .orderBy("digit")
      }, Some {
        val expSql = "(CASE digit " + benford.map { case (d, e) =>
          s"WHEN $d THEN CAST($e AS DOUBLE)"
        }.mkString(" ") + " END)"
        s"""WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
           |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
           |t AS (SELECT count(*) AS tot FROM d)
           |SELECT digit, n,
           |  round(CAST(n AS DOUBLE) / tot, 6) AS obs_frac,
           |  round($expSql, 6) AS exp_frac,
           |  round(pow(CAST(n AS DOUBLE) - tot * $expSql, 2)
           |    / (tot * $expSql), 6) AS chi2_part
           |FROM g, t ORDER BY digit""".stripMargin
      })
    },

    // Incremental aggregate maintenance — the pattern every 100 TB
    // pipeline actually runs: yesterday's MATERIALIZED partial-agg
    // state (count / exact decimal sum / min / max per day×type, a
    // mergeable commutative monoid) is combined with a late-arriving
    // delta batch by re-aggregating the two partial-state tables —
    // the base fact rows are never touched again. The delta split is
    // deterministic (event_id % 7) and deliberately overlaps every
    // key, so the merge path is exercised on each group. The oracle
    // recomputes from scratch over all rows: exact-decimal
    // associativity makes merged == direct, bit-for-bit.
    Q("q216_incremental_agg", (s, dir) => {
      val nanosPerDay = 86400L * 1000000000L
      val ev = EventQueries.events(s, dir).select(
        col("event_id"), col("event_type"), col("value"),
        (((col("ts") - pmod(col("ts"), lit(nanosPerDay))) / nanosPerDay)
          .cast("long") * 86400).as("day_epoch"))
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("day_epoch", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(20, 6))).as("vsum"),
            min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      val base = partials(ev.filter(col("event_id") % 7 =!= 0))
      val delta = partials(ev.filter(col("event_id") % 7 === 0))
      base.unionByName(delta)
        .groupBy("day_epoch", "event_type")
        .agg(sum(col("n")).as("n"),
          round(sum(col("vsum")).cast("double"), 4).as("value_sum"),
          min(col("vmin")).as("value_min"),
          max(col("vmax")).as("value_max"))
        .orderBy("day_epoch", "event_type")
    }, Some(
      s"""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
         |  event_type, count(*) AS n,
         |  ${dsumSql("value")} AS value_sum,
         |  min(value) AS value_min, max(value) AS value_max
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Multi-touch attribution (linear + exponential time-decay,
    // 6 h half-life) — the marketing-analytics standard: every
    // purchase distributes one unit of credit over the user's
    // click/view touches in the trailing 24 h; no-touch purchases
    // credit a 'direct' channel. The purchase↔touch pairing is an
    // equi-join on (user_id, day-bucket) with range predicates as
    // residual (per-user-DAY bounded, no theta join — see the bucketing
    // note below); weights are rounded at the pow() seam
    // (9dp) and normalized by exact per-purchase decimal sums, so
    // credit conservation holds bit-for-bit on both engines.
    Q("q223_attribution", (s, dir) => {
      // micros on both sides: DuckDB truncates parquet TIMESTAMP(NANOS)
      // to micros on read (q72's seam), so the decay exponent must too
      val dayUs = 86400000000L
      val ev = EventQueries.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("pts"),
          col("event_id").as("pid"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), expr("ts div 1000").as("tts"),
          col("event_type").as("channel"))
      // day-bucketed pairing: a plain user_id equi-join forms ALL
      // (purchase, touch) pairs of a user before the time filter runs —
      // quadratic in one user's history, the measured ×5 hot spot on the
      // SkewGen corpus (one user owning 30% of events). The trailing-24h
      // predicate means a qualifying touch lies in the purchase's
      // day-bucket or the one before, so each touch is replicated into
      // its own and the NEXT bucket and the bucket rides the equi-key:
      // every within-24h pair forms in exactly one (user, day) cell
      // (the cell where bkt = pts div day), pair volume is bounded per
      // user-DAY, and the hot key splits across the timeline.
      // FLOOR-division buckets ((x − pmod(x, d)) div d — exact on
      // longs): plain `div` truncates toward zero, so a pre-1970
      // (negative) timestamp's bkt/bkt+1 replication would no longer
      // bracket the purchase bucket and qualifying pairs would silently
      // drop
      val pBkt = s"(pts - pmod(pts, ${dayUs}L)) div ${dayUs}L"
      val tBkt = s"(tts - pmod(tts, ${dayUs}L)) div ${dayUs}L"
      val paired = purchases
        .withColumn("bkt", expr(pBkt))
        .join(touches.withColumn("bkt",
            explode(array(expr(tBkt), expr(tBkt) + 1L))),
          Seq("user_id", "bkt"))
        .filter(col("tts") <= col("pts") && col("tts") > col("pts") - dayUs)
        .select(col("pid"), col("channel"),
          round(pow(lit(2.0),
            -((col("pts") - col("tts")).cast("double") / lit(2.16e10))), 9)
            .as("w"))
        .persist()
      val perPid = paired.groupBy("pid")
        .agg(count(lit(1)).as("k"),
          sum(col("w").cast(DecimalType(20, 12))).as("tw"))
      val perChan = paired.groupBy("pid", "channel")
        .agg(count(lit(1)).as("ck"),
          sum(col("w").cast(DecimalType(20, 12))).as("cw"))
      val attributed = perChan.join(perPid, Seq("pid"))
        .select(col("channel"),
          round(col("ck").cast("double") / col("k"), 9).as("lc"),
          round(col("cw").cast("double") / col("tw").cast("double"), 9)
            .as("dc"),
          col("ck"))
        .groupBy("channel")
        .agg(sum(col("ck")).as("n_touches"),
          round(sum(col("lc").cast(DecimalType(20, 12))).cast("double"), 6)
            .as("linear_credit"),
          round(sum(col("dc").cast(DecimalType(20, 12))).cast("double"), 6)
            .as("decay_credit"))
      val direct = purchases.join(paired.select("pid").distinct(),
          Seq("pid"), "left_anti")
        .agg(count(lit(1)).as("nd"))
        .select(lit("direct").as("channel"), lit(0L).as("n_touches"),
          col("nd").cast("double").as("linear_credit"),
          col("nd").cast("double").as("decay_credit"))
      attributed.unionByName(direct).orderBy("channel")
    }, Some(
      """WITH p AS (SELECT user_id, epoch_us(ts) AS pts, event_id AS pid
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, epoch_us(ts) AS tts, event_type AS channel
        |      FROM events WHERE event_type IN ('click', 'view')),
        |paired AS (SELECT pid, channel,
        |    round(pow(2.0, -(CAST(pts - tts AS DOUBLE) / 2.16e10)), 9) AS w
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND tts <= pts AND tts > pts - 86400000000),
        |per_pid AS (SELECT pid, count(*) AS k,
        |    sum(CAST(w AS DECIMAL(20,12))) AS tw FROM paired GROUP BY pid),
        |per_chan AS (SELECT pid, channel, count(*) AS ck,
        |    sum(CAST(w AS DECIMAL(20,12))) AS cw
        |  FROM paired GROUP BY pid, channel),
        |attributed AS (SELECT channel,
        |    CAST(sum(ck) AS BIGINT) AS n_touches,
        |    round(CAST(sum(CAST(round(CAST(ck AS DOUBLE) / k, 9)
        |      AS DECIMAL(20,12))) AS DOUBLE), 6) AS linear_credit,
        |    round(CAST(sum(CAST(round(CAST(cw AS DOUBLE) / CAST(tw AS DOUBLE), 9)
        |      AS DECIMAL(20,12))) AS DOUBLE), 6) AS decay_credit
        |  FROM per_chan JOIN per_pid USING (pid) GROUP BY channel),
        |direct AS (SELECT 'direct' AS channel, CAST(0 AS BIGINT) AS n_touches,
        |    CAST(count(*) AS DOUBLE) AS linear_credit,
        |    CAST(count(*) AS DOUBLE) AS decay_credit
        |  FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM paired))
        |SELECT * FROM attributed UNION ALL SELECT * FROM direct
        |ORDER BY channel""".stripMargin)),

    // Weight-of-evidence / information-value feature screen (the
    // credit-scoring standard; Siddiqi 2006): order totals binned into
    // population deciles (percentile bounds + one-row broadcast — the
    // q71 shape that avoids a single-partition ntile), target =
    // urgent-priority order. Per bin: event/non-event counts, WOE =
    // ln((pos/POS)/(neg/NEG)), and the IV contribution
    // (pos/POS - neg/NEG)·WOE. Counts are exact integers; WOE/IV are
    // closed-form doubles over them, mirrored op-for-op.
    Q("q219_woe_iv", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_totalprice"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          .cast("long").as("y"))
      val b = o.agg(percentile(col("o_totalprice"),
        lit((1 to 9).map(_ / 10.0).toArray)).as("bs"))
      val g = o.crossJoin(broadcast(b))
        .select((size(filter(col("bs"), x => col("o_totalprice") > x)) + 1)
          .cast("long").as("bin"), col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .withColumn("neg", col("n") - col("pos"))
      val tot = g.agg(sum("pos").as("tp"), sum("neg").as("tn"))
      val pr = col("pos").cast("double") / col("tp")
      val nr = col("neg").cast("double") / col("tn")
      g.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("pos"), col("neg"),
          when(col("pos") > 0 && col("neg") > 0,
            round(log(pr / nr), 6)).as("woe"),
          when(col("pos") > 0 && col("neg") > 0,
            round((pr - nr) * log(pr / nr), 6)).as("iv_part"))
        .orderBy("bin")
    }, Some(
      """WITH o AS (SELECT o_totalprice,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y FROM orders),
        |b AS (SELECT quantile_cont(o_totalprice,
        |        [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM o),
        |g AS (SELECT CAST(len(list_filter(bs, x -> o_totalprice > x)) + 1
        |          AS BIGINT) AS bin,
        |        count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
        |      FROM o, b GROUP BY 1),
        |g2 AS (SELECT bin, n, pos, n - pos AS neg FROM g),
        |t AS (SELECT CAST(sum(pos) AS BIGINT) AS tp,
        |        CAST(sum(neg) AS BIGINT) AS tn FROM g2)
        |SELECT bin, n, pos, neg,
        |  CASE WHEN pos > 0 AND neg > 0 THEN
        |    round(ln((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)), 6)
        |  END AS woe,
        |  CASE WHEN pos > 0 AND neg > 0 THEN
        |    round((CAST(pos AS DOUBLE) / tp - CAST(neg AS DOUBLE) / tn) *
        |      ln((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)), 6)
        |  END AS iv_part
        |FROM g2, t ORDER BY bin""".stripMargin)),

    // Kendall τ-b rank agreement between price and size within each
    // brand (complements q175's corpus-scale Spearman). NO pair scan:
    // everything reduces to the joint (x, y) VALUE CENSUS — the q175
    // machinery in two dimensions. Tie counts come from the marginal
    // censuses by inclusion–exclusion (n1 = Σ cx·(cx−1)/2 pairs tied in
    // x, n2 likewise in y, n3 = Σ cnt·(cnt−1)/2 tied in both), so
    // disc = n0 − n1 − n2 + n3 − conc and only the CONCORDANT count
    // needs a 2-D dominance pass. That pass is one cumulative window:
    // every census cell (x, y, cnt) emits a weight-cnt "source" row at
    // each strictly greater y value present in the brand (p_size has a
    // FIXED ≤50-value domain, so this fan-out is a bounded constant,
    // not data growth), probes sort before sources at equal x, and the
    // running sum per (brand, y_target) ordered by (x, tag) reads off
    // |{x' < x, y' < y}| exactly. Work is O(|census| · |y-domain|) with
    // ≤ brand×size (25×50) window partitions each linear in the brand's
    // census — vs the n²/25 of the naive in-block pair scan. Exact
    // integers throughout; τ-b is the closed form over them.
    Q("q217_kendall_tau", (s, dir) => {
      val p = Tables.part(s, dir).select(col("p_brand"),
        col("p_retailprice").as("x"), col("p_size").cast("long").as("y"))
      kendallTauB(p, "p_brand", "x", "y").orderBy("p_brand")
    }, Some(
      """WITH p AS (SELECT p_brand, p_partkey, p_retailprice AS x,
        |             CAST(p_size AS BIGINT) AS y FROM part),
        |pr AS (SELECT a.p_brand,
        |    CASE WHEN sign(a.x - b.x) * sign(CAST(a.y - b.y AS DOUBLE)) > 0
        |      THEN 1 ELSE 0 END AS c,
        |    CASE WHEN sign(a.x - b.x) * sign(CAST(a.y - b.y AS DOUBLE)) < 0
        |      THEN 1 ELSE 0 END AS d,
        |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
        |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
        |g AS (SELECT p_brand, count(*) AS n_pairs,
        |        CAST(sum(c) AS BIGINT) AS conc, CAST(sum(d) AS BIGINT) AS disc,
        |        CAST(sum(tx) AS BIGINT) AS n1, CAST(sum(ty) AS BIGINT) AS n2
        |      FROM pr GROUP BY p_brand)
        |SELECT p_brand, n_pairs, conc, disc,
        |  CASE WHEN n_pairs - n1 > 0 AND n_pairs - n2 > 0
        |    THEN round(CAST(conc - disc AS DOUBLE) /
        |      sqrt(CAST((n_pairs - n1) * (n_pairs - n2) AS DOUBLE)), 6)
        |  END AS tau_b
        |FROM g ORDER BY p_brand""".stripMargin)),

    // Mann–Whitney U — the NONPARAMETRIC companion to q178's Welch test
    // (capability: rank-based two-sample inference, no normality
    // assumption; Mann & Whitney 1947). Same census discipline as
    // q175/q217: ranks never materialize per row — the combined-sample
    // VALUE CENSUS (l_quantity has a FIXED ≤50-value domain, so the
    // census is domain-sized, not corpus-sized) carries per-arm counts,
    // one cumulative window over ≤50 rows reads off "count strictly
    // below", and the DOUBLED rank sum 2·R_a = Σ n_a·(2·below + cnt + 1)
    // is an exact integer. The tie-corrected normal approximation
    // (σ² = n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1)))) and the rank-biserial
    // effect size are closed-form doubles over five exact moments —
    // bit-reproducible on any partitioning, one scan of the fact table.
    Q("q225_mann_whitney", (s, dir) => {
      val l = Tables.lineitem(s, dir).select(
        pmod(col("l_suppkey"), lit(2L)).as("arm"),
        col("l_quantity").cast("long").as("x"))
      val census = l.groupBy("x").agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("nb"),
        count(lit(1)).as("cnt"))
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val agg = census
        .withColumn("below", sum("cnt").over(w) - col("cnt"))
        .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(col("na").cast(DecimalType(38, 0)) *
            (lit(2) * col("below") + col("cnt") + 1)).as("r2a"),
          sum(col("cnt").cast(DecimalType(38, 0)) *
            (col("cnt") - 1) * (col("cnt") + 1)).as("tt"))
      val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
      val n = na + nb
      val ua = (col("r2a").cast("double") - na * (na + 1)) / 2
      val sig2 = na * nb / 12 *
        ((n + 1) - col("tt").cast("double") / (n * (n - 1)))
      agg.select(col("n_a"), col("n_b"),
        round(ua, 1).as("u_a"),
        round((ua - na * nb / 2) / sqrt(sig2), 6).as("z"),
        round(lit(2.0) * ua / (na * nb) - 1, 6).as("r_rb"))
    }, Some(
      """WITH l AS (SELECT l_suppkey % 2 AS arm,
        |    CAST(l_quantity AS BIGINT) AS x FROM lineitem),
        |c AS (SELECT x,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    count(*) AS cnt FROM l GROUP BY x),
        |w AS (SELECT x, na, nb, cnt,
        |    sum(cnt) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
        |      AS below FROM c),
        |a AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |    CAST(sum(nb) AS BIGINT) AS n_b,
        |    sum(CAST(na AS HUGEINT) * (2*below + cnt + 1)) AS r2a,
        |    sum(CAST(cnt AS HUGEINT) * (cnt - 1) * (cnt + 1)) AS tt FROM w),
        |d AS (SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS nad,
        |    CAST(n_b AS DOUBLE) AS nbd, CAST(r2a AS DOUBLE) AS r2ad,
        |    CAST(tt AS DOUBLE) AS ttd FROM a),
        |u AS (SELECT n_a, n_b, nad, nbd, ttd, nad + nbd AS nd,
        |    (r2ad - nad * (nad + 1)) / 2 AS ua FROM d)
        |SELECT n_a, n_b, round(ua, 1) AS u_a,
        |  round((ua - nad*nbd/2) / sqrt(nad*nbd/12 *
        |    ((nd + 1) - ttd / (nd * (nd - 1)))), 6) AS z,
        |  round(2.0 * ua / (nad * nbd) - 1, 6) AS r_rb
        |FROM u""".stripMargin)),

    // Benjamini–Hochberg FDR step-up over a FAMILY of tests (capability:
    // multiple-testing control — every per-slice screen in this suite
    // reports raw statistics; this is the correction layer that makes 20
    // simultaneous tests honest; Benjamini & Hochberg 1995). Family =
    // each document source tested against the rest of the corpus
    // (leave-one-out two-sample KS on n_chars). The ECDF gap is exact:
    // per-(source, value) census + one cumulative window per source over
    // the GLOBAL value grid (|sources| × |n_chars domain| — both
    // bounded), d = max |cum_s·n_rest − cum_rest·n_s| as an integer
    // numerator over the constant denominator n_s·n_rest. p is the
    // one-term asymptotic 2·exp(−2·n_e·d²) (documented approximation,
    // q94's convention), quantized to pico-integers BEFORE the BH pass
    // so the step-up ordering is engine-independent; adjusted p = the
    // reverse running min of m·p_(i)/i — one window over m=20 rows.
    Q("q226_bh_fdr", (s, dir) => {
      val d0 = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("v"))
      val cen = d0.groupBy("source", "v").agg(count(lit(1)).as("c"))
        .persist()
      val vals = cen.groupBy("v").agg(sum("c").as("cg"))
      val srcs = cen.groupBy("source").agg(sum("c").as("ns"))
      val tot = srcs.agg(sum("ns").as("nn"), count(lit(1)).as("m"))
      val grid = srcs.crossJoin(vals)
        .join(cen, Seq("source", "v"), "left")
        .na.fill(0L, Seq("c"))
      val w = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ks = grid
        .withColumn("cum_s", sum("c").over(w))
        .withColumn("cum_g", sum("cg").over(w))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("ns"), col("m"),
          (col("nn") - col("ns")).as("nr"),
          abs(col("cum_s") * (col("nn") - col("ns")) -
            (col("cum_g") - col("cum_s")) * col("ns")).as("num"))
        .groupBy("source", "ns", "nr", "m")
        .agg(max("num").as("mnum"))
      val dd = col("mnum").cast("double") /
        (col("ns") * col("nr")).cast("double")
      val ne = (col("ns") * col("nr")).cast("double") /
        (col("ns") + col("nr")).cast("double")
      val p = least(lit(1.0), lit(2.0) * exp(lit(-2.0) * ne * dd * dd))
      val pq = ks.select(col("source"), col("ns").as("n"), col("m"),
        round(dd, 6).as("d"),
        floor(p * lit(1e12) + lit(0.5)).cast("long").as("pq"))
      val wRank = Window.orderBy(col("pq"), col("source"))
      val wRev = Window.orderBy(col("pq").desc, col("source").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pq.withColumn("i", row_number().over(wRank))
        .withColumn("p_adj_raw",
          min(least(lit(1.0), col("m") * col("pq") / (col("i") * lit(1e12))))
            .over(wRev))
        .select(col("source"), col("n"), col("d"),
          round(col("pq") / lit(1e12), 6).as("p"),
          round(col("p_adj_raw"), 6).as("p_adj"),
          (col("p_adj_raw") <= 0.10).cast("long").as("discovery"))
        .orderBy("source")
    }, Some(
      """WITH d0 AS (SELECT source, CAST(n_chars AS BIGINT) AS v
        |            FROM documents),
        |cen AS (SELECT source, v, count(*) AS c FROM d0 GROUP BY 1, 2),
        |vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cg FROM cen GROUP BY v),
        |srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
        |         FROM cen GROUP BY source),
        |tot AS (SELECT CAST(sum(ns) AS BIGINT) AS nn,
        |        count(*) AS m FROM srcs),
        |grid AS (SELECT s.source, s.ns, v.v, v.cg, coalesce(c.c, 0) AS c
        |  FROM srcs s CROSS JOIN vals v
        |  LEFT JOIN cen c ON c.source = s.source AND c.v = v.v),
        |cum AS (SELECT source, ns, cg, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
        |    sum(cg) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
        |  FROM grid),
        |ks AS (SELECT source, ns, nn - ns AS nr, m,
        |    max(abs(cum_s * (nn - ns) - (cum_g - cum_s) * ns)) AS mnum
        |  FROM cum CROSS JOIN tot GROUP BY 1, 2, 3, 4),
        |pq AS (SELECT source, ns AS n, m,
        |    round(CAST(mnum AS DOUBLE) / (CAST(ns AS DOUBLE) * nr), 6) AS d,
        |    CAST(floor(least(1.0, 2.0 * exp(-2.0 *
        |      (CAST(ns AS DOUBLE) * nr / (ns + nr)) *
        |      pow(CAST(mnum AS DOUBLE) / (CAST(ns AS DOUBLE) * nr), 2)))
        |      * 1e12 + 0.5) AS BIGINT) AS pq
        |  FROM ks),
        |r AS (SELECT source, n, d, pq, m,
        |    row_number() OVER (ORDER BY pq, source) AS i FROM pq),
        |adj AS (SELECT source, n, d, pq,
        |    min(least(1.0, m * pq / (i * 1e12))) OVER (
        |      ORDER BY pq DESC, source DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_adj_raw
        |  FROM r)
        |SELECT source, n, d, round(pq / 1e12, 6) AS p,
        |  round(p_adj_raw, 6) AS p_adj,
        |  CAST(CASE WHEN p_adj_raw <= 0.10 THEN 1 ELSE 0 END AS BIGINT)
        |    AS discovery
        |FROM adj ORDER BY source""".stripMargin)))
}
