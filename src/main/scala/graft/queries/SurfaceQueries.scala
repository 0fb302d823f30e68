package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL-surface breadth: the remaining relational idioms a user migrating
  * from any warehouse expects to carry over unchanged — the ranking-
  * window family, UNPIVOT, calendar arithmetic, and bulk regex
  * extraction. Each keeps the house determinism rules (total ORDER BY,
  * tie-broken window orders, exact integer time math).
  */
object SurfaceQueries {
  import Helpers._

  val all: Seq[Q] = Seq(q166) ++ Seq(

    // Ranking-window portfolio: dense_rank, ntile(4), percent_rank,
    // cume_dist over acctbal within each market segment (order tie-broken
    // by key, so every position — and thus every rank statistic — is
    // deterministic). Emitted for the top-3 per segment. One shuffle on
    // the partition key; the window never sees unpartitioned data.
    Q("q112_window_suite", (s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          dense_rank().over(w).cast("long").as("drank"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .filter(col("drank") <= 3)
        .orderBy("c_mktsegment", "drank", "c_custkey")
    }, Some(
      """WITH r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
        |    dense_rank() OVER w AS drank,
        |    ntile(4) OVER w AS quartile,
        |    round(percent_rank() OVER w, 6) AS pct_rank,
        |    round(cume_dist() OVER w, 6) AS cume
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |               ORDER BY c_acctbal DESC, c_custkey))
        |SELECT * FROM r WHERE drank <= 3
        |ORDER BY c_mktsegment, drank, c_custkey""".stripMargin)),

    // UNPIVOT (wide → long): the per-user event-count matrix of q45
    // melted back to (user, type, n) rows via stack() — a generator, so
    // the reshape is map-only fan-out on top of the one pivot shuffle.
    // DuckDB twin spells it as the UNION ALL every UNPIVOT desugars to.
    Q("q113_unpivot_events", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = EventQueries.events(s, dir)
        .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
      val filled = types.foldLeft(wide) { (df, t) =>
        df.withColumn(t, coalesce(col(t), lit(0L)))
      }
      filled.selectExpr("user_id",
          s"stack(${types.length}, ${types.map(t => s"'$t', $t").mkString(", ")}) " +
            "AS (event_type, n)")
        .filter(col("n") > 0)
        .orderBy("user_id", "event_type")
    }, Some {
      val arms = Seq("click", "error", "purchase", "signup", "view")
        .map(t => s"SELECT user_id, '$t' AS event_type, " +
          s"count(*) FILTER (WHERE event_type = '$t') AS n " +
          "FROM events GROUP BY user_id")
      s"""WITH long AS (${arms.mkString(" UNION ALL ")})
         |SELECT user_id, event_type, n FROM long WHERE n > 0
         |ORDER BY user_id, event_type""".stripMargin
    }),

    // Calendar arithmetic: order→first-ship latency in whole days (exact
    // integer epoch math — no timezone, no double anywhere near a date),
    // rolled up per order month. The per-order min is one shuffle; the
    // monthly rollup rides the same keys.
    Q("q114_ship_latency", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("t0"),
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_epoch"))
      val firstShip = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(min(unix_timestamp(col("l_shipdate"))).as("ts"))
      o.join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .withColumn("latency_days", expr("(ts - t0) div 86400"))
        .groupBy("month_epoch")
        .agg(count(lit(1)).as("n_orders"),
          davg(col("latency_days").cast("double")).as("avg_latency_days"),
          max("latency_days").as("max_latency_days"))
        .orderBy("month_epoch")
    }, Some(
      s"""WITH o AS (SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS t0,
         |    CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_epoch
         |  FROM orders),
         |fs AS (SELECT l_orderkey, min(CAST(epoch(l_shipdate) AS BIGINT)) AS ts
         |       FROM lineitem GROUP BY l_orderkey),
         |j AS (SELECT month_epoch, (ts - t0) // 86400 AS latency_days
         |      FROM o JOIN fs ON o.o_orderkey = fs.l_orderkey)
         |SELECT month_epoch, count(*) AS n_orders,
         |  ${davgSql("CAST(latency_days AS DOUBLE)")} AS avg_latency_days,
         |  CAST(max(latency_days) AS BIGINT) AS max_latency_days
         |FROM j GROUP BY month_epoch ORDER BY month_epoch""".stripMargin)),

    // Bulk regex extraction: every standalone number (≤9 digits) in each
    // document via regexp_extract_all — the scrape-then-aggregate shape.
    // Pure map-side array math per row; Java regex and RE2 agree on the
    // ASCII \d / \b subset used here.
    Q("q115_extract_numbers", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("""transform(regexp_extract_all(text, '\\b(\\d{1,9})\\b', 1),
                  x -> CAST(x AS BIGINT))""").as("nums"))
        .select(col("doc_id"),
          size(col("nums")).cast("long").as("n_nums"),
          coalesce(aggregate(col("nums"), lit(0L), (a, x) => a + x), lit(0L))
            .as("sum_nums"),
          coalesce(array_max(col("nums")), lit(0L)).as("max_num"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(\d{1,9})\b', 1)) AS BIGINT) AS n_nums,
        |  CAST(coalesce(list_sum(list_transform(
        |    regexp_extract_all(text, '\b(\d{1,9})\b', 1),
        |    x -> CAST(x AS BIGINT))), 0) AS BIGINT) AS sum_nums,
        |  CAST(coalesce(list_max(list_transform(
        |    regexp_extract_all(text, '\b(\d{1,9})\b', 1),
        |    x -> CAST(x AS BIGINT))), 0) AS BIGINT) AS max_num
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // GROUPING SETS (the general form under q08's ROLLUP and q70's
    // CUBE): per-(source,lang), per-source, per-lang, and grand totals
    // in ONE Expand pass — 4 aligned aggregates for one scan instead of
    // four. Shared SQL text for both engines (grouping() flags cast to
    // BIGINT; keys coalesced so no NULL ordering divergence).
    Q("q119_grouping_sets", { (s, dir) =>
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      s.sql(GroupingSetsSql)
    }, Some(GroupingSetsSql)),

    // Join-key skew profiler: the count-of-counts histogram of rows per
    // join key (lineitem.l_orderkey) plus the hottest key — the
    // diagnostic run BEFORE choosing broadcast/salt/AQE-skew strategies
    // at 100 TB. Two cheap shuffles, second one over the tiny histogram
    // domain.
    Q("q120_key_skew_profile", (s, dir) => {
      val perKey = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("rows_per_key"))
      perKey.groupBy("rows_per_key")
        .agg(count(lit(1)).as("n_keys"),
          min("l_orderkey").as("example_key"))
        .orderBy("rows_per_key")
    }, Some(
      """WITH pk AS (SELECT l_orderkey, count(*) AS rows_per_key
        |            FROM lineitem GROUP BY l_orderkey)
        |SELECT rows_per_key, count(*) AS n_keys,
        |  min(l_orderkey) AS example_key
        |FROM pk GROUP BY rows_per_key ORDER BY rows_per_key""".stripMargin)),

    // Partial aggregation BELOW the join: lineitem collapses to one row
    // per order key BEFORE joining the orders dimension, so the join
    // probes |orders| rows instead of |lineitem| — the agg-pushdown
    // rewrite Catalyst does not do automatically across joins. Decimal
    // partials stay unrounded until the final combine, so the result is
    // bit-identical to the oracle's join-then-aggregate plan.
    Q("q121_preagg_join", (s, dir) => {
      val pre = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(20, 6))).as("rev"),
          count(lit(1)).as("n"))
      Tables.orders(s, dir)
        .join(pre, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(col("rev")).cast("double"), 4).as("revenue"),
          sum("n").as("n_items"))
        .orderBy("o_orderpriority")
    }, Some(
      s"""SELECT o_orderpriority, ${dsumSql("l_extendedprice")} AS revenue,
         |  count(*) AS n_items
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // The custom-Expression SQL surface: `stable_hash64` and
    // `cosine_sim` (native codegen Catalyst expressions, registered on
    // the session by their `register` methods) invoked from
    // PLAIN SQL TEXT — the migration contract that a warehouse user's
    // SQL keeps working once the two scalar functions are registered.
    // The oracle replays both from their generated DuckDB twins, so the
    // SQL-registered kernels are hash-checked end to end.
    Q("q165_sql_functions", (s, dir) => {
      graft.vector.CosineSim.register(s)
      graft.text.StableHash64.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("g_documents")
      Tables.embeddings(s, dir).createOrReplaceTempView("g_embeddings")
      s.sql(
        """WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
          |           FROM g_embeddings WHERE vec_id = 0)
          |SELECT d.doc_id, stable_hash64(d.text) AS text_hash,
          |  round(cosine_sim(CAST(e.embedding AS ARRAY<DOUBLE>), q.qv), 6)
          |    AS sim
          |FROM g_documents d
          |JOIN g_embeddings e ON e.vec_id = d.doc_id
          |CROSS JOIN q
          |ORDER BY d.doc_id""".stripMargin)
    }, Some {
      val th = graft.text.StableHash.hashes64Sql("[text]") + "[1]"
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings WHERE vec_id = 0)
         |SELECT d.doc_id AS doc_id,
         |  CAST(CASE WHEN $th >= 9223372036854775808
         |    THEN $th - 18446744073709551616 ELSE $th END AS BIGINT)
         |    AS text_hash,
         |  round(${cosineSql("CAST(e.embedding AS DOUBLE[])", "q.qv")}, 6)
         |    AS sim
         |FROM documents d
         |JOIN embeddings e ON e.vec_id = d.doc_id
         |CROSS JOIN q
         |ORDER BY d.doc_id""".stripMargin
    }))

  // Null-semantics surface: the SQL corner every migration trips on —
  // null-safe equality (`<=>` / IS NOT DISTINCT FROM) vs `=` in a join,
  // explicit NULLS FIRST ordering, and the coalesce/nullif family —
  // exercised over metaAnalog's deterministic null patterns (rating
  // null on id%5=0, price on id%7=0). A self-join on rating compares
  // the two equality semantics: `=` drops all null-rating rows, `<=>`
  // matches them to each other; the census counts both, exactly.
  private def q166: Q = Q("q166_null_semantics", (s, dir) => {
    val m = Helpers.metaAnalog(Tables.documents(s, dir))
      .select(col("id"), col("rating"), col("price"))
    val bucket = coalesce(col("rating").cast("string"), lit("(null)")).as("rating_key")
    val a = m.select(col("id").as("ia"), col("rating").as("ra"))
    val b = m.select(col("id").as("ib"), col("rating").as("rb"))
    val eqJoin = a.join(b, col("ra") === col("rb") && col("ia") < col("ib"))
      .agg(count(lit(1)).as("n_eq_pairs"))
    val nsJoin = a.join(b, col("ra") <=> col("rb") && col("ia") < col("ib"))
      .agg(count(lit(1)).as("n_nullsafe_pairs"))
    val census = m.groupBy(bucket)
      .agg(count(lit(1)).as("n"),
        sum(when(col("price").isNull, 1L).otherwise(0L)).as("n_null_price"),
        round(sum(coalesce(col("price"), lit(0.0))
          .cast(org.apache.spark.sql.types.DecimalType(20, 6))).cast("double"), 4)
          .as("price_sum"),
        sum(when(nullif(col("rating"), lit(5.0)).isNull &&
          col("rating").isNotNull, 1L).otherwise(0L)).as("n_rating_5"))
    census.crossJoin(broadcast(eqJoin)).crossJoin(broadcast(nsJoin))
      .orderBy(asc_nulls_first("rating_key"))
  }, Some(
    """WITH m AS (SELECT id, rating, price FROM meta),
      |eq AS (SELECT count(*) AS n_eq_pairs FROM m a JOIN m b
      |       ON a.rating = b.rating AND a.id < b.id),
      |ns AS (SELECT count(*) AS n_nullsafe_pairs FROM m a JOIN m b
      |       ON a.rating IS NOT DISTINCT FROM b.rating AND a.id < b.id),
      |c AS (SELECT coalesce(CAST(rating AS VARCHAR), '(null)') AS rating_key,
      |        count(*) AS n,
      |        CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_null_price,
      |        round(CAST(sum(CAST(coalesce(price, 0.0) AS DECIMAL(20,6)))
      |          AS DOUBLE), 4) AS price_sum,
      |        CAST(sum(CASE WHEN nullif(rating, 5.0) IS NULL
      |          AND rating IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_rating_5
      |      FROM m GROUP BY 1)
      |SELECT rating_key, n, n_null_price, price_sum, n_rating_5,
      |  eq.n_eq_pairs, ns.n_nullsafe_pairs
      |FROM c CROSS JOIN eq CROSS JOIN ns
      |ORDER BY rating_key NULLS FIRST"""
      .stripMargin.replace("FROM meta", s"FROM (${Helpers.metaAnalogSql}) meta")))

  // def, not val: referenced from `all`'s initializer above
  private def GroupingSetsSql: String =
    """SELECT coalesce(source, '(all)') AS source,
      |  coalesce(lang, '(all)') AS lang,
      |  CAST(grouping(source) AS BIGINT) AS g_source,
      |  CAST(grouping(lang) AS BIGINT) AS g_lang,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
      |ORDER BY g_source, g_lang, source, lang""".stripMargin
}
