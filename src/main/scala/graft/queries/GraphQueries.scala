package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over the co-purchase graph (parts co-ordered within
  * an order), complementing the PageRank of q84: exact triangle counting
  * with the degree-orientation trick — the skew killer that makes
  * distributed triangle enumeration feasible (Suri & Vassilvitskii,
  * WWW'11 "Counting Triangles and the Curse of the Last Reducer").
  */
object GraphQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Canonical (u < v) co-purchase edge set — q100/q152's shared input.
    * Built as per-order adjacency lists (collect_set dedups in the
    * partial aggregate, map-side) with the C(n,2) pair expansion done
    * as a map-only lambda — ONE shuffle on the order key plus the final
    * edge distinct, instead of the naive distinct + self-join + distinct
    * (≈4 exchanges of the full lineitem). Fan-out per order is
    * C(items, 2) — bounded by basket size, not graph degree, so no
    * salting is needed at 100 TB.
    */
  /** Per-order C(n,2) pair stream (one (u,v) row per co-purchasing
    * order) — multiplicity = co-purchase support. The expansion rides
    * [[Helpers.chunkedPairs]]: TPC-H orders are small, but a mega-order
    * (a scraped session with 10⁵ items) would otherwise evaluate its
    * whole quadratic pair array in one task allocation — the same OOM
    * class the chunked stream removes from item-CF and Adamic–Adar.
    */
  private def coPairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("c"), col("l_partkey").as("p"))
    // cheap chunking census (distinct items of the fattest order) via
    // map-side-combined counts — never re-executes the set build
    val maxLen = li.groupBy("c", "p").agg(lit(1).as("one"))
      .groupBy("c").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    Helpers.chunkedPairs(
      li
        // shuffle BEFORE the heavy map work: per-order grouping gives no
        // map-side-combine reduction (each order is its own group), so
        // hash-distributing the raw 16-byte rows first keeps the
        // collect_set + C(n,2) pair explode parallel regardless of the
        // input file's split granularity
        .repartition(col("c"))
        .groupBy("c").agg(sort_array(collect_set("p")).as("ps")),
      maxSetLen = maxLen.min(Int.MaxValue).toInt)
      .select(col("i").as("u"), col("j").as("v"))
  }

  /** Build-once weighted co-purchase edge table (u < v, `w` = number of
    * co-purchasing orders), checkpoint-materialized and memoized per
    * (session, corpus) exactly like the suffix-array index: the graph
    * family (q100/q152/q182/q190/q197) derives every edge view from
    * this one artifact — the unweighted edge set is a projection, the
    * support floor a filter, adjacency lists one aggregate — instead of
    * five independent lineitem scans + pair explodes + dedup shuffles.
    * Bench clears the memo per pass, so the published artifact still
    * prices exactly one honest build (carried by the first consumer in
    * registry order).
    */
  private val builds = graft.Artifacts.memo[DataFrame]

  private def coEdgeWeights(s: SparkSession, dir: String): DataFrame =
    builds.getOrElseUpdate(s, s"$dir|copurchase")(graft.Artifacts.materialize(
      coPairs(s, dir).groupBy("u", "v").agg(count(lit(1)).as("w"))))

  private def coEdges(s: SparkSession, dir: String): DataFrame =
    coEdgeWeights(s, dir).select("u", "v")

  /** Support-≥2 edge floor (q190, q197): only part pairs co-purchased in
    * at least two orders — the same sparsifier as q157's similarity
    * floor.
    */
  private def repeatedCoEdges(s: SparkSession, dir: String): DataFrame =
    coEdgeWeights(s, dir).filter(col("w") >= 2).select("u", "v")

  /** Both orientations of an undirected edge set: (u, v) → (a, b) rows. */
  private def bothWays(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))

  /** Oracle twin of [[repeatedCoEdges]] as `e` and of [[bothWays]] as `adj`. */
  private def repeatedAdjCte: String =
    """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT a.p AS u, b.p AS v
      |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |      GROUP BY a.p, b.p HAVING count(*) >= 2),
      |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e)""".stripMargin

  private def coEdgesCte: String =
    """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v
      |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)""".stripMargin

  /** Chained-CTE k-core peel: d_i = surviving degrees of e_{i-1},
    * e_i = edges with both endpoints surviving — generated from one
    * template so the SQL twin cannot drift from the Spark loop.
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH $coEdgesCte,\ne0 AS (SELECT u, v FROM e)")
    for (i <- 1 to rounds) sb.append(s""",
      |d$i AS (SELECT x, count(*) AS dg FROM
      |          (SELECT u AS x FROM e${i - 1} UNION ALL SELECT v AS x FROM e${i - 1})
      |        GROUP BY x HAVING count(*) >= $k),
      |e$i AS (SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
      |        JOIN d$i a ON e${i - 1}.u = a.x JOIN d$i b ON e${i - 1}.v = b.x),
      |r$i AS (SELECT CAST($i AS BIGINT) AS round,
      |          (SELECT count(*) FROM d$i) AS n_nodes, count(*) AS n_edges
      |        FROM e$i)""".stripMargin)
    sb.append("\nSELECT round, n_nodes, n_edges FROM (" +
      (1 to rounds).map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ") +
      ") ORDER BY round")
    sb.toString
  }

  /** q152's cap on a broadcast removal front: 160 MB, deliberately above
    * autoBroadcastJoinThreshold, because the front is a long-keyed
    * semi-join build side rebuilt once per round, not a planner estimate.
    */
  private val FrontMaxBytes = 160L << 20

  /** q229's burst labels. Linking each order to the customer's previous
    * one when the gap is ≤ 7 days makes every connected component a run
    * of consecutive orders in (o_orderdate, o_orderkey) order — an
    * island. So the lag window that finds the gaps also labels them: a
    * break flag (no previous order, or a gap that is null or > 7), its
    * running sum as the island id, and min(o_orderkey) per island. One
    * exchange on o_custkey, no edge frame, no join, no iteration; a
    * whale customer costs one task either way, as the lag already does.
    */
  private[graft] def orderBursts(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val gap = datediff(to_date(col("o_orderdate")),
      to_date(lag(col("o_orderdate"), 1).over(w)))
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        when(gap <= 7, 0).otherwise(1).as("brk"))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_orderkey"), min(col("o_orderkey")).over(
        Window.partitionBy("o_custkey", "island")).as("burst"))
      .orderBy("o_orderkey")
  }

  val all: Seq[Q] = Seq(

    // Exact triangle count + global transitivity. Edges are oriented
    // from the lower-(degree, id) endpoint to the higher, so every
    // wedge join fans out by ORIENTED out-degree — bounded by O(√m) on
    // any graph — instead of raw degree: the hub vertex that would
    // produce deg² candidate pairs (the "last reducer" at 100 TB)
    // produces almost none. Each triangle is counted exactly once, at
    // its unique rank-minimal apex. The closing-edge probe joins the
    // canonical (u<v) undirected edge set; wedge count Σ d(d-1)/2 is an
    // exact integer, so transitivity = 3T/W matches bit-for-bit.
    Q("q100_triangle_count", (s, dir) => {
      // undirected edge set, canonical u < v; feeds degree, orientation,
      // and the closing-edge probe — one build, three consumers
      val e = coEdges(s, dir).persist()
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("dg"))
      val lower = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      // both degree probes broadcast the SAME build plan (aliased views
      // of deg), so one exchange is built and reused for du and dv
      val d1 = deg.as("d1")
      val d2 = deg.as("d2")
      val ori = e
        .join(broadcast(d1), col("u") === col("d1.x"))
        .join(broadcast(d2), col("v") === col("d2.x"))
        .withColumn("du", col("d1.dg")).withColumn("dv", col("d2.dg"))
        .select(when(lower, col("u")).otherwise(col("v")).as("src"),
          when(lower, col("v")).otherwise(col("u")).as("dst"))
        .persist()
      // Edge-iterator count: T = Σ_{(u,v)∈ori} |N⁺(u) ∩ N⁺(v)| over the
      // oriented out-adjacency (each triangle counted once at its
      // rank-minimal apex). The adjacency table is |V|-sized with
      // orientation-bounded O(√m) lists — it BROADCASTS, and both
      // probes share one aliased build plan (ReuseExchange), so the
      // per-edge intersection runs map-side: the Σ C(out,2) wedge
      // stream (41M rows at sf0.1) is never materialized, let alone
      // shuffled. One groupBy(src) shuffle builds the adjacency.
      val adj = ori.groupBy("src").agg(sort_array(collect_set("dst")).as("nbrs"))
      val a1 = adj.as("a1")
      val a2 = adj.as("a2")
      val tri = ori.as("o")
        .join(broadcast(a1), col("o.src") === col("a1.src"))
        .join(broadcast(a2), col("o.dst") === col("a2.src"))
        .select(size(array_intersect(col("a1.nbrs"), col("a2.nbrs")))
          .cast("long").as("t"))
        .agg(sum("t").as("n_triangles"))
      val wd = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      tri.crossJoin(wd).crossJoin(ne)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("transitivity"))
    }, Some(
      s"""WITH $coEdgesCte,
        |deg AS (SELECT x, count(*) AS dg FROM
        |          (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |        GROUP BY x),
        |ori AS (SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |                 THEN e.u ELSE e.v END AS src,
        |               CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |                 THEN e.v ELSE e.u END AS dst
        |        FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |        JOIN e ON e.u = e1.dst AND e.v = e2.dst),
        |wd AS (SELECT count(*) AS n_nodes,
        |         CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ne AS (SELECT count(*) AS n_edges FROM e)
        |SELECT wd.n_nodes AS n_nodes, ne.n_edges AS n_edges,
        |  tri.n_triangles AS n_triangles, wd.n_wedges AS n_wedges,
        |  round(3.0 * tri.n_triangles / wd.n_wedges, 6) AS transitivity
        |FROM tri, wd, ne""".stripMargin)),

    // k-core peeling (k=3, 4 synchronous rounds): each round drops
    // vertices below degree k, then edges touching a dropped vertex —
    // the community/spam-screen primitive (Batagelj & Zaveršnik's peel,
    // unrolled). Per round: one degree aggregate + two semi-join-shaped
    // probes; every round's output is a single census row, so the query
    // emits the CONVERGENCE TRAJECTORY (nodes/edges remaining per
    // round) deterministically even before the peel reaches fixpoint —
    // the honest contract for a bounded-round distributed peel at
    // 100 TB, where iterate-to-fixpoint is a driver-side loop over
    // exactly this plan.
    // BFS expansion layers from a deterministic hub (max-degree vertex,
    // min-id tiebreak), 3 unrolled synchronous rounds — the distributed
    // reachability primitive (each round = one semi-join-shaped frontier
    // expansion against the cached edge set, exactly the Pregel
    // superstep shape). Emits the per-layer census: frontier size and
    // cumulative visited count — the bounded-round contract that scales,
    // with iterate-to-fixpoint as a driver loop over this plan.
    Q("q182_bfs_layers", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Symmetrized edge PAIRS from the build-once edge artifact,
      // cached hash-partitioned on the expansion key so the edge set
      // never re-shuffles across rounds. Round 13: this was an
      // adjacency-LIST cache (collect_set per vertex, exploded right
      // back to pairs for the join) — the list arrays bought nothing
      // the repartitioned pair cache doesn't, and at sf10 the
      // ObjectHashAggregate building 2M ~120-element arrays spilled
      // 8.6 GB and drove gcFrac to 0.20 (PlanProbe). A skinny
      // two-long-column cache is columnar, codegen-friendly, and
      // allocation-free; the canonical edges are already distinct, so
      // the count-based degree ≡ the old set size.
      val adj = bothWays(coEdges(s, dir))
        .repartition(col("a"))
        .persist()
      val seed = adj.groupBy("a").agg(count(lit(1)).as("dg"))
        .orderBy(desc("dg"), asc("a")).limit(1).select(col("a").as("x"))
      var visited = seed
      var frontier = seed
      val rounds = (1 to 3).map { i =>
        // expansion + (dedup ∧ not-yet-visited) as ONE aggregation:
        // candidates tagged 1, visited tagged 0 — a vertex survives iff
        // its min tag is 1 (never seen before). Replaces the
        // distinct-then-anti-join pair with a single exchange. No
        // broadcast hints — frontier and visited approach |V| on a
        // high-expansion graph; AQE broadcasts only while a side is
        // genuinely small.
        val next = adj.join(frontier, col("a") === col("x"))
          .select(col("b").as("x"), lit(1).as("f"))
          .unionByName(visited.select(col("x"), lit(0).as("f")))
          .groupBy("x").agg(min("f").as("mf"))
          .filter(col("mf") === 1).select("x")
          .persist()
        // visited stays an UNPERSISTED union of the persisted layers —
        // no cache write per round; and the per-round visited count is
        // not re-counted against the cluster at all (see cumsum below)
        visited = visited.unionByName(next)
        frontier = next
        next.agg(count(lit(1)).as("frontier_size"))
          .select(lit(i.toLong).as("round"), col("frontier_size"))
      }
      // |visited after round i| = 1 (seed) + Σ frontier sizes ≤ i —
      // a 3-row cumsum instead of three cluster-wide count jobs
      val wr = Window.orderBy("round")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rounds.reduce(_ unionByName _)
        .withColumn("n_visited", lit(1L) + sum("frontier_size").over(wr))
        .orderBy("round")
    }, Some(
      s"""WITH $coEdgesCte,
         |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT a, count(*) AS dg FROM adj GROUP BY a),
         |seed AS (SELECT a AS x FROM deg ORDER BY dg DESC, a LIMIT 1),
         |f1 AS (SELECT DISTINCT b AS x FROM adj JOIN seed ON a = seed.x
         |       WHERE b NOT IN (SELECT x FROM seed)),
         |v1 AS (SELECT x FROM seed UNION ALL SELECT x FROM f1),
         |f2 AS (SELECT DISTINCT b AS x FROM adj JOIN f1 ON a = f1.x
         |       WHERE b NOT IN (SELECT x FROM v1)),
         |v2 AS (SELECT x FROM v1 UNION ALL SELECT x FROM f2),
         |f3 AS (SELECT DISTINCT b AS x FROM adj JOIN f2 ON a = f2.x
         |       WHERE b NOT IN (SELECT x FROM v2)),
         |v3 AS (SELECT x FROM v2 UNION ALL SELECT x FROM f3)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round,
         |    (SELECT count(*) FROM f1) AS frontier_size,
         |    (SELECT count(*) FROM v1) AS n_visited
         |  UNION ALL SELECT 2, (SELECT count(*) FROM f2), (SELECT count(*) FROM v2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM f3), (SELECT count(*) FROM v3))
         |ORDER BY round""".stripMargin)),

    // Label-propagation communities (2 synchronous min-label rounds —
    // deterministic, unlike classic LPA's random tie-breaks) + the
    // MODULARITY of the resulting partition: Q = Σ_c(e_c/m − (d_c/2m)²)
    // from exact integer census terms (internal edges, degree mass per
    // community). Each round is one broadcast of the |V|-sized label
    // table against the cached edge set; the census is two tiny
    // aggregates. Emits the top-10 communities by size.
    Q("q190_label_propagation", (s, dir) => {
      // support-≥2 edge floor: the raw co-purchase graph is near-complete
      // and min-label floods it to one community in a round
      val e = repeatedCoEdges(s, dir).persist()
      val adj = bothWays(e).persist()
      var lab = adj.select(col("a").as("x")).distinct()
        .withColumn("l", col("x"))
      for (_ <- 1 to 2) {
        // lab is |V|-sized (scales with the data): no broadcast hint —
        // AQE broadcasts it while it fits and shuffle-joins at 100 TB
        val nbrMin = adj
          .join(lab.select(col("x").as("b2"), col("l").as("lb")),
            col("b") === col("b2"))
          .groupBy(col("a").as("x")).agg(min("lb").as("nl"))
        lab = lab.join(nbrMin, Seq("x"), "left")
          .select(col("x"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"))
          .persist()
      }
      // lineage cut before the census fan-out: lab is referenced FOUR
      // times below (lu, lv, sizes, and through etab's two consumers),
      // and each reference re-embeds the whole 2-round propagation
      // chain into the final plan — measured 3.6 MB of physical-plan
      // text that Catalyst re-analyzes every pass. Checkpointing the
      // |V|-sized label table collapses it to a leaf scan.
      lab = graft.Artifacts.materialize(lab)
      val m = e.agg(count(lit(1)).as("m"))
      val lu = lab.select(col("x").as("u"), col("l").as("lu"))
      val lv = lab.select(col("x").as("v"), col("l").as("lv"))
      // lu/lv are |V|-sized too — AQE's call, not a pinned broadcast
      val etab = e.join(lu, "u").join(lv, "v").persist()
      val ein = etab.filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("l")).agg(count(lit(1)).as("e_in"))
      val degc = etab
        .select(explode(array(col("lu"), col("lv"))).as("l"))
        .groupBy("l").agg(count(lit(1)).as("d_c"))
      val sizes = lab.groupBy("l").agg(count(lit(1)).as("size"))
      val comm = sizes
        .join(broadcast(ein), Seq("l"), "left")
        .join(broadcast(degc), Seq("l"), "left")
        .select(col("l"), col("size"),
          coalesce(col("e_in"), lit(0L)).as("e_in"),
          coalesce(col("d_c"), lit(0L)).as("d_c"))
        .persist()
      val mod = comm.crossJoin(broadcast(m))
        .select(round(
          (col("e_in").cast("double") / col("m")) -
            (col("d_c").cast("double") / (lit(2.0) * col("m"))) *
            (col("d_c").cast("double") / (lit(2.0) * col("m"))), 9).as("t"))
        .agg(round(sum(col("t").cast(DecimalType(38, 12))).cast("double"), 6)
          .as("modularity"))
      comm.orderBy(desc("size"), asc("l")).limit(10)
        .crossJoin(broadcast(mod))
        .select(col("l").as("community"), col("size"), col("e_in"), col("d_c"),
          col("modularity"))
        .orderBy(desc("size"), asc("community"))
    }, Some(
      s"""WITH $repeatedAdjCte,
         |n0 AS (SELECT DISTINCT a AS x FROM adj),
         |l0 AS (SELECT x, x AS l FROM n0),
         |l1 AS (SELECT l0.x, least(l0.l, coalesce(min(nb.l), l0.l)) AS l
         |       FROM l0 LEFT JOIN adj ON adj.a = l0.x
         |         LEFT JOIN l0 nb ON nb.x = adj.b
         |       GROUP BY l0.x, l0.l),
         |l2 AS (SELECT l1.x, least(l1.l, coalesce(min(nb.l), l1.l)) AS l
         |       FROM l1 LEFT JOIN adj ON adj.a = l1.x
         |         LEFT JOIN l1 nb ON nb.x = adj.b
         |       GROUP BY l1.x, l1.l),
         |m AS (SELECT count(*) AS m FROM e),
         |et AS (SELECT lu.l AS lu, lv.l AS lv FROM e
         |       JOIN l2 lu ON lu.x = e.u JOIN l2 lv ON lv.x = e.v),
         |ein AS (SELECT lu AS l, count(*) AS e_in FROM et WHERE lu = lv GROUP BY lu),
         |degc AS (SELECT l, count(*) AS d_c FROM
         |           (SELECT lu AS l FROM et UNION ALL SELECT lv FROM et)
         |         GROUP BY l),
         |sizes AS (SELECT l, count(*) AS size FROM l2 GROUP BY l),
         |comm AS (SELECT sizes.l, sizes.size,
         |    coalesce(ein.e_in, 0) AS e_in, coalesce(degc.d_c, 0) AS d_c
         |  FROM sizes LEFT JOIN ein USING (l) LEFT JOIN degc USING (l)),
         |mod_ AS (SELECT round(CAST(sum(CAST(round(
         |      CAST(e_in AS DOUBLE) / m.m -
         |      (CAST(d_c AS DOUBLE) / (2.0 * m.m)) * (CAST(d_c AS DOUBLE) / (2.0 * m.m)),
         |      9) AS DECIMAL(38,12))) AS DOUBLE), 6) AS modularity
         |  FROM comm CROSS JOIN m)
         |SELECT comm.l AS community, size, e_in, d_c, mod_.modularity
         |FROM comm CROSS JOIN mod_
         |ORDER BY size DESC, community LIMIT 10""".stripMargin)),

    // Adamic–Adar link prediction over the support-2 co-purchase graph:
    // for every distance-2 pair with no existing edge, AA(u,v) =
    // Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — each wedge center w contributes
    // its C(d,2) neighbor pairs through the bounded-chunk pair stream
    // with a per-center rounded weight as payload, one shuffle groups
    // by pair, existing edges leave by anti-join against the canonical
    // edge set. Support-2 sparsification trims the degree tail, but a
    // hub part keeps unbounded degree — hence the chunked expansion
    // (q100's degree orientation doesn't apply: wedges need BOTH
    // directions at the center). Top-20 predicted links.
    Q("q197_adamic_adar", (s, dir) => {
      val e = repeatedCoEdges(s, dir).persist()
      val adj = bothWays(e)
      // per-center sorted neighbor list + degree; the C(deg,2) wedge
      // expansion goes through the bounded-chunk pair stream (a hub
      // center's quadratic fan-out would otherwise evaluate in ONE
      // allocation — the q157 whale-basket OOM), with the center's
      // wedge weight riding along as pair payload
      // persisted: chunkedPairs reads this three times (its default
      // max-set-size census, the within-chunk expansion, the big-chunk
      // filter) — unpersisted, the census alone would re-run the whole
      // adjacency groupBy + collect_set before the real expansion
      val ctr = adj.groupBy(col("a").as("c"))
        .agg(sort_array(collect_set("b")).as("ps"))
        .withColumn("aa_w", round(lit(1.0) / log(size(col("ps"))), 9))
        .filter(size(col("ps")) >= 2)
        .persist()
      val cand = Helpers.chunkedPairs(ctr, Seq("aa_w"))
        .groupBy(col("i").as("u"), col("j").as("v"))
        .agg(count(lit(1)).as("n_common"),
          round(sum(col("aa_w").cast(DecimalType(20, 12))).cast("double"), 6)
            .as("aa"))
      cand.join(e, Seq("u", "v"), "left_anti")
        .orderBy(desc("aa"), asc("u"), asc("v")).limit(20)
    }, Some(
      s"""WITH $repeatedAdjCte,
         |deg AS (SELECT a AS w, count(*) AS d FROM adj GROUP BY a),
         |wedge AS (SELECT x.a AS w, x.b AS u, y.b AS v
         |  FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b
         |  JOIN deg ON deg.w = x.a WHERE deg.d >= 2),
         |sc AS (SELECT wedge.u, wedge.v, count(*) AS n_common,
         |    round(CAST(sum(CAST(round(1.0 / ln(deg.d), 9) AS DECIMAL(20,12)))
         |      AS DOUBLE), 6) AS aa
         |  FROM wedge JOIN deg ON deg.w = wedge.w
         |  GROUP BY wedge.u, wedge.v)
         |SELECT sc.u AS u, sc.v AS v, n_common, aa FROM sc
         |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = sc.u AND e.v = sc.v)
         |ORDER BY aa DESC, u, v LIMIT 20""".stripMargin)),

    Q("q152_kcore", (s, dir) => {
      import s.implicits._
      val k = 3
      val e = coEdges(s, dir).persist()
      // DELTA peel: degrees are aggregated from |E| exactly ONCE; each
      // round then subtracts only the contributions of edges incident to
      // NEWLY removed nodes. The |V|-sized degree table is checkpointed
      // per round — it is the peel's whole working state, exactly what a
      // 1000-executor peel would keep. The edge census is pure
      // ARITHMETIC over adjacent rounds' degree sums (the telescope
      // below): round 13 first replaced the cumulative anti-join census
      // (SMJ-shuffling 120M edges twice per round at sf10, ~20 GB of
      // exchanges) with one both-endpoints count per round; the
      // telescope now removes even that — |E| crosses no exchange and
      // serves exactly ONE map-side scan per round (the delta build)
      // after the initial degree aggregation.
      var deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("dg"))
        .persist()
      var edgesAlive = e.count()
      // one pass over the |V|-sized deg table yields every round scalar:
      // the front's size/degree mass and the alive degree mass — and by
      // the degree-sum telescope below, the previous round's edge census
      def stats(d: DataFrame): (Long, Long, Long, Long) = {
        val r = d.agg(
          sum(when(col("dg") < k, col("dg"))).as("remDeg"),
          count(when(col("dg") < k, lit(1))).as("removedCnt"),
          count(when(col("dg") >= k, lit(1))).as("aliveCnt"),
          sum(when(col("dg") >= k, col("dg"))).as("aliveDeg")).head()
        (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1),
          r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3))
      }
      var (remDegSum, removedCnt, aliveCnt, aliveDegSum) = stats(deg)
      val rounds = (1 to 4).map { i =>
        val removed = deg.filter(col("dg") < k).select("x")
        // the PER-ROUND removed front shrinks as the peel converges
        // (unlike the cumulative set, q182's lesson — which no longer
        // exists here), so broadcasting it is safe under a SIZE gate:
        // degree<k fronts carry ≤ (k−1)·|front| incident edges, and a
        // front too big to broadcast means the graph is mostly gone —
        // that one round pays the shuffled semi-join instead. The gate
        // is bytes (8 B/vertex id) against FrontMaxBytes
        val rem =
          if (removedCnt * 8L <= FrontMaxBytes) broadcast(removed)
          else removed
        // ONE scan of the cached edge set per round (the previous shape
        // scanned it three times: a both-endpoints census plus one
        // semi-join per direction): explode each edge into its two
        // (endpoint, other) orientations map-side, keep orientations
        // whose endpoint is in the broadcast front, count per OTHER
        // vertex — only the (small) incident-orientation stream crosses
        // the delta shuffle
        val delta = e.select(explode(array(
            struct(col("u").as("rx"), col("v").as("other")),
            struct(col("v").as("rx"), col("u").as("other")))).as("p"))
          .select(col("p.rx").as("rx"), col("p.other").as("x"))
          .join(rem.select(col("x").as("rx")), Seq("rx"), "left_semi")
          .groupBy("x").agg(count(lit(1)).as("d"))
        // materialize cuts the per-round lineage: without it, each
        // round's stats/census plans embed every prior round's cached
        // chain and Catalyst analysis grows with rounds
        val next = graft.Artifacts.materialize(
          deg.filter(col("dg") >= k).join(delta, Seq("x"), "left")
            .select(col("x"),
              (col("dg") - coalesce(col("d"), lit(0L))).as("dg")))
        val (remDeg2, removedCnt2, aliveCnt2, aliveDeg2) = stats(next)
        // degree-sum telescope: with entriesAlive = aliveDeg_i −
        // degSum_{i+1} (the decrement mass applied to surviving
        // vertices), edges with BOTH endpoints in this round's front =
        // (remDeg_i − entriesAlive)/2, so edges lost this round =
        // remDeg_i − both = (remDeg_i + aliveDeg_i − degSum_{i+1})/2.
        // Stale orientations (the other endpoint removed in an EARLIER
        // round) never reach deg rows, so they cancel from every term —
        // the census needs no edge-set job at all, it falls out of the
        // two adjacent stats passes
        edgesAlive -= (remDegSum + aliveDegSum - (remDeg2 + aliveDeg2)) / 2
        val out = (i.toLong, aliveCnt, edgesAlive)
        deg = next
        remDegSum = remDeg2; removedCnt = removedCnt2
        aliveCnt = aliveCnt2; aliveDegSum = aliveDeg2
        out
      }
      rounds.toDF("round", "n_nodes", "n_edges").orderBy("round")
    }, Some(kcoreSql(3, 4))),

    // Temporal burst clustering: orders of one customer chain into a
    // "burst" while consecutive gaps stay ≤ 7 days; each order is labeled
    // with its burst's minimum orderkey (gaps-and-islands, see
    // orderBursts). Oracle: the recursive-CTE min-label closure q43 uses,
    // over the same per-customer consecutive-order edges.
    Q("q229_order_bursts", (s, dir) => orderBursts(Tables.orders(s, dir)),
      Some("""WITH RECURSIVE lagged AS (
        |  SELECT o_orderkey,
        |    lag(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_key,
        |    date_diff('day',
        |      lag(date_trunc('day', o_orderdate)) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      date_trunc('day', o_orderdate)) AS gap
        |  FROM orders),
        |e1 AS (SELECT o_orderkey AS a, prev_key AS b FROM lagged
        |  WHERE prev_key IS NOT NULL AND gap <= 7),
        |e AS (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
        |reach(id, r) AS (
        |  SELECT o_orderkey, o_orderkey FROM orders
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON reach.id = e.a)
        |SELECT id AS o_orderkey, min(r) AS burst
        |FROM reach GROUP BY id ORDER BY o_orderkey""".stripMargin)))
}
