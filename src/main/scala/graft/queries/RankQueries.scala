package graft.queries

import graft.rank.Ranker
import graft.sources.Tables
import graft.vector.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship end-to-end recommendation query (reference:
  * semantic.py:33-52 + rank.py:208-337): cosine retrieval → top-200 →
  * lexical rerank + min-max → budget/median price anchor → Bayesian
  * rating, popularity, Gaussian price-fit → weighted blend → top-k →
  * stable price-presence partition. q40 is the λ=1 (pure-relevance)
  * variant, fully declarative and DuckDB-oracled; q41 runs real greedy
  * MMR diversification over the collected top-200 (driver-side, like the
  * reference) and gets the driver's rows-only check.
  */
object RankQueries {
  import Helpers._

  val QueryText = "best value spark table under 300"
  private val qTokens = QueryText.split(" ").toSeq // parsed budget: 300.0

  /** The catalog a recommend runs on: (id, vec) embeddings, the
    * metaAnalog meta, and vector 0 as the query vector. */
  private[graft] def inputs(s: SparkSession, dir: String): (DataFrame, DataFrame, Array[Double]) = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), VectorOps.asDouble(col("embedding")).as("vec"))
    val meta = metaAnalog(Tables.documents(s, dir))
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(VectorOps.asDouble(col("embedding")))
      .head().getSeq[Double](0).toArray
    (emb, meta, qv)
  }

  /** Shared WITH-chain through the `scored` CTE (all topK candidates,
    * id/price/score) — the prefix both the λ=1 oracle and the MMR oracle
    * build on.
    */
  private val oracleScoredPrefix: String = {
    val rerankVocab = qTokens.distinct.map(t => s"'$t'").mkString(",")
    val docText = cleanTextSql("coalesce(m.title, '') || ' ' || coalesce(m.summary, '')")
    s"""WITH meta AS ($metaAnalogSql),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |sims AS (SELECT vec_id AS id,
       |   round(${cosineSql("CAST(embedding AS DOUBLE[])", "qv")}, 6) AS sim
       |  FROM embeddings CROSS JOIN q),
       |top AS (SELECT id, sim FROM sims ORDER BY sim DESC, id ASC LIMIT 200),
       |cand AS (SELECT t.id, t.sim, m.rating, m.review_count, m.price,
       |   CAST(len(list_intersect(list_distinct(string_split($docText, ' ')),
       |     [$rerankVocab])) AS DOUBLE) AS rerank
       |  FROM top t LEFT JOIN meta m ON m.id = t.id),
       |s AS (SELECT median(price) AS mprice, stddev_pop(price) AS sigma FROM cand),
       |f AS (SELECT cand.*, sigma,
       |   (CASE WHEN 300.0 <> 0.0 THEN 300.0 ELSE mprice END) AS anchor,
       |   ${bayesSql("rating", "review_count")}/5.0 AS bayes,
       |   ${popularitySql("review_count")} AS pop
       |  FROM cand CROSS JOIN s),
       |b AS (SELECT quantile_cont(pop, 0.01) AS pop_lo, quantile_cont(pop, 0.99) AS pop_hi,
       |   quantile_cont(rerank, 0.01) AS rr_lo, quantile_cont(rerank, 0.99) AS rr_hi FROM f),
       |scored AS MATERIALIZED (SELECT id, price,
       |   round(0.4*sim + 0.2*bayes + 0.1*${minMaxSql("pop", "pop_lo", "pop_hi")} +
       |     0.15*${priceFitSql("price", "anchor", "sigma")} +
       |     0.15*${minMaxSql("rerank", "rr_lo", "rr_hi")}, 6) AS score
       |  FROM f CROSS JOIN b)""".stripMargin
  }

  private val oracleQ40: String =
    s"""$oracleScoredPrefix,
       |ranked AS (SELECT id, score,
       |   row_number() OVER (ORDER BY score DESC, id ASC) AS pos,
       |   (price IS NOT NULL) AS has_price
       |  FROM scored)
       |SELECT id, score, pos, has_price FROM ranked WHERE pos <= 10
       |ORDER BY has_price DESC, pos ASC""".stripMargin

  /** Greedy-MMR oracle: the sequential argmax loop unrolled as finalK
    * chained MATERIALIZED CTEs (each step picks the remaining candidate
    * maximizing λ·score − (1−λ)·max-cosine-to-selected; ties resolve
    * score DESC, id ASC — the reference's strict-`>` scan order,
    * rank.py:297-325). Every constant is emitted from the Scala values so
    * the double arithmetic (incl. 1−λ's representation) is bit-identical.
    */
  private val oracleQ41: String = {
    val lam = graft.rank.Features.MmrLambda
    val oneMinus = 1 - lam // 0.33999999999999997, NOT nearest-double(0.34)
    def dotSqlPair(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2]))"
    val k = 10
    val steps = (2 to k).map { i =>
      val p = i - 1
      s"""sel$i AS MATERIALIZED (
         |  SELECT n.id, n.score, n.price, n.nv, $i AS step
         |  FROM nrm n, (SELECT list(id) AS ids, list(nv) AS vs FROM picked$p) pp
         |  WHERE NOT list_contains(pp.ids, n.id)
         |  ORDER BY ($lam*n.score - $oneMinus*list_max(list_transform(pp.vs, sv -> ${dotSqlPair("n.nv", "sv")}))) DESC,
         |    n.score DESC, n.id ASC
         |  LIMIT 1),
         |picked$i AS MATERIALIZED (SELECT * FROM picked$p UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""$oracleScoredPrefix,
       |vecs AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |nrm AS MATERIALIZED (SELECT s.id, s.score, s.price,
       |  list_transform(v.vec, x -> x / (sqrt(list_sum(list_transform(v.vec, y -> y*y))) + 1e-9)) AS nv
       |  FROM scored s JOIN vecs v USING (id)),
       |sel1 AS MATERIALIZED (SELECT id, score, price, nv, 1 AS step FROM nrm ORDER BY score DESC, id ASC LIMIT 1),
       |picked1 AS MATERIALIZED (SELECT * FROM sel1),
       |$steps
       |SELECT id, score, CAST(step AS BIGINT) AS mmr_pos, (price IS NOT NULL) AS has_price
       |FROM picked$k ORDER BY has_price DESC, mmr_pos ASC""".stripMargin
  }

  /** Co-occurrence pair counts (i, j, nij) with i < j in sorted-id
    * order, from per-user sorted item sets `(c, ps)`, with BOUNDED
    * per-task allocations — the [[Helpers.chunkedPairs]] stream (see
    * there for the whale-basket OOM this shape prevents) aggregated by
    * pair.
    */
  private[graft] def itemPairCounts(sets: DataFrame,
      chunkB: Int = Helpers.ChunkB): DataFrame =
    Helpers.chunkedPairs(sets, Nil, chunkB)
      .groupBy("i", "j").agg(count(lit(1)).as("nij"))

  val all: Seq[Q] = Seq(

    Q("q40_recommend_top10", (s, dir) => {
      val (emb, meta, qv) = inputs(s, dir)
      Ranker.recommendTopKPlan(emb, meta, QueryText, qv)
    }, Some(oracleQ40)),

    Q("q41_recommend_mmr", (s, dir) => {
      val (emb, meta, qv) = inputs(s, dir)
      Ranker.recommend(s, emb, meta, QueryText, qv)
    }, Some(oracleQ41)),

    // Item-item collaborative filtering (the classic Amazon recommender,
    // Linden et al. 2003) over the customer×part purchase matrix —
    // complements q40/q41's content-based ranking with the behavioral
    // signal the BASELINE north-star calls out. Cosine similarity on
    // co-purchase counts sim(i,j) = n_ij / √(n_i·n_j); a target cohort
    // is scored by decimal-summing the ROUNDED sims of their purchased
    // items (fold-order-free), excluding already-owned items, top-5 per
    // user. Scale shape: the pair counts come from per-customer
    // adjacency lists expanded in BOUNDED chunks (itemPairCounts below
    // — a whale basket never materializes its quadratic pair array in
    // one task); the n_ij ≥ 2 support floor keeps the similarity
    // table sparse; item counts broadcast; the scoring join touches
    // only the cohort's rows — never all-users × all-items.
    Q("q157_itemcf_recommend", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      // ONE shuffle (on customer) builds the per-user item sets —
      // collect_set dedups in the partial aggregate, so no separate
      // distinct exchange. orders is fact-sized (scales with the data),
      // so NO broadcast hint: AQE picks broadcast at small SF and a
      // co-partitioned shuffle join at 100 TB. Item counts, item pairs,
      // and the target cohort all derive from the cached sets map-side.
      val sets = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .groupBy("c").agg(sort_array(collect_set("p")).as("ps"))
        .persist()
      val cnt = sets.select(explode(col("ps")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("n"))
      val pairs = itemPairCounts(sets).filter(col("nij") >= 2)
      val sims = pairs
        .join(broadcast(cnt.select(col("p").as("i"), col("n").as("ni"))), "i")
        .join(broadcast(cnt.select(col("p").as("j"), col("n").as("nj"))), "j")
        .select(col("i"), col("j"),
          round(col("nij") / sqrt(col("ni") * col("nj")), 6).as("sim"))
      // both directions via one map-side explode — a union of two reads
      // of `sims` would execute the whole pair-count pipeline twice
      // (Spark does not share subplans across union branches)
      val both = sims
        .select(explode(array(
          struct(col("i"), col("j"), col("sim")),
          struct(col("j").as("i"), col("i").as("j"), col("sim")))).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.sim").as("sim"))
      val targets = sets.filter(col("c") % 100 === 0)
        .select(col("c"), explode(col("ps")).as("p"))
      val scored = targets.join(both, col("p") === col("i"))
        .join(targets.select(col("c").as("c2"), col("p").as("j2")),
          col("c") === col("c2") && col("j") === col("j2"), "left_anti")
        .groupBy(col("c"), col("j").as("item"))
        .agg(round(sum(col("sim").cast(DecimalType(20, 6))).cast("double"), 6)
          .as("score"))
      // top-5 per user by a rank window: Spark 4 plans the rank <= 5
      // filter as a partial WindowGroupLimit before the user exchange
      // and a final one after it, so at most 5 rows per user per map
      // partition cross the shuffle, and every sort and window buffer on
      // the way can spill under user skew (PlanShapeSpec pins the shape)
      scored.withColumn("rank", row_number().over(
          Window.partitionBy("c").orderBy(desc("score"), asc("item")))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select(col("c").as("custkey"), col("rank"), col("item"), col("score"))
        .orderBy("custkey", "rank")
    }, Some(
      """WITH ui AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cnt AS (SELECT p, count(*) AS n FROM ui GROUP BY p),
        |pr AS (SELECT a.p AS i, b.p AS j, count(*) AS nij
        |       FROM ui a JOIN ui b ON a.c = b.c AND a.p < b.p
        |       GROUP BY a.p, b.p HAVING count(*) >= 2),
        |sims AS (SELECT i, j, round(nij / sqrt(ci.n * cj.n), 6) AS sim
        |         FROM pr JOIN cnt ci ON ci.p = pr.i JOIN cnt cj ON cj.p = pr.j),
        |bo AS (SELECT i, j, sim FROM sims
        |         UNION ALL SELECT j AS i, i AS j, sim FROM sims),
        |t AS (SELECT c, p FROM ui WHERE c % 100 = 0),
        |sc AS (SELECT t.c, bo.j AS item,
        |         round(CAST(sum(CAST(sim AS DECIMAL(20,6))) AS DOUBLE), 6) AS score
        |       FROM t JOIN bo ON t.p = bo.i
        |       WHERE NOT EXISTS (SELECT 1 FROM t t2
        |                         WHERE t2.c = t.c AND t2.p = bo.j)
        |       GROUP BY t.c, bo.j),
        |r AS (SELECT c, item, score, CAST(row_number() OVER
        |        (PARTITION BY c ORDER BY score DESC, item) AS BIGINT) AS rank
        |      FROM sc)
        |SELECT c AS custkey, rank, item, score FROM r
        |WHERE rank <= 5 ORDER BY custkey, rank""".stripMargin)))
}
