package graft.rank

import graft.text.{BudgetParser, TextOps}
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The reference's recommendation query re-expressed as one declarative
  * Spark plan (reference: semantic.py:33-52 + rank.py:208-337):
  *
  *   cosine scan → top-K (TakeOrderedAndProject) → broadcast join meta →
  *   [persisted ≤K candidates] → ONE scalar aggregate (price median/σ and
  *   the p1/p99 clip bounds of popularity and rerank), broadcast back by
  *   one cross join → feature + blend projection → [collect ≤K rows] →
  *   greedy MMR → price-presence partition, both over the collected rows.
  *
  * Everything before the MMR collect is lazy Catalyst plan: the similarity
  * scan parallelizes over the embedding table's partitions, the top-K is a
  * per-partition heap + driver merge (no full sort shuffle), and meta is a
  * broadcast join. The only driver materialization is the ≤topK candidate
  * set — identical to the reference's own collect boundary. On sf0.1
  * (local[4], AQE on) `scoreCandidates(...).collect()` runs 5 Spark jobs,
  * and so does `recommend`; its ranked frame is a local relation, so
  * collecting it runs none.
  */
object Ranker {
  final case class Config(
      topK: Int = 200, // rank.py:210
      finalK: Int = 10, // rank.py:211
      lambda: Double = Features.MmrLambda,
      roundScale: Int = 6)

  /** Lexical reranker substitute (SURVEY §2.9): distinct-token overlap of
    * the query against title+summary. Deterministic, monotone in shared
    * vocabulary — feeds the same min-max normalization the cross-encoder
    * scores feed in the reference (rank.py:219-220).
    */
  def lexicalRerank(queryTokens: Seq[String], title: Column, summary: Column): Column = {
    val docText = TextOps.cleanText(
      concat_ws(" ", coalesce(title, lit("")), coalesce(summary, lit(""))))
    TextOps.vocabHits(TextOps.tokens(docText), queryTokens.distinct).cast("double")
  }

  /** Scored candidate frame: columns (id, sim, score, price, vec) — the
    * full pipeline up to (but excluding) MMR. `embeddings` must expose
    * (id: bigint, vec: array<double>); `meta` must expose (id, title,
    * summary, rating, review_count, price). The candidate set it reads
    * stays persisted until the caller's `spark.catalog.clearCache()`.
    */
  def scoreCandidates(
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame =
    score(candidates(embeddings, meta, queryText, queryVec, cfg), queryText, cfg)

  /** The persisted ≤topK candidate set: similarity scan + top-K
    * (per-partition heap, no global sort shuffle) ⋈ meta, with the
    * lexical rerank. It feeds the one candidate-stats aggregate AND the
    * main projection — two plan subtrees that would otherwise each replay
    * the full similarity scan + top-K. At cluster scale this is the
    * canonical "cache the candidate set" boundary; it is k rows, not
    * corpus rows.
    */
  private def candidates(
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config): DataFrame = {
    val qTokens = queryText.toLowerCase.split("\\s+").toSeq
    val sim = round(VectorOps.cosine(col("vec"), typedLit(queryVec)), cfg.roundScale)
    embeddings
      .withColumn("sim", sim)
      .orderBy(desc("sim"), asc("id"))
      .limit(cfg.topK)
      .join(broadcast(meta), Seq("id"), "left")
      .withColumn("rerank", lexicalRerank(qTokens, col("title"), col("summary")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def score(joined: DataFrame, queryText: String, cfg: Config): DataFrame = {
    // every candidate-set scalar in ONE aggregate over exactly the top-K
    // rows, broadcast back once: the price median/σ over non-null prices
    // (rank.py:225-232) and the clip bounds of the two min-max scaled
    // features (rank.py:44-54). The budget anchor wins when truthy.
    val withPop = joined.withColumn("pop", Features.popularity(col("review_count")))
    val stats = withPop.select(Seq(median(col("price")).as("__price_median"),
      stddev_pop(col("price")).as("__price_std")) ++
      Features.clipBounds(col("pop"), "__pop") ++
      Features.clipBounds(col("rerank"), "__rerank"): _*)
    withPop.crossJoin(broadcast(stats))
      .withColumn("__budget", BudgetParser.parseBudget(lit(queryText)))
      .withColumn("__anchor",
        when(col("__budget").isNotNull && col("__budget") =!= 0.0, col("__budget"))
          .otherwise(col("__price_median")))
      .withColumn("score",
        round(Features.blend(col("sim"),
          Features.bayesianRating(col("rating"), col("review_count")) / Features.MaxStarRating,
          Features.minMaxScale(col("pop"), col("__pop_lo"), col("__pop_hi")),
          Features.priceFit(col("price"), col("__anchor"), col("__price_std")),
          Features.minMaxScale(col("rerank"), col("__rerank_lo"), col("__rerank_hi"))),
          cfg.roundScale))
      .select("id", "sim", "score", "price", "vec")
  }

  /** λ=1 degenerate ranking (MMR reduces to plain score order): fully
    * declarative, no collect — this is the oracle-checkable flagship.
    * Output: (id, score, pos, has_price) in final display order
    * (with-price block first, original rank order within each block —
    * rank.py:327-337).
    */
  def recommendTopKPlan(
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val scored = scoreCandidates(embeddings, meta, queryText, queryVec, cfg)
    val top = scored.orderBy(desc("score"), asc("id")).limit(cfg.finalK)
      .withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("score"), asc("id"))).cast("long"))
    top.select(col("id"), col("score"), col("pos"),
        col("price").isNotNull.as("has_price"))
      .orderBy(col("has_price").desc, col("pos").asc)
  }

  /** Full MMR ranking: collects the scored top-K (the reference's own
    * driver boundary), runs greedy MMR, reapplies the stable
    * price-presence partition. Output: (id, score, mmr_pos, has_price)
    * in display order, as a local relation of ≤finalK rows.
    * The candidate set is released after the collect, so a long-lived
    * session (Repl) does not accumulate one cached frame per request.
    */
  def recommend(
      spark: SparkSession,
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val joined = candidates(embeddings, meta, queryText, queryVec, cfg)
    val rows =
      try score(joined, queryText, cfg).select("id", "score", "vec", "price").collect()
      finally joined.unpersist()
    val cands = rows.map { r =>
      MMR.Candidate(r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray)
    }
    val hasPrice = rows.map(r => r.getLong(0) -> !r.isNullAt(3)).toMap
    // display order over the collected rows: the stable price-presence
    // partition (rank.py:327-337) keeps MMR order within each block
    val out = MMR.select(cands.toSeq, cfg.finalK, cfg.lambda).zipWithIndex
      .map { case (c, i) => Row(c.id, c.score, (i + 1).toLong, hasPrice(c.id)) }
      .sortBy(r => !r.getBoolean(3))
    spark.createDataFrame(out.asJava, OutSchema)
  }

  private val OutSchema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("mmr_pos", LongType), StructField("has_price", BooleanType)))
}
