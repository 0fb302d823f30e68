package graft.rank

import graft.text.{BudgetParser, TextOps}
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's recommendation query re-expressed as one declarative
  * Spark plan (reference: semantic.py:33-52 + rank.py:208-337):
  *
  *   cosine scan → top-K (TakeOrderedAndProject) → broadcast join meta →
  *   scalar candidate stats (median/σ/percentiles, one map-side-combinable
  *   aggregate) → feature + blend projection → [collect ≤K rows] → greedy
  *   MMR → price-presence partition.
  *
  * Everything before the MMR collect is lazy Catalyst plan: the similarity
  * scan parallelizes over the embedding table's partitions, the top-K is a
  * per-partition heap + driver merge (no full sort shuffle), and meta is a
  * broadcast join. The only driver materialization is the ≤topK candidate
  * set — identical to the reference's own collect boundary.
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
    * lexical rerank. It feeds the price-stats aggregate, the two min-max
    * percentile aggregates, AND the main projection — four plan subtrees
    * that would otherwise each replay the full similarity scan + top-K.
    * At cluster scale this is the canonical "cache the candidate set"
    * boundary; it is k rows, not corpus rows.
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
    // candidate price stats (rank.py:225-232): median/σ over non-null prices
    // of exactly the top-K set; budget anchor wins when truthy.
    val budget = BudgetParser.parseBudget(lit(queryText))
    val stats = joined.agg(
      median(col("price")).as("__price_median"),
      stddev_pop(col("price")).as("__price_std"))
    val withStats = joined.crossJoin(broadcast(stats))
      .withColumn("__budget", budget)
      .withColumn("__anchor",
        when(col("__budget").isNotNull && col("__budget") =!= 0.0, col("__budget"))
          .otherwise(col("__price_median")))

    val featured = withStats
      .withColumn("bayes",
        Features.bayesianRating(col("rating"), col("review_count")) / Features.MaxStarRating)
      .withColumn("pop", Features.popularity(col("review_count")))
      .withColumn("price_fit",
        Features.priceFit(col("price"), col("__anchor"), col("__price_std")))

    val normed = Features.minMaxNorm(
      Features.minMaxNorm(featured, "pop", "pop_norm"), "rerank", "rerank_norm")

    normed
      .withColumn("score",
        round(Features.blend(col("sim"), col("bayes"), col("pop_norm"),
          col("price_fit"), col("rerank_norm")), cfg.roundScale))
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
    * price-presence partition. Output: (id, score, mmr_pos, has_price).
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
    val picked = MMR.select(cands.toSeq, cfg.finalK, cfg.lambda)
    val out = picked.zipWithIndex.map { case (c, i) =>
      Row(c.id, c.score, (i + 1).toLong, hasPrice(c.id))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mmr_pos", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("has_price", org.apache.spark.sql.types.BooleanType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(out.toList, 1), schema)
      .orderBy(col("has_price").desc, col("mmr_pos").asc)
  }
}
