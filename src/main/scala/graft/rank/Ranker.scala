package graft.rank

import graft.BoundLiteral
import graft.text.{BudgetParser, TextOps}
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The reference's recommendation query re-expressed as one declarative
  * Spark plan (reference: semantic.py:33-52 + rank.py:208-337):
  *
  *   cosine scan → top-K (TakeOrderedAndProject) → left join meta →
  *   ONE unpartitioned window (price median/σ and the p1/p99 clip bounds
  *   of popularity and rerank) → feature + blend projection →
  *   [collect ≤K rows] → greedy MMR → price-presence partition, both
  *   over the collected rows.
  *
  * Everything before the MMR collect is one lazy Catalyst plan with no
  * cache: the similarity scan parallelizes over the embedding table's
  * partitions, the top-K is a per-partition heap + driver merge (no full
  * sort shuffle), and the planner picks the meta join (no hint). The
  * window sits above the `limit`, so its frame — the whole single
  * partition — is exactly the ≤topK candidates: a k-row window, never a
  * corpus-sized one. The only driver materialization is the ≤topK
  * candidate set, identical to the reference's own collect boundary. On
  * sf0.1 (local[4], AQE on) meta is broadcast and
  * `scoreCandidates(...).collect()` runs 2 Spark jobs, as does
  * `recommend`; over a 94k-row catalog the join is a sort-merge join and
  * both run 4. The ranked frame is a local relation, so collecting it
  * runs none.
  *
  * Request values are bound, not inlined: the query vector and the
  * rerank vocabulary are array literals, which Spark passes by
  * reference, and the budget is parsed on the driver
  * (`BudgetParser.budget`) and enters the plan as a
  * [[graft.BoundLiteral]]. So no request value reaches the generated
  * source, and a new query reuses the compiled stages of the last. A
  * `lit` budget would be written into the source, with every constant
  * folded from it.
  */
object Ranker {
  final case class Config(
      topK: Int = 200, // rank.py:210
      finalK: Int = 10, // rank.py:211
      lambda: Double = Features.MmrLambda)

  /** Lexical reranker substitute (SURVEY §2.9): distinct-token overlap of
    * the query against title+summary. Deterministic, monotone in shared
    * vocabulary — feeds the same min-max normalization the cross-encoder
    * scores feed in the reference (rank.py:219-220).
    */
  private def lexicalRerank(queryTokens: Seq[String], title: Column, summary: Column): Column = {
    val docText = TextOps.cleanText(
      concat_ws(" ", coalesce(title, lit("")), coalesce(summary, lit(""))))
    TextOps.vocabHits(TextOps.tokens(docText), queryTokens.distinct).cast("double")
  }

  /** Scored candidate frame: columns (id, sim, score, price, vec) — the
    * full pipeline up to (but excluding) MMR, as one uncached plan (see
    * the object doc). `embeddings` must expose (id: bigint,
    * vec: array<double>); `meta` must expose (id, title, summary, rating,
    * review_count, price).
    */
  def scoreCandidates(
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val qTokens = queryText.toLowerCase.split("\\s+").toSeq
    // the price anchor: the budget when truthy (rank.py:231), else the
    // candidates' price median. No budget binds as 0.0, so requests with
    // and without one share one compiled blend stage.
    val budget = BoundLiteral.of(
      BudgetParser.budget(embeddings.sparkSession, queryText).getOrElse(0.0))
    // every candidate-set scalar as a window aggregate over the whole
    // ≤topK frame: the price median/σ over non-null prices
    // (rank.py:225-232) and the clip bounds of the two min-max scaled
    // features (rank.py:44-54). σ accumulates in the partition's row
    // order; its last-ulp noise sits far below the score's 6-dp rounding.
    val cands = Window.partitionBy()
    embeddings
      .withColumn("sim", VectorOps.cosineRounded(col("vec"), typedLit(queryVec)))
      .orderBy(desc("sim"), asc("id"))
      .limit(cfg.topK)
      .join(meta, Seq("id"), "left")
      .withColumn("rerank", lexicalRerank(qTokens, col("title"), col("summary")))
      .withColumn("pop", Features.popularity(col("review_count")))
      .select(Seq(col("*"), median(col("price")).over(cands).as("__price_median"),
        stddev_pop(col("price")).over(cands).as("__price_std")) ++
        Features.clipBounds(col("pop"), "__pop", Some(cands)) ++
        Features.clipBounds(col("rerank"), "__rerank", Some(cands)): _*)
      .withColumn("__anchor", when(budget =!= 0.0, budget).otherwise(col("__price_median")))
      .withColumn("score",
        round(Features.blend(col("sim"),
          Features.bayesianRating(col("rating"), col("review_count")) / Features.MaxStarRating,
          Features.minMaxScale(col("pop"), col("__pop_lo"), col("__pop_hi")),
          Features.priceFit(col("price"), col("__anchor"), col("__price_std")),
          Features.minMaxScale(col("rerank"), col("__rerank_lo"), col("__rerank_hi"))),
          6))
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
        row_number().over(Window.orderBy(desc("score"), asc("id"))).cast("long"))
    top.select(col("id"), col("score"), col("pos"),
        col("price").isNotNull.as("has_price"))
      .orderBy(col("has_price").desc, col("pos").asc)
  }

  /** Full MMR ranking: collects the scored top-K (the reference's own
    * driver boundary), runs greedy MMR, reapplies the stable
    * price-presence partition. Output: (id, score, mmr_pos, has_price)
    * in display order, as a local relation of ≤finalK rows.
    */
  def recommend(
      spark: SparkSession,
      embeddings: DataFrame,
      meta: DataFrame,
      queryText: String,
      queryVec: Array[Double],
      cfg: Config = Config()): DataFrame = {
    val rows = scoreCandidates(embeddings, meta, queryText, queryVec, cfg)
      .select("id", "score", "vec", "price").collect()
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
