package graft.rank

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Ranking feature functions — pure column expressions mirroring the
  * reference's multi-factor scorer (reference: rank.py:44-54, 163-189,
  * 246-279). Every feature is a total function with explicit null
  * defaults, preserving the reference's `.get()`-tolerant semantics.
  */
object Features {
  val GlobalAvgRating = 4.3 // rank.py:182
  val BayesM = 100.0 // rank.py:182
  val MaxStarRating = 5.0 // rank.py:192
  val Epsilon = 1e-9 // rank.py:205

  /** Bayesian-smoothed rating (rank.py:182-189): null rating → prior,
    * null count → 0 (which collapses the whole expression to the prior).
    */
  def bayesianRating(rating: Column, count: Column): Column = {
    val r = coalesce(rating, lit(GlobalAvgRating))
    val n = coalesce(count.cast("double"), lit(0.0))
    (lit(GlobalAvgRating * BayesM) + r * n) / (lit(BayesM) + n)
  }

  /** log1p popularity; null/negative count → 0.0 (rank.py:248). */
  def popularity(count: Column): Column =
    when(count.isNotNull && count >= 0, log1p(count)).otherwise(lit(0.0))

  /** Gaussian price-fit around an anchor (rank.py:163-179):
    * null/≤0 anchor → 0.5; null/≤0 price → 0.2;
    * σ = (0.6 if price>anchor else 1.2) · max(0.3·anchor, 0.5·σ_prices).
    */
  def priceFit(price: Column, anchor: Column, priceStd: Column): Column = {
    val sigmaBase =
      when(priceStd.isNotNull && priceStd > 0,
        greatest(lit(0.3) * anchor, lit(0.5) * priceStd))
        .otherwise(lit(0.3) * anchor)
    val sigma = when(price > anchor, lit(0.6)).otherwise(lit(1.2)) * sigmaBase
    when(anchor.isNull || anchor <= 0, lit(0.5))
      .when(price.isNull || price <= 0, lit(0.2))
      .otherwise(exp(-pow(price - anchor, 2) / (lit(2.0) * pow(sigma, 2))))
  }

  /** numpy.isclose with default tolerances (rtol=1e-5, atol=1e-8), used by
    * the degenerate branch of min-max normalization (rank.py:51).
    */
  def isClose(a: Column, b: Column): Column =
    abs(a - b) <= lit(1e-8) + lit(1e-5) * abs(b)

  /** Percentile-clipped min-max scaling (rank.py:44-54): clip `x` to
    * [lo, hi], scale to [0,1] with +1e-9 on the denominator; degenerate
    * spread → constant 0.5. The caller computes lo/hi (the p1/p99 of the
    * whole frame) once, in its own scalar aggregate or window, for every
    * scaled column of a plan.
    */
  def minMaxScale(x: Column, lo: Column, hi: Column): Column =
    when(isClose(hi, lo), lit(0.5))
      .otherwise((least(greatest(x, lo), hi) - lo) / (hi - lo + lit(Epsilon)))

  /** The [p1, p99] bounds [[minMaxScale]] clips to, as two aggregate
    * columns `<name>_lo`/`<name>_hi` for the caller's scalar aggregate —
    * or, given a window, as window aggregates over it.
    */
  def clipBounds(x: Column, name: String, over: Option[WindowSpec] = None): Seq[Column] =
    Seq(0.01 -> "lo", 0.99 -> "hi").map { case (p, end) =>
      val b = percentile(x, lit(p))
      over.fold(b)(b.over).as(s"${name}_$end")
    }

  /** Default blend weights (rank.py:259-266). */
  val Alpha = 0.4 // cosine similarity
  val Beta = 0.2 // bayesian rating
  val Gamma = 0.1 // popularity
  val Delta = 0.15 // price fit
  val EpsilonW = 0.15 // reranker score
  val MmrLambda = 0.66

  /** Weighted linear blend (rank.py:269-279). */
  def blend(sim: Column, bayes: Column, popNorm: Column,
            priceFit: Column, rerankNorm: Column): Column =
    lit(Alpha) * sim + lit(Beta) * bayes + lit(Gamma) * popNorm +
      lit(Delta) * priceFit + lit(EpsilonW) * rerankNorm
}
