package graft

import graft.rank.Features
import org.apache.spark.sql.functions._

/** Null-default totality of every ranking feature
  * (reference: rank.py:44-54, 163-189, 246-256).
  */
class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Double =
    spark.range(1).select(c.as("v")).head().getDouble(0)

  test("bayesianRating null-defaults collapse to the prior") {
    assert(one(Features.bayesianRating(lit(null), lit(null))) == 4.3)
    assert(one(Features.bayesianRating(lit(4.0), lit(null))) == 4.3)
    assert(math.abs(one(Features.bayesianRating(lit(4.0), lit(100L))) - 4.15) < 1e-12)
  }

  test("popularity: log1p for counts >= 0, else 0") {
    assert(one(Features.popularity(lit(null))) == 0.0)
    assert(one(Features.popularity(lit(-5L))) == 0.0)
    assert(math.abs(one(Features.popularity(lit(99L))) - math.log1p(99)) < 1e-12)
  }

  test("priceFit branch semantics") {
    // null anchor → 0.5 (rank.py:166-167)
    assert(one(Features.priceFit(lit(100.0), lit(null), lit(null))) == 0.5)
    assert(one(Features.priceFit(lit(100.0), lit(-1.0), lit(null))) == 0.5)
    // null/<=0 price → 0.2 (rank.py:170-172)
    assert(one(Features.priceFit(lit(null), lit(100.0), lit(null))) == 0.2)
    assert(one(Features.priceFit(lit(0.0), lit(100.0), lit(null))) == 0.2)
    // exact-anchor price → exp(0) = 1
    assert(one(Features.priceFit(lit(100.0), lit(100.0), lit(null))) == 1.0)
    // over-anchor uses tighter sigma than under-anchor
    val over = one(Features.priceFit(lit(130.0), lit(100.0), lit(null)))
    val under = one(Features.priceFit(lit(70.0), lit(100.0), lit(null)))
    assert(over < under)
    // python: sigma=0.6*30 → exp(-900/(2*324)) for over side
    assert(math.abs(over - math.exp(-900.0 / (2 * math.pow(0.6 * 30, 2)))) < 1e-12)
  }

  test("minMaxScale: [0,1] range, degenerate → 0.5") {
    def scaled(df: org.apache.spark.sql.DataFrame) =
      df.crossJoin(df.select(Features.clipBounds(col("x"), "b"): _*))
        .select(col("x"), Features.minMaxScale(col("x"), col("b_lo"), col("b_hi")))
    val normed = scaled(Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("x")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(normed.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(normed(1.0) == 0.0)
    // degenerate: all equal → 0.5 everywhere (rank.py:51-52)
    val const = Seq(7.0, 7.0, 7.0).toDF("x")
    assert(scaled(const).collect()
      .forall(_.getDouble(1) == 0.5))
  }

  test("blend weights sum applied as in rank.py:259-279") {
    val v = one(Features.blend(lit(1.0), lit(1.0), lit(1.0), lit(1.0), lit(1.0)))
    assert(math.abs(v - 1.0) < 1e-12)
    val simOnly = one(Features.blend(lit(1.0), lit(0.0), lit(0.0), lit(0.0), lit(0.0)))
    assert(math.abs(simOnly - 0.4) < 1e-12)
  }
}
