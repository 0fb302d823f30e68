package graft

import graft.text.BudgetParser
import org.apache.spark.sql.functions._

/** One pinned vector per regex branch of the budget cascade
  * (reference: rank.py:57-129; fixture corpus FIXTURES.md A4).
  */
class BudgetParserSpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[(String, Option[Double])] = Seq(
    "washer between $300 and 500" -> Some(400.0),
    "fridge 100-200" -> Some(150.0),
    "100~200" -> Some(150.0),
    "100 to 200" -> Some(150.0),
    "under $1,250" -> Some(1250.0),
    "below 2k" -> Some(2000.0),
    "less than 1.5k" -> Some(1500.0),
    "at most 800" -> Some(800.0),
    "around 600" -> Some(600.0),
    "about 250.5" -> Some(250.5),
    "approx 450" -> Some(450.0),
    "approximately 700" -> Some(700.0),
    "nearly 3kk" -> Some(3000.0),
    "$500 budget" -> Some(500.0),
    "budget 800" -> Some(800.0),
    "UNDER 99" -> Some(99.0), // lowercased first
    "below 2 k" -> None, // space before suffix fails money match (rank.py wart)
    "quiet dishwasher" -> None,
    "" -> None)

  test("budget cascade matches the reference on every branch") {
    val df = cases.map(_._1).toDF("q")
      .withColumn("budget", BudgetParser.parseBudget(col("q")))
    val got = df.collect().map(r =>
      r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    cases.foreach { case (q, want) =>
      assert(got(q) == want, s"for query '$q'")
    }
  }

  test("parseMoney handles commas, decimals and k-suffixes") {
    val cases2 = Seq(
      "1,250" -> Some(1250.0), "2k" -> Some(2000.0), "2kk" -> Some(2000.0),
      "1.5" -> Some(1.5), "x2" -> None, "1.2.3" -> None, "2 k" -> None)
    val df = cases2.map(_._1).toDF("m")
      .withColumn("v", BudgetParser.parseMoney(col("m")))
    val got = df.collect().map(r =>
      r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    cases2.foreach { case (m, want) => assert(got(m) == want, s"for money '$m'") }
  }

  test("the budget of a bound query and the driver-side budget equal lit's on every A4 phrase") {
    // lit folds the cascade at planning time, a bound query runs it in
    // the generated code, BudgetParser.budget in a local relation: all
    // three must give the same bits
    def bits(d: Option[Double]) = d.map(java.lang.Double.doubleToRawLongBits)
    def budget(q: org.apache.spark.sql.Column): Option[Double] = {
      val r = spark.range(1).select(BudgetParser.parseBudget(q)).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    cases.foreach { case (q, want) =>
      val folded = budget(lit(q))
      assert(folded == want, s"for query '$q'")
      assert(bits(budget(BoundLiteral.of(q))) == bits(folded), s"for query '$q'")
      assert(bits(BudgetParser.budget(spark, q)) == bits(folded), s"for query '$q'")
    }
  }
}
