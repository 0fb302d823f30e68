package graft.text

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Budget extraction from free-text queries as pure Catalyst column
  * expressions (reference: rank.py:57-129).
  *
  * The reference is a regex cascade over the lowercased query:
  *   1. range `between X and Y` / `X-Y` / `X~Y` / `X to Y` → midpoint
  *      (only if BOTH sides parse as money, else fall through)
  *   2. upper bound `under/below/less than/at most/≤/&lt;= X` → X
  *   3. approximation `around/about/approx(imately)/near(ly) X` → X
  *   4. `X budget` → X
  *   5. `budget X` → X
  * Money normalization strips commas, requires a full `^\d+(\.\d+)?(k|kk|k+)?$`
  * match, and multiplies by 1000 exactly once when a `k`-suffix is present.
  * Notably a space before the suffix ("2 k") fails the money match — the
  * reference behaves the same way (rank.py:71-82) and we preserve it.
  *
  * No UDFs: everything is `regexp_extract`+`when`, so it runs inside
  * whole-stage codegen and has a direct ANSI-SQL mirror for the oracle.
  */
object BudgetParser {
  private val money = "\\$?(\\d[\\d,\\.]*\\s*(?:k|kk)?)"
  val boundsPattern = s"(?:between\\s+)?$money\\s*(?:-+|~|to|and)\\s*$money"
  val upperPattern = s"(?:under|below|less than|at most|≤|&lt;=)\\s*$money"
  val approxPattern = s"(?:around|about|approx(?:imately)?|near|nearly)\\s*$money"
  val expr1Pattern = s"$money\\s*(?:budget|budgets?)"
  val expr2Pattern = s"(?:budget|budgets?)\\s*$money"
  val moneyPattern = "^(\\d+(\\.\\d+)?)(k|kk|k\\+)?$"

  private def nonEmpty(c: Column): Column = when(length(c) > 0, c)

  /** Money-text → dollars; null when the token does not fully match
    * (reference: rank.py:71-82).
    */
  def parseMoney(raw: Column): Column = {
    val t = trim(regexp_replace(raw, ",", ""))
    val num = nonEmpty(regexp_extract(t, moneyPattern, 1))
    val suffix = regexp_extract(t, moneyPattern, 3)
    when(num.isNotNull,
      num.cast("double") * when(length(suffix) > 0, lit(1000.0)).otherwise(lit(1.0)))
  }

  private def extractMoney(q: Column, pattern: String, group: Int = 1): Column =
    parseMoney(coalesce(nonEmpty(regexp_extract(q, pattern, group)), lit("")))

  /** Full budget cascade over an arbitrary query column. Null ⇒ no budget. */
  def parseBudget(query: Column): Column = {
    val q = lower(coalesce(query, lit("")))
    val boundA = extractMoney(q, boundsPattern, 1)
    val boundB = extractMoney(q, boundsPattern, 2)
    when(boundA.isNotNull && boundB.isNotNull, (boundA + boundB) / 2.0)
      .otherwise(coalesce(
        extractMoney(q, upperPattern),
        extractMoney(q, approxPattern),
        extractMoney(q, expr1Pattern),
        extractMoney(q, expr2Pattern)))
  }

  private val QuerySchema = StructType(Seq(StructField("q", StringType)))

  /** The budget of one query string: [[parseBudget]] over a one-row local
    * relation, which the optimizer evaluates on the driver, so no Spark
    * job and no generated code run. None ⇒ no budget.
    */
  def budget(spark: SparkSession, query: String): Option[Double] = {
    val r = spark.createDataFrame(java.util.List.of(Row(query)), QuerySchema)
      .select(parseBudget(col("q"))).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }
}
