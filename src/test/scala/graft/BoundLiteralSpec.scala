package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** BoundLiteral is `lit` with the value kept out of the generated source:
  * same type and result for every kind of value, and a new value reuses
  * the compiled stage of the last.
  */
class BoundLiteralSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a bound value has lit's type and result: null, Long, Double, String") {
    for (v <- Seq(null, 42L, -0.5, "between $300 and 500")) {
      val df = spark.range(2).select(BoundLiteral.of(v).as("b"), lit(v).as("l"))
      assert(df.schema("b").dataType == df.schema("l").dataType, s"for $v")
      df.collect().foreach(r => assert(r.get(0) == r.get(1), s"for $v"))
    }
  }

  test("a bound value in arithmetic and comparisons matches lit, including null") {
    val cases = Seq[Any](3L, 2.25, null)
    for (v <- cases) {
      def q(c: org.apache.spark.sql.Column) = spark.range(5)
        .select((col("id") * c).as("p"), (col("id") === c).as("eq"), c.isNull.as("n"))
        .collect().toSeq
      assert(q(BoundLiteral.of(v)) == q(lit(v)), s"for $v")
    }
  }

  test("a new Long or Double value compiles no generated code") {
    def run(n: Long, x: Double) = spark.range(4)
      .filter(col("id") =!= BoundLiteral.of(n))
      .select((col("id") * BoundLiteral.of(x)).as("v"))
      .collect().map(_.getDouble(0)).toSeq
    assert(run(1L, 0.5) == Seq(0.0, 1.0, 1.5))
    val before = compiles
    assert(run(2L, 0.25) == Seq(0.0, 0.25, 0.75))
    assert(compiles - before == 0)
  }
}
