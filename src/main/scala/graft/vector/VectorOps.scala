package graft.vector

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` columns using Catalyst higher-order
  * functions — no UDFs in the scalar path, so dot/cosine/normalize stay
  * inside whole-stage codegen and scale linearly with a parquet scan.
  *
  * Semantics mirror the reference's numpy usage: cosine renormalizes both
  * sides (reference: semantic.py:36-41 via sklearn), dot assumes
  * pre-normalized inputs (rank.py:195-202), l2-normalize adds epsilon to
  * the denominator (rank.py:282-289, EPSILON=1e-9 at rank.py:205).
  * All math in double: callers should `cast("array<double>")` float inputs
  * once at the boundary (float→double widening is exact).
  */
object VectorOps {
  def asDouble(c: Column): Column = c.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Codegen'd native expression (see CosineSim) — same accumulation
    * order as `cosineHof`, bit-identical results, but compiled into the
    * stage instead of interpreted per element. This is the retrieval
    * scan's inner loop, so it must stay inside whole-stage codegen.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      CosineSim(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Cosine rounded to 6 dp: the similarity every ranking and retrieval
    * path compares, and the scale every oracle rounds it to.
    */
  def cosineRounded(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** Higher-order-function formulation, kept as a cross-check oracle for
    * the native expression (VectorOpsSpec asserts bit-equality).
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Normalizes via zip_with against an array_repeat of the norm: the
    * norm child is evaluated ONCE per row. (A naive `transform(a, _ / norm)`
    * re-evaluates the norm aggregate per ELEMENT — O(d²) per vector,
    * because higher-order lambdas are interpreted with no CSE.)
    */
  def l2normalize(a: Column, epsilon: Double = 1e-9): Column = {
    val n = norm(a) + lit(epsilon)
    zip_with(a, array_repeat(n, size(a)), (x, nn) => x / nn)
  }

  /** Element-wise rounding — pin float noise before oracle comparison. */
  def roundVec(a: Column, scale: Int): Column = transform(a, x => round(x, scale))

  /** Buffer for the mean-pool aggregate: running element-wise exact sum
    * (pico-units, 1e-12) + count.
    */
  case class VecBuf(sum: Array[Long], n: Long)

  /** Element-wise mean of vectors — the reference's per-product embedding
    * pooling (embed.py:79) as a typed Aggregator: one shuffle with map-side
    * partial aggregation, versus two shuffles for the posexplode+avg plan.
    *
    * Elements quantize to 12 decimal places (HALF_UP, matching SQL
    * DECIMAL casts) and accumulate as exact Long pico-units, so the mean
    * is independent of partition/merge order — a plain double sum makes
    * the 6dp-rounded result flip near rounding boundaries depending on
    * shuffle fetch order, which the exact-hash oracle gate would catch
    * intermittently. Domain: |element| ≤ ~9e6 and Σ|element| ≤ ~9e6 per
    * group (unit-normalized embeddings are far inside both bounds).
    */
  object MeanPoolAgg extends Aggregator[Seq[Double], VecBuf, Seq[Double]] {
    override def zero: VecBuf = VecBuf(Array.emptyLongArray, 0L)

    private def picos(x: Double): Long =
      new java.math.BigDecimal(x)
        .setScale(12, java.math.RoundingMode.HALF_UP)
        .movePointRight(12).longValueExact()

    private def add(sum: Array[Long], v: Seq[Double]): Array[Long] = {
      val out = if (sum.isEmpty) new Array[Long](v.length) else sum.clone()
      var i = 0
      while (i < out.length && i < v.length) { out(i) += picos(v(i)); i += 1 }
      out
    }

    override def reduce(b: VecBuf, a: Seq[Double]): VecBuf =
      if (a == null) b else VecBuf(add(b.sum, a), b.n + 1)

    override def merge(x: VecBuf, y: VecBuf): VecBuf =
      if (x.n == 0) y
      else if (y.n == 0) x
      else {
        val out = x.sum.clone()
        var i = 0
        while (i < out.length && i < y.sum.length) { out(i) += y.sum(i); i += 1 }
        VecBuf(out, x.n + y.n)
      }

    override def finish(b: VecBuf): Seq[Double] =
      if (b.n == 0) null else b.sum.map(p => p.toDouble / 1e12 / b.n).toSeq

    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
  }

  /** `meanPool(asDouble(col))` → array<double> centroid per group. */
  val meanPool: UserDefinedFunction = udaf(MeanPoolAgg, ExpressionEncoder[Seq[Double]]())
}
