package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler string similarity (Winkler 1990, the record-linkage
  * standard): Jaro similarity — matches within a floor(max/2)-1 window,
  * half-transposition count — boosted by the shared prefix (≤4 chars,
  * scale 0.1) when the base Jaro exceeds 0.7. Matches DuckDB's
  * `jaro_winkler_similarity` (the oracle twin) including its edge
  * conventions: either side empty → 0.0, boost only above the 0.7
  * threshold.
  *
  * Spark ships no fuzzy string matching beyond levenshtein, so entity
  * resolution / record linkage (the classic Fellegi–Sunter compare
  * step) needs this as a native expression: codegen'd via a static
  * call, it stays inside whole-stage codegen rather than paying a UDF
  * serialization boundary per candidate pair.
  *
  * Comparison unit is the UTF-8 BYTE, exactly like DuckDB (which
  * compares the raw bytes of its UTF-8 strings): on non-ASCII input
  * the two engines agree (e.g. 'héllo'/'hállo' → 0.911111), where a
  * UTF-16 char-level walk would drift (0.88). On ASCII the two units
  * coincide. simU works straight off UTF8String's bytes — no String
  * decode on the hot path.
  */
object JaroWinkler {
  final val PrefixScale = 0.1
  final val BoostThreshold = 0.7
  final val MaxPrefix = 4

  def jaroBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (la == 1 && lb == 1) return if (a(0) == b(0)) 1.0 else 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // half-transpositions: walk both matched subsequences in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / la + md / lb + (md - t / 2) / md) / 3.0
  }

  def simBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val j = jaroBytes(a, b)
    if (j <= BoostThreshold) return j
    var l = 0
    val max = math.min(MaxPrefix, math.min(a.length, b.length))
    while (l < max && a(l) == b(l)) l += 1
    j + l * PrefixScale * (1.0 - j)
  }

  def jaro(a: String, b: String): Double = jaroBytes(
    a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def sim(a: String, b: String): Double = simBytes(
    a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def simU(a: UTF8String, b: UTF8String): Double =
    simBytes(a.getBytes, b.getBytes)

  val fnName = "jaro_winkler"

  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      JaroWinklerSim(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))
}

case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string arguments, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def prettyName: String = JaroWinkler.fnName

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.simU(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.text.JaroWinkler.simU($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
