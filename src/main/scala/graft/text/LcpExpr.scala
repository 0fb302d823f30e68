package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Longest common prefix, in CODE POINTS, of two string SUFFIXES given
  * by 1-based character offsets: `lcp_chars(a, aOff, b, bOff)` ==
  * length of the longest common prefix of substr(a, aOff) and
  * substr(b, bOff).
  *
  * This is the adjacent-pair kernel of suffix-array consumers (Lee et
  * al. 2022 find every repeated span as an adjacent-SA LCP). Spark can
  * only express it by materializing both suffixes and zipping
  * char-split arrays — per pair that allocates two char arrays and
  * copies both suffix tails, which on a corpus-sized pair stream is an
  * allocation storm (it was the whole bench's #1 cost). This native
  * expression walks the two UTF8Strings IN PLACE (`getByte`, no copy,
  * no decode), stops at the first mismatching code point, and stays
  * inside whole-stage codegen via a static call.
  *
  * Offsets count code points (substr semantics in Spark and DuckDB
  * both); comparison is per code point, so the result agrees with the
  * DuckDB oracle's char-split zip on any valid UTF-8. Offsets past the
  * end yield 0; identical remainders yield the shorter remaining
  * length.
  */
object Lcp {

  private def skipChars(s: UTF8String, cnt: Long): Int = {
    val n = s.numBytes
    var i = 0
    var c = 0L
    while (c < cnt && i < n) {
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
      c += 1
    }
    i
  }

  def lcpU(a: UTF8String, aOff: Long, b: UTF8String, bOff: Long): Long = {
    var ia = skipChars(a, aOff - 1)
    var ib = skipChars(b, bOff - 1)
    val na = a.numBytes
    val nb = b.numBytes
    var n = 0L
    while (ia < na && ib < nb) {
      val la = UTF8String.numBytesForFirstByte(a.getByte(ia))
      if (la != UTF8String.numBytesForFirstByte(b.getByte(ib))) return n
      var j = 0
      while (j < la) {
        if (a.getByte(ia + j) != b.getByte(ib + j)) return n
        j += 1
      }
      ia += la
      ib += la
      n += 1
    }
    n
  }

  val fnName = "lcp_chars"

  def apply(a: Column, aOff: Column, b: Column, bOff: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      LcpChars(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(aOff),
        org.apache.spark.sql.GraftSqlBridge.expression(b),
        org.apache.spark.sql.GraftSqlBridge.expression(bOff)))
}

case class LcpChars(first: Expression, second: Expression,
                    third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (StringType, LongType, StringType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, bigint, string, bigint), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}, ${d.catalogString}")
    }

  override def prettyName: String = Lcp.fnName

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, ao: Any, b: Any, bo: Any): Any =
    Lcp.lcpU(a.asInstanceOf[UTF8String], ao.asInstanceOf[Long],
      b.asInstanceOf[UTF8String], bo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, ao, b, bo) => s"graft.text.Lcp.lcpU($a, $ao, $b, $bo)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}
