package graft

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A literal whose value the generated code reads from the stage's
  * references array instead of writing it into the Java source.
  *
  * Spark's `Literal` writes boolean, integral, float and double values
  * (dates and timestamps included) straight into the generated source,
  * and the codegen cache is keyed by that source text: a request value
  * such as a focus id or a budget makes a new source, and so a new
  * Janino compile of the whole stage, on every request. A `BoundLiteral`
  * generates the same source whatever its value. `Literal` already
  * passes values of every other type through the references array.
  *
  * It is a `Literal` subclass, so data-source filter translation still
  * sees `col = value` and parquet still prunes row groups on it. It is
  * not foldable, so constant folding never evaluates an expression over
  * it into a fresh, inlined `Literal` (a budget `b` would otherwise come
  * back as `0.3 * b` written into the source).
  */
final class BoundLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def foldable: Boolean = false
  override def contextIndependentFoldable: Boolean = false

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(JavaCode.expression(
        s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
    }
}

object BoundLiteral {
  /** `lit(v)` for a per-request value: same type and result, one
    * compiled stage for every value. */
  def of(v: Any): Column = {
    val l = Literal(v)
    GraftSqlBridge.column(new BoundLiteral(l.value, l.dataType))
  }
}
