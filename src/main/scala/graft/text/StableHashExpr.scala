package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for StableHash.hash64 over a string column
  * — codegen'd (`doGenCode`), so hash-heavy scans (stratified sampling,
  * bucket assignment) stay inside whole-stage codegen instead of paying
  * the UDF serialization boundary. [[StableHash64.register]] adds it to
  * a session as SQL `stable_hash64` (q165 does, alongside `cosine_sim`).
  */
case class StableHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${dt.catalogString}")
  }

  override def prettyName: String = StableHash64.fnName

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    StableHash.hash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.StableHash.hash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object StableHash64 {
  val fnName = "stable_hash64"

  val builder: Seq[Expression] => Expression = exprs => StableHash64(exprs.head)

  def apply(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      StableHash64(org.apache.spark.sql.GraftSqlBridge.expression(c)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName, builder, "scala_udf")
}
