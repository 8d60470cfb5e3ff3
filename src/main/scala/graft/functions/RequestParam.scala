package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** `graft_param(<foldable value>)`: a request's value bound by reference.
  * Not foldable, so it stays in the plan, and generated code reads it
  * through `ctx.addReferenceObj` (as [[PqEncode]] reads its codebook):
  * the source is the same for every value, so Spark's compile cache
  * serves the next request. The value is part of equality, so two
  * requests never share a cached plan. It is not pushed to a scan. */
case class RequestParam(value: Any, dataType: DataType)
    extends LeafExpression {

  override def nullable: Boolean = value == null

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val ref = ctx.addReferenceObj("param", value,
        CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(JavaCode.expression(
        if (!CodeGenerator.isPrimitiveType(dataType)) ref
        else s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
    }

  override def prettyName: String = "graft_param"
}

object RequestParam {
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_param", (exprs: Seq[Expression]) => exprs match {
        case Seq(v) if v.foldable => RequestParam(v.eval(), v.dataType)
        case _ => throw new IllegalArgumentException(
          s"graft_param expects one foldable value, got $exprs")
      }, "built-in")
}
