package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.HtmlText

/** Native Catalyst expression for deterministic HTML → text extraction.
  *
  * A codegen'd `UnaryExpression` (not a Scala UDF): `doGenCode` emits a
  * direct static call, so the extraction stays inside whole-stage codegen
  * with no ser/deser boundary — scan → extract → downstream all fuse into
  * one generated function. This is the "computed scalar during scan"
  * pattern the reference applies for `@collection_name`
  * (/root/reference/src/graph_loader.rs:51-56), at KG scale.
  */
case class HtmlExtractExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"html_extract expects BINARY, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(HtmlText.extract(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.extract.HtmlText.extract($c))")

  override protected def withNewChildInternal(newChild: Expression): HtmlExtractExpr =
    copy(child = newChild)

  override def prettyName: String = "html_extract"
}

object HtmlExtractExpr {

  import org.apache.spark.sql.GraftColumnBridge

  /** Column-level API. */
  def html_extract(c: Column): Column =
    GraftColumnBridge.column(HtmlExtractExpr(GraftColumnBridge.expression(c)))

  /** Register `html_extract` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "html_extract", exprs => HtmlExtractExpr(exprs.head), "built-in")
}
