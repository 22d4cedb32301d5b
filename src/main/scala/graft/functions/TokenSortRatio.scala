package graft.functions

import graft.kernels.FuzzyKernels
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable `token_sort_ratio(a string, b string) -> int` — exact
  * fuzzywuzzy/difflib parity (FuzzyKernels), as a native Catalyst
  * BinaryExpression so fuzzy joins stay in Catalyst null handling (the
  * reference's dropdown matcher, endpoint_upload.py:215,223). Registered
  * alongside extract_main_text via [[GraftExtensions]].
  *
  * Full `doGenCode` (static call into the kernel): the expression
  * participates in whole-stage codegen instead of breaking the stage the
  * way CodegenFallback would — fuzzy-join projections stay in one
  * generated function.
  */
case class TokenSortRatio(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def nullSafeEval(a: Any, b: Any): Any =
    FuzzyKernels.tokenSortRatio(
      a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.kernels.FuzzyKernels.tokenSortRatio($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenSortRatio =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "token_sort_ratio"
}
