package graft.functions

import graft.kernels.PorterStemmer
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable `porter_stem(word string) -> string` — the Porter 1980
  * suffix-stripping algorithm ([[PorterStemmer]]) as a native Catalyst
  * UnaryExpression with full `doGenCode`, so stem-normalized retrieval
  * (e.g. stemming both corpus terms and query terms before BM25) stays
  * inside whole-stage codegen. Registered via [[GraftExtensions]].
  */
case class PorterStem(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(PorterStemmer.stem(s.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.kernels.PorterStemmer.stem($s.toString()))")

  override protected def withNewChildInternal(newChild: Expression): PorterStem =
    copy(child = newChild)

  override def prettyName: String = "porter_stem"
}
