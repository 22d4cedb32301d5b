package graft.functions

import graft.kernels.UnicodeKernel
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable `nfc(s string) -> string` — Unicode NFC normalization as
  * a native Catalyst UnaryExpression (Spark has no built-in normalizer;
  * DuckDB's `nfc_normalize` is the cross-engine oracle). Registered via
  * [[GraftExtensions]] so `spark.sql("select nfc(text) ...")` works on a
  * cluster with zero imperative setup.
  *
  * Full `doGenCode` (static call into [[UnicodeKernel]]) keeps the
  * projection inside whole-stage codegen; the kernel's `isNormalized`
  * fast path makes the common all-ASCII row a scan, not an allocation.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(UnicodeKernel.nfc(s.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.kernels.UnicodeKernel.nfc($s.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc"
}
