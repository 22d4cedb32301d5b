package graft.functions

import graft.kernels.SimHashKernel
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable `simhash64(text string) -> string` — the 64-bit SimHash
  * fingerprint as a '0'/'1' bitstring, as a native Catalyst expression
  * with full `doGenCode` (static call into [[SimHashKernel]]) so the
  * fingerprint projection stays inside whole-stage codegen. Replaces a
  * 64-×-`filter` composed-builtins pipeline that re-scanned the per-doc
  * word-hash array once per bit; identical output, same DuckDB oracle.
  */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(t: Any): Any =
    SimHashKernel.simhash64(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.kernels.SimHashKernel.simhash64($t)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}
