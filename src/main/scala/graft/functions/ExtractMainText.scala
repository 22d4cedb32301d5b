package graft.functions

import graft.kernels.ExtractKernel
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable main-content extraction (SURVEY §4.3 / §7.4 phase-2 item):
  * `extract_main_text(html binary) -> string` as a native Catalyst
  * [[UnaryExpression]]. The kernel itself is an opaque tree/string
  * routine, so the generated code is a static call into it — but a real
  * `doGenCode` (vs CodegenFallback) means the expression participates in
  * whole-stage codegen and the enclosing projection stays one generated
  * function instead of splitting at this call.
  *
  * Dispatch is the typed path's own (`ExtractKernel.extract`: transport
  * decode, then content sniffing on magic bytes, reference analog
  * api.py:123-125): `%PDF-` → PDF kernel (pages joined with '\n'),
  * anything else → HTML boilerplate-strip, null/empty → null.
  */
case class ExtractMainText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType
  // null is produced even for non-null input (empty bytes, PDF with no
  // extractable pages), so nullability can't be inherited from the child
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    ExtractMainText.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("extracted")
      // the expression is nullable even for non-null input (empty bytes,
      // PDF with no extractable pages), so map the helper's null to isNull
      s"""
         |org.apache.spark.unsafe.types.UTF8String $tmp =
         |  graft.functions.ExtractMainText.evalBytes($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ExtractMainText =
    copy(child = newChild)

  override def prettyName: String = "extract_main_text"
}

object ExtractMainText {

  /** Shared by interpreted eval and generated code (static forwarder makes
    * it callable from Janino-compiled Java). Null ⇔ nothing extractable:
    * no bytes, or an error row of the shared core (`ExtractKernel.extract`),
    * whose per-row catch keeps a pathological document from failing the
    * task. No size cap — `ExtractPipeline.extractText` applies it.
    */
  def evalBytes(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(ExtractKernel.extract(bytes, null, Int.MaxValue).textOrNull)

  /** Registers every graft SQL function on a session built without
    * [[GraftExtensions]]; the benchmark harness compiles against this name.
    */
  def register(spark: SparkSession): Unit = GraftExtensions.register(spark)
}
