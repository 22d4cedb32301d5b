package graft.functions

import graft.kernels.ExtractKernel
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `extract_doc(html binary) -> struct<text string, n_chars int, kind
  * string>` — the struct-returning sibling of `extract_main_text`: one
  * codegen'd call yields the extracted text, its length, and the sniffed
  * document kind, so the expression-only fast path can carry the dispatch
  * outcome without a Dataset encoder or a second kernel invocation.
  *
  * Text, kind and failure shape come from the typed path's core
  * (`ExtractKernel.extract`): text is null (and n_chars 0) for empty
  * input, corrupt transport bodies, failed PDFs, or a kernel fault
  * (per-row catch); `kind` is the dispatch outcome after transport decode
  * (reference dispatch analog api.py:123-125). n_chars counts code
  * points, like `length(text)` in SQL and the typed path's
  * `ExtractedDoc.n_chars`.
  */
case class ExtractDoc(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ExtractDoc.Schema
  override def nullable: Boolean = true // null only when the input is null
  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  override def nullSafeEval(input: Any): Any =
    ExtractDoc.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExtractDoc.evalBytes($c);")

  override protected def withNewChildInternal(newChild: Expression): ExtractDoc =
    copy(child = newChild)

  override def prettyName: String = "extract_doc"
}

object ExtractDoc {

  val Schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false)))

  /** Shared by interpreted eval and generated code; always returns a row
    * (never null) — text null is the failure shape. The kind is the typed
    * path's, except that a row with no bytes reports `passthrough`: the
    * one-argument function cannot see the crawl text.
    */
  def evalBytes(bytes: Array[Byte]): InternalRow = {
    val r = ExtractKernel.extract(bytes, null, Int.MaxValue)
    val text = UTF8String.fromString(r.textOrNull)
    val kind = if (bytes.length == 0) ExtractKernel.KindPassthrough else r.kind
    InternalRow(text, if (text == null) 0 else text.numChars(), UTF8String.fromString(kind))
  }
}
