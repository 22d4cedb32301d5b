package graft.functions

import graft.kernels.MinHashKernel
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable `minhash_bands(text string) -> array<string>` — the 4
  * MinHash LSH band keys (K=8 salted-md5 minima over 3-word shingles,
  * paired into 2-signature bands) as a native Catalyst expression with
  * full `doGenCode`. `posexplode(minhash_bands(text))` yields the
  * (band_no, bkey) long form the LSH bucket join shuffles on.
  */
case class MinHashBands(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(t: Any): Any =
    MinHashKernel.minhashBands(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.kernels.MinHashKernel.minhashBands($t)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}
