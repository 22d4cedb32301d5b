package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import scala.reflect.ClassTag

/** Session-extension injector: enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (every `graft.GraftSession` does) to make the graft SQL functions
  * available to plain `spark.sql(...)` on a 1000-executor cluster without
  * any imperative setup — the idiomatic deployment path for a shared
  * library (SURVEY §4.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** A function entry built by Catalyst's own reflective builder: the
    * case class's constructor fixes the arity (a wrong argument count is
    * `WRONG_NUM_ARGS`), and its `inputTypes` the accepted types.
    */
  private def fn[T <: Expression : ClassTag](
      name: String): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val (info, builder) = FunctionRegistryBase.build[T](name, since = None)
    (FunctionIdentifier(name), info, builder)
  }

  /** Every graft SQL function, listed once. */
  val Functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[ExtractMainText]("extract_main_text"),
    fn[ExtractDoc]("extract_doc"),
    fn[TokenSortRatio]("token_sort_ratio"),
    fn[SimHash64]("simhash64"),
    fn[MinHashBands]("minhash_bands"),
    fn[NfcNormalize]("nfc"),
    fn[PorterStem]("porter_stem"))

  /** Imperative registration for a session built without the extension
    * (idempotent — registerFunction overwrites).
    */
  def register(spark: SparkSession): Unit =
    Functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
