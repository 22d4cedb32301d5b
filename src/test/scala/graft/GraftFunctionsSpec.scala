package graft

import graft.functions.{ExtractMainText, GraftExtensions}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Every graft SQL function reaches a session the way a deployment gets
  * it: through [[GraftSession]]'s `spark.sql.extensions` setting, with no
  * registration call. One row per entry of `GraftExtensions.Functions`.
  */
class GraftFunctionsSpec extends SparkTestBase {

  /** Well-typed arguments per function; a function missing here fails. */
  private val goodArgs = Map(
    "extract_main_text" -> Seq("cast('<p>some words here</p>' as binary)"),
    "extract_doc" -> Seq("cast('<p>some words here</p>' as binary)"),
    "token_sort_ratio" -> Seq("'b a'", "'a b'"),
    "simhash64" -> Seq("'some words here'"),
    "minhash_bands" -> Seq("'some words here'"),
    "nfc" -> Seq("'é'"),
    "porter_stem" -> Seq("'relational'"))

  private val names = GraftExtensions.Functions.map(_._1.funcName)

  /** A session of the recipe that never registered anything. */
  private def fresh() = spark.newSession()

  private def call(name: String, args: Seq[String]) = s"SELECT $name(${args.mkString(", ")}) AS r"

  test("the recipe session is UTC and carries the extension") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.extensions") === classOf[GraftExtensions].getName)
    assert(names.sorted === goodArgs.keys.toSeq.sorted)
  }

  names.foreach { name =>
    val args = goodArgs(name)

    test(s"$name resolves through spark.sql without registration") {
      val s = fresh()
      assert(s.catalog.functionExists(name))
      val r = s.sql(call(name, args)).collect()
      assert(r.length === 1 && !r.head.isNullAt(0))
      // an untyped NULL is given the expected type: null in, null out
      assert(s.sql(call(name, args.map(_ => "NULL"))).collect().head.isNullAt(0))
    }

    test(s"$name refuses a wrong-typed argument with DATATYPE_MISMATCH") {
      val e = intercept[AnalysisException](fresh().sql(call(name, args.map(_ => "1"))))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
      assert(e.getMessage.contains(name))
    }

    test(s"$name refuses a wrong argument count") {
      Seq(Seq.empty[String], args :+ args.head).foreach { wrong =>
        val e = intercept[AnalysisException](fresh().sql(call(name, wrong)))
        assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), e.getMessage)
        assert(e.getMessage.contains(name))
      }
    }
  }

  test("imperative registration restores every function on a session without them") {
    val s = fresh()
    names.foreach(n => s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !s.catalog.functionExists(n)))
    ExtractMainText.register(s)
    names.foreach { n =>
      assert(!s.sql(call(n, goodArgs(n))).collect().head.isNullAt(0), n)
    }
  }
}
