package graft

import org.apache.spark.sql.Row

/** Struct-returning extract_doc expression: SQL registration, dispatch
  * kinds, null/failure shapes, codegen parity with interpreted eval.
  */
class ExtractDocSpec extends SparkTestBase {
  import spark.implicits._

  private def run(sql: String): Array[Row] = spark.sql(sql).collect()

  test("html bytes -> text + n_chars + kind in one struct") {
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val html = s"<html><body><p>$para</p></body></html>"
    val r = run(s"SELECT extract_doc(cast('$html' as binary)) as d").head.getStruct(0)
    assert(r.getString(0) == para)
    assert(r.getInt(1) == para.length)
    assert(r.getString(2) == "html")
  }

  test("failure shapes: garbage pdf -> null text, kind pdf; empty -> passthrough") {
    val bad = run("SELECT extract_doc(cast('%PDF-1.4 no streams' as binary)) as d").head.getStruct(0)
    assert(bad.isNullAt(0) && bad.getInt(1) == 0 && bad.getString(2) == "pdf")
    val empty = run("SELECT extract_doc(cast('' as binary)) as d").head.getStruct(0)
    assert(empty.isNullAt(0) && empty.getString(2) == "passthrough")
    val nul = run("SELECT extract_doc(cast(null as binary)) as d").head
    assert(nul.isNullAt(0))
    // transport bodies: a corrupt one is the typed path's html/gzip_corrupt
    // row, one that decodes to nothing is empty
    val gz = HostileDocs.gzip("<p>some html</p>".getBytes("UTF-8"))
    val coded = Seq(gz.take(gz.length * 3 / 5), HostileDocs.gzip(Array.emptyByteArray)).toDF("b")
      .selectExpr("extract_doc(b) as d").collect().map(_.getStruct(0))
    assert(coded(0).isNullAt(0) && coded(0).getInt(1) == 0 && coded(0).getString(2) == "html")
    assert(coded(1).isNullAt(0) && coded(1).getInt(1) == 0 && coded(1).getString(2) == "empty")
  }

  test("codegen path over a range scan matches per-row eval") {
    val rows = spark.range(50)
      .selectExpr("cast(concat('<p>', repeat('word ', 12), id, '</p>') as binary) as html")
      .selectExpr("extract_doc(html) as d")
      .selectExpr("d.text as text", "d.n_chars as n", "d.kind as kind")
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getString(2) == "html")
      assert(r.getString(0).length == r.getInt(1))
      assert(r.getString(0).startsWith("word word"))
    }
  }
}
