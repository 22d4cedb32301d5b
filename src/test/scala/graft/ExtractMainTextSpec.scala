package graft

import org.apache.spark.sql.AnalysisException

/** SQL-surface tests for the native extract_main_text expression. */
class ExtractMainTextSpec extends SparkTestBase {

  test("extract_main_text: html literal through spark.sql") {
    val html = "<html><nav>menu menu</nav><body><p>Real article text here, " +
      "long enough to win scoring against the nav chrome block.</p></body></html>"
    val out = spark.sql(s"SELECT extract_main_text(cast('$html' as binary)) AS t")
      .collect()(0).getString(0)
    assert(out === "Real article text here, long enough to win scoring against the nav chrome block.")
  }

  test("extract_main_text: null input and unparseable PDF yield null (nullable regression)") {
    // regression: the expression must declare nullable=true even over a
    // non-null child, or collect() dies with EXPRESSION_DECODING_FAILED
    val rows = spark.sql(
      "SELECT extract_main_text(cast(NULL as binary)) AS a, " +
        "extract_main_text(cast('%PDF-1.4 garbage' as binary)) AS b").collect()(0)
    assert(rows.isNullAt(0) && rows.isNullAt(1))
  }

  test("extract_main_text: non-binary input is a clean analysis error") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT extract_main_text('oops')").collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"))
    assert(e.getMessage.contains("extract_main_text"))
    assert(e.getMessage.contains("\"BINARY\""))
  }
}
