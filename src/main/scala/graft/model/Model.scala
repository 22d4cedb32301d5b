package graft.model

import java.sql.Timestamp

/** North-rule input row (BASELINE.json `input_hint`):
  * `(url string, warc_ts timestamp, html binary, text string, lang string)`.
  * Mirrors the reference's uploaded document blob (api.py:181-201) as one
  * row of a Common-Crawl-style pages table.
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Character span into the extracted text. Invariants (FIXTURES.md §2):
  * sorted by begin, non-overlapping, `0 <= begin <= end <= text.length`.
  * `kind` is the block category (p | heading | li | cell | pre | line | text).
  */
final case class Span(begin: Int, end: Int, kind: String)

/** Final per-document record: the page->document rollup of the reference's
  * combined JSON `{page_count, pages:[...]}` (api.py:261-269). `n_chars`
  * is `text.length` in UTF-16 units; the SQL functions (`extract_doc`,
  * `ExtractPipeline.extractText`) count code points instead.
  */
final case class ExtractedDoc(
    url: String,
    warc_ts: Timestamp,
    doc_kind: String,
    page_count: Int,
    text: String,
    spans: Seq[Span],
    n_chars: Int,
    lang: String,
    error: String)
