package graft.perfbench

import graft.kernels.{Dom, ExtractKernel, HtmlCharset, HtmlTokenizer, MainTextExtractor, PdfTextExtractor}
import graft.perfbench.Recipes.Doc
import graft.pipeline.ExtractPipeline

/** `graft.kernels` layer, single thread, no Spark: each public entry
  * point of the extraction chain timed over the sample rows it applies to,
  * plus the per-kind and per-error-class counts of the full per-doc
  * kernel (`ExtractPipeline.extractDoc`) over the whole corpus, checked
  * against the plan.
  *
  * Times are taken on the first [[SampleDocs]] docs and reported per doc
  * of that sample (ns in the entry point ÷ sample docs), so the layers
  * add up to the kernel's cost per doc.
  */
object KernelPass {

  private object NullSink extends HtmlTokenizer.Sink {
    var n = 0L
    override def open(name: String, classId: String, selfClosing: Boolean): Unit = n += 1
    override def close(name: String): Unit = n += 1
    override def text(s: CharSequence): Unit = n += s.length
  }

  final case class Result(metrics: Seq[JobBench.Metric], failedUrls: Seq[String])

  /** Docs (a prefix of the corpus, so the same mix) the stages are timed on. */
  final val SampleDocs = 4000
  final val TimedReps = 3

  def run(docs: IndexedSeq[Doc], maxBytes: Int, tracer: Tracer): Result = {
    val sample = docs.take(SampleDocs)
    val n = sample.length.toDouble
    val sized = sample.filter(d => d.row.html != null && d.row.html.length <= maxBytes).map(_.row.html)
    val coded = sized.filter(b => ExtractKernel.transportOf(b) != null)
    val decoded = sized.flatMap { b =>
      if (ExtractKernel.transportOf(b) == null) Some(b) else ExtractKernel.decompressTransport(b)
    }
    val htmlBytes = decoded.filter(b => ExtractKernel.sniff(b) == ExtractKernel.KindHtml)
    val pdfBytes = decoded.filter(b => ExtractKernel.sniff(b) == ExtractKernel.KindPdf)
    val html = htmlBytes.map(HtmlCharset.decode)
    def loop[A](xs: IndexedSeq[A])(f: A => Unit): () => Unit = () => xs.foreach(f)
    val stages = Seq(
      "transport" -> loop(coded)(b => ExtractKernel.decompressTransport(b)),
      "charset" -> loop(htmlBytes)(b => HtmlCharset.decode(b)),
      "tokenize" -> loop(html)(h => HtmlTokenizer.tokenize(h, NullSink)),
      "dom" -> loop(html)(h => Dom.parse(h)),
      "boilerplate" -> loop(html)(h => MainTextExtractor.extract(h)),
      "pdf" -> loop(pdfBytes)(b => PdfTextExtractor.extract(b)))
    // stages interleave: one warm-up round, then TimedReps timed rounds,
    // so no stage is timed on colder code than the one it is subtracted from
    val ns = tracer.span("kernels") {
      val reps = (0 to TimedReps).map { r =>
        stages.map { case (name, f) =>
          tracer.span(if (r == 0) "kernels.warm_up" else s"kernels.$name") {
            val t0 = System.nanoTime(); f(); name -> (System.nanoTime() - t0).toDouble
          }
        }.toMap
      }.tail
      stages.map { case (name, _) => name -> JobBench.median(reps.map(_(name))) }.toMap
    }
    val pdfPages = pdfBytes.map(b => PdfTextExtractor.extract(b).pages.length.toLong).sum

    // full per-doc kernel: counts by kind / error class, checked per url
    val outs = tracer.span("kernels.extract_doc") {
      docs.map(d => d -> ExtractPipeline.extractDoc(d.row, maxBytes, null))
    }
    val failed = outs.collect {
      case (d, o) if o.doc_kind != d.kind || Option(o.error).map(errorClass).orNull != d.err ||
          o.text != d.text => d.row.url
    }
    val kinds = outs.groupBy(_._2.doc_kind).map { case (k, v) => k -> v.size }
    val errors = outs.flatMap(o => Option(o._2.error).map(errorClass)).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val known = Seq("too_large", "gzip_corrupt", "zstd_corrupt", "pdf_unsupported", "pdf_empty")
    val charsOut = outs.map(_._2.n_chars.toLong).sum
    val bytesIn = docs.map(d => if (d.row.html == null) 0L else d.row.html.length.toLong).sum

    val metrics = Seq(
      ("kernels.transport.ns_per_doc", ns("transport") / n, "ns"),
      ("kernels.charset.ns_per_doc", ns("charset") / n, "ns"),
      ("kernels.tokenize.ns_per_doc", ns("tokenize") / n, "ns"),
      ("kernels.dom.self_ns_per_doc", (ns("dom") - ns("tokenize")) / n, "ns"),
      ("kernels.boilerplate.self_ns_per_doc", (ns("boilerplate") - ns("dom")) / n, "ns"),
      ("kernels.pdf.ns_per_doc", ns("pdf") / n, "ns"),
      ("kernels.pdf.pages_per_doc",
        if (pdfBytes.isEmpty) 0.0 else pdfPages.toDouble / pdfBytes.length, "pages")
    ) ++ Seq("html", "pdf", "passthrough", "empty").map(k =>
      (s"kernels.docs.$k", kinds.getOrElse(k, 0).toDouble, "count")
    ) ++ known.map(e => (s"kernels.errors.$e", errors.getOrElse(e, 0).toDouble, "count")) ++ Seq(
      ("kernels.errors.exception",
        errors.filter(e => !known.contains(e._1)).values.sum.toDouble, "count"),
      ("kernels.chars_per_byte", charsOut.toDouble / math.max(1L, bytesIn), "chars/B"))
    Result(metrics, failed)
  }

  /** The error class of a typed-path `error` string: its part before ':'. */
  def errorClass(error: String): String = {
    val i = error.indexOf(':')
    if (i < 0) error else error.substring(0, i)
  }
}
