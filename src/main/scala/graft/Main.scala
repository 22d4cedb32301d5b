package graft

import graft.pipeline.{ExtractJob, ExtractPipeline}

/** spark-submit entry point (SURVEY §7.1 module 5):
  *
  * {{{
  *   spark-submit --class graft.Main graft.jar \
  *     --input  /data/pages        (parquet/iceberg dir of the pages table)
  *     --output /data/extracted    (day-partitioned parquet output)
  *     [--ledger DIR]              (commit ledger for resume; default
  *                                  <output>/_ledger)
  *     [--max-bytes B]             (poison-pill size cap, default 64 MiB)
  * }}}
  *
  * The job's one exchange is a rebalance on the day column: one file per
  * day. Bad arguments exit 2 with a usage line before any session starts.
  *
  * On a cluster the session master/resources come from spark-submit; the
  * local[*] fallback is for ad-hoc runs. Re-running after a kill resumes:
  * committed days are pruned before any html byte is read.
  */
object Main {

  private val Flags = Set("input", "output", "ledger", "max-bytes")

  private val Usage = "usage: graft.Main --input DIR --output DIR [--ledger DIR] [--max-bytes N]"

  /** The flags by name, or why the arguments are refused. */
  private[graft] def parseArgs(args: List[String]): Either[String, Map[String, String]] = {
    def go(as: List[String]): Either[String, Map[String, String]] = as match {
      case Nil => Right(Map.empty)
      case k :: _ if !k.startsWith("--") => Left(s"unexpected argument '$k'")
      case k :: _ if !Flags(k.drop(2)) => Left(s"unknown flag $k")
      case k :: v :: rest if !v.startsWith("--") => go(rest).map(_ + (k.drop(2) -> v))
      case k :: _ => Left(s"$k needs a value")
    }
    go(args).filterOrElse(o => o.contains("input") && o.contains("output"),
      "--input and --output are required")
      .filterOrElse(_.get("max-bytes").forall(_.toIntOption.exists(_ > 0)),
        "--max-bytes needs a positive integer")
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList) match {
      case Right(o) => o
      case Left(why) =>
        System.err.println(s"graft.Main: $why\n$Usage")
        sys.exit(2)
    }
    val output = opts("output")
    val ledger = opts.getOrElse("ledger", s"$output/_ledger")
    val maxBytes = opts.get("max-bytes").map(_.toInt).getOrElse(64 << 20)

    val spark = GraftSession(sys.props.getOrElse("spark.master", "local[*]"), "graft-extract",
      logLevel = Some("WARN"))

    val pages = spark.read.parquet(opts("input"))
    val res = ExtractJob.run(spark, pages, output, ledger,
      ExtractPipeline.Conf(maxBytes = maxBytes))

    println(
      s"""{"days_processed":${res.daysProcessed.length},"days_skipped":${res.daysSkipped},""" +
        s""""docs_ok":${res.docsOk},"docs_failed":${res.docsFailed},"wall_ms":${res.wallMs}}""")
    spark.stop()
  }
}
