package graft.perfbench

import graft.functions.ExtractMainText
import graft.model.PageRow
import graft.perfbench.Recipes.{Doc, Workload}
import graft.pipeline.{ExtractJob, ExtractPipeline, Ledger, ParquetFormat}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark process: the real `ExtractJob` end to end on one
  * seeded workload, in a closed loop with one client (one batch job at a
  * time) on `local[k]`, k = available processors.
  *
  * {{{
  *   JobBench --mode run --workload W --seed S --seconds T --trace 0|1 --work DIR
  *   JobBench --mode stamps        (prints the entries of perfbench/stamps.json)
  * }}}
  *
  * A run: set-up [[SetupSamples]] times (the first in the cold JVM) →
  * corpus generation → identity check → warm-up → the timed phases →
  * output checks. The timed phases: one `ExtractJob.run` from an empty
  * output dir to its last ledger commit, a simulated kill and the resume
  * re-run, and expression passes (`extractText` forced by
  * `sum(n_chars)`); see [[timed]].
  * With `--trace 1` the run instead measures layer by layer (see
  * [[traced]]).
  *
  * The last stdout line is `PERFBENCH_RESULT {json}`. A phase that throws
  * exits 3 and names the phase; a corpus whose identity differs from the
  * recorded one is refused the same way, before anything is timed.
  */
object JobBench {

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since the JVM began. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - started) / 1e9}%6.1f s] $msg")

  final class PhaseFailed(val phase: String, cause: Throwable)
      extends RuntimeException(s"phase '$phase' failed: $cause", cause)

  def phase[A](name: String)(f: => A): A =
    try f catch { case NonFatal(e) => throw new PhaseFailed(name, e) }

  final val SetupSamples = 3
  /** Canary rows the set-up warm-up extracts. */
  final val WarmUpRows = 400
  final val WarmUpJobs = 1
  final val MinExprPasses = 4
  /** Rows of the pages table per generated file. */
  final val GenPartitions = 8
  final val KilledPart = "part-99999-killed.c000.snappy.parquet"

  /** A pages-table row with its expectation. */
  final case class GenRow(url: String, warc_ts: Timestamp, html: Array[Byte],
      text: String, lang: String, kind: String, err: String, exp_text: String,
      exp_expr_text: String)

  def session(k: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graft-perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The job's configuration as `graft.Main` sets it by default (url-hash
    * exchange over 3 × parallelism partitions) plus the workload's own
    * `--max-bytes` / `--host-salt`.
    */
  def conf(w: Workload, k: Int): ExtractPipeline.Conf =
    ExtractPipeline.Conf(repartition = 3 * k, maxBytes = w.maxBytes, hostSalt = w.hostSalt)

  def pagesOf(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataset(docs.map(_.row))(Encoders.product[PageRow]).toDF()

  /** Cold set-up: session, extension registration and one warm-up pass
    * of both surfaces over the first [[WarmUpRows]] canary rows. Returns
    * (session, seconds).
    */
  def setup(w: Workload, k: Int, work: Path, canary: Seq[Doc]): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(k, work)
    ExtractMainText.register(spark)
    val pages = pagesOf(spark, canary.take(WarmUpRows))
    ExtractPipeline.extract(spark, pages, conf(w, k)).count()
    ExtractPipeline.extractText(spark, pages, conf(w, k)).agg(sum("n_chars")).collect()
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** The generated rows with their expectation, computed where used. */
  def generated(spark: SparkSession, w: Workload, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, w.docs.toLong, 1L, GenPartitions).as[Long].mapPartitions { it =>
      val g = new Recipes.Generator(w, seed)
      it.map { i =>
        val d = g.doc(i)
        GenRow(d.row.url, d.row.warc_ts, d.row.html, d.row.text, d.row.lang, d.kind, d.err,
          d.text, d.exprText)
      }
    }.toDF()
  }

  def pagesView(gen: DataFrame): DataFrame = gen.select("url", "warc_ts", "html", "text", "lang")

  /** The per-url expectation the checks compare with. */
  def expectView(gen: DataFrame): DataFrame =
    gen.select(col("url"), col("kind"), col("err"), col("exp_text").as("text"),
      col("exp_expr_text").as("expr_text"))

  /** What generation leaves besides the pages table: the planned kind and
    * error mix and the expectation's digests (typed path, expression path).
    */
  final case class Generated(kinds: Map[String, Long], errors: Map[String, Long],
      typedDigest: BigInt, exprDigest: BigInt)

  /** Writes the pages table, the only input the program gets. */
  def generate(spark: SparkSession, w: Workload, seed: Long, pagesDir: String): Generated = {
    val gen = generated(spark, w, seed).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      pagesView(gen).write.parquet(pagesDir)
      val rows = expectView(gen).groupBy("kind", "err").agg(count(lit(1)),
        sum(Checker.typedHash(col("kind"), col("err"), col("text"))),
        sum(Checker.exprHash(col("expr_text")))).collect()
      def mix(i: Int) = rows.filter(!_.isNullAt(i)).groupBy(_.getString(i))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
      Generated(mix(0), mix(1), rows.map(r => Checker.bigInt(r.getDecimal(3))).sum,
        rows.map(r => Checker.bigInt(r.getDecimal(4))).sum)
    } finally { gen.unpersist(); () }
  }

  /** Simulated kill between write and commit: drop the ledger entries of
    * a fixed third of the days (every third committed day) and leave a
    * truncated part file in the first of their dirs. Returns the killed
    * partitions and the docs they hold.
    */
  def kill(outDir: String, ledgerDir: String): (Seq[String], Long) = {
    val committed = Ledger.committed(ledgerDir).values.toSeq.sortBy(_.partition)
    val killed = committed.zipWithIndex.collect { case (e, i) if i % 3 == 0 => e }
    killed.foreach(e => Ledger.drop(ledgerDir, e.partition))
    val dir = Paths.get(outDir, killed.head.partition)
    val part = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).maxBy(Files.size(_))
    val bytes = Files.readAllBytes(part)
    Files.write(dir.resolve(KilledPart), java.util.Arrays.copyOf(bytes, bytes.length / 2))
    (killed.map(_.partition), killed.map(_.rows).sum)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Everything a run needs, after set-up and the identity check. */
  final class Ctx(val spark: SparkSession, val w: Workload, val k: Int, val seed: Long,
      val work: Path, val pagesDir: String, val gen: Generated) {
    val jobConf: ExtractPipeline.Conf = conf(w, k)
    def pages: DataFrame = spark.read.parquet(pagesDir)
    /** Regenerated on demand: only a failed digest needs it. */
    def expect: DataFrame = expectView(generated(spark, w, seed))
    private val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    private var failedCount = 0L
    def addFailures(what: String, f: Checker.Failures): Unit = if (f.count > 0) {
      log(s"$what: ${f.count} docs failed, e.g. ${f.sample.take(5).mkString(", ")}")
      failed ++= f.sample
      failedCount = math.max(failedCount, f.count)
    }
    def docsFailed: Long = math.max(failedCount, failed.size.toLong)
  }

  /** One job from an empty output dir to its last ledger commit, checked
    * against the plan's ok / error counts; returns (result, wall seconds).
    */
  def coldJob(c: Ctx, out: String): (ExtractJob.Result, Double) = phase("cold job") {
    val (res, t) = secondsOf(ExtractJob.run(c.spark, c.pages, out, s"$out/_ledger", c.jobConf))
    val planned = c.gen.errors.values.sum
    if (res.docsOk + res.docsFailed != c.w.docs || res.docsFailed != planned)
      throw new IllegalStateException(s"job counted ${res.docsOk} ok + ${res.docsFailed} " +
        s"failed docs; the plan is ${c.w.docs} docs with $planned error rows")
    (res, t)
  }

  /** Kill + resume + check the committed table; returns (resume result,
    * killed docs, resume wall seconds).
    */
  def killAndResume(c: Ctx, out: String): (ExtractJob.Result, Long, Double) = {
    val (killed, killedDocs) = phase("kill")(kill(out, s"$out/_ledger"))
    val (res, t) = phase("resume") {
      secondsOf(ExtractJob.run(c.spark, c.pages, out, s"$out/_ledger", c.jobConf))
    }
    phase("check table") {
      if (res.daysProcessed.map(d => s"p_day=${d.day}").sorted != killed.sorted)
        throw new IllegalStateException(s"resume rewrote ${res.daysProcessed.map(_.day)}; killed $killed")
      if (Files.exists(Paths.get(out, killed.head, KilledPart)))
        throw new IllegalStateException("the truncated part file survived the resume")
      c.addFailures("committed table",
        Checker.tableQuick(ParquetFormat.read(c.spark, out), c.gen.typedDigest, c.expect))
    }
    (res, killedDocs, t)
  }

  def exprPass(c: Ctx): Double = phase("expression pass") {
    secondsOf(ExtractPipeline.extractText(c.spark, c.pages, c.jobConf)
      .agg(sum("n_chars")).collect())._2
  }

  /** Checks the expression output; returns its null-text rows. */
  def checkExpression(c: Ctx): Long = phase("check expression") {
    val (f, nulls) = Checker.expressionQuick(
      ExtractPipeline.extractText(c.spark, c.pages, c.jobConf), c.gen.exprDigest, c.expect)
    c.addFailures("expression output", f)
    val planned = c.gen.kinds.getOrElse("empty", 0L) + c.gen.errors.values.sum
    if (nulls != planned)
      c.addFailures("expression null rows", Checker.Failures(math.abs(nulls - planned), Nil))
    nulls
  }

  type Metric = (String, Double, String)

  /** A cold job into a fresh dir, for warming the JIT; not reported. */
  def warmUpJob(c: Ctx, name: String): Double = {
    val out = c.work.resolve(name).toString
    val t = coldJob(c, out)._2
    deleteTree(Paths.get(out))
    t
  }

  /** The timed phases; returns the end-to-end metrics. [[WarmUpJobs]]
    * full-size job and one expression pass warm the JIT first (the first
    * job in a JVM is mostly compilation and varies with it); then one
    * cold job into a fresh dir, the kill + resume, and expression passes
    * until `seconds` have passed since the timed job started, at least
    * [[MinExprPasses]].
    */
  def timed(c: Ctx, seconds: Int, setupS: Double): Seq[Metric] = {
    val warm = (1 to WarmUpJobs).map(i => warmUpJob(c, s"warm-up-$i")) :+ exprPass(c)
    val t0 = System.nanoTime()
    val out = c.work.resolve("out").toString
    val (_, tJob) = coldJob(c, out)
    val (_, _, tResume) = killAndResume(c, out)
    deleteTree(Paths.get(out))
    val exprs = ArrayBuffer.empty[Double]
    while (exprs.length < MinExprPasses || System.nanoTime() - t0 < seconds * 1000000000L)
      exprs += exprPass(c)
    log(f"warm-up ${warm.map(t => f"$t%.3f").mkString(" ")} s; job $tJob%.3f s, resume $tResume%.3f s, " +
      s"expression ${exprs.map(t => f"$t%.3f").mkString(" ")} s")
    checkExpression(c)
    Seq(
      ("setup_s", setupS, "s"),
      ("job_docs_per_s", c.w.docs / tJob, "docs/s"),
      ("resume_s", tResume, "s"),
      ("expr_docs_per_s", c.w.docs / median(exprs.toSeq), "docs/s"),
      ("docs_ok_share", 1.0 - c.docsFailed.toDouble / c.w.docs, "ratio"))
  }

  /** Per-layer metrics of one cold job from the listener window; also
    * records the job's Spark jobs and stages as spans under `parent`.
    */
  private def jobLayers(win: JobListener.Window, returnedMs: Double, out: String,
      tracer: Tracer, parent: Int): Map[String, (Double, String)] = {
    // the write's jobs end with the one whose stage writes output; the
    // read-back aggregation (schema merge + group-by) follows it
    val lastWrite = win.stages.filter(_.outputBytes > 0).map(_.jobId).maxOption.getOrElse(-1)
    val (write, stats) = win.jobs.sortBy(_.id).partition(_.id <= lastWrite)
    win.jobs.foreach { j =>
      val id = tracer.record(if (j.id <= lastWrite) "spark.write_job" else "spark.stats_job",
        parent, j.startMs.toDouble, j.endMs.toDouble)
      win.stages.filter(_.jobId == j.id).foreach { s =>
        val kind = if (s.outputBytes > 0) "stage.write"
          else if (s.shuffleBytesWritten > 0) "stage.exchange_map" else "stage.other"
        tracer.record(kind, id, s.submittedMs.toDouble, s.completedMs.toDouble)
      }
    }
    tracer.record("pipeline.ledger", parent, win.lastJobEndMs.toDouble, returnedMs)
    val writeIds = write.map(_.id).toSet
    val ws = win.stages.filter(s => writeIds.contains(s.jobId))
    val tasks = win.taskMs.sorted
    def pct(p: Double) = if (tasks.isEmpty) 0.0
      else tasks(math.max(0, math.ceil(p * tasks.length).toInt - 1)).toDouble
    val files = Files.walk(Paths.get(out)).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    Map(
      "pipeline.exchange.write_s" -> (ws.map(_.shuffleWriteNs).sum / 1e9, "s"),
      "pipeline.exchange.fetch_wait_s" -> (ws.map(_.fetchWaitMs).sum / 1e3, "s"),
      "pipeline.task_cpu_s" -> (win.stages.map(_.cpuNs).sum / 1e9, "s"),
      "pipeline.gc_s" -> (win.stages.map(_.gcMs).sum / 1e3, "s"),
      "pipeline.task_ms.p50" -> (pct(0.5), "ms"),
      "pipeline.task_ms.p99" -> (pct(0.99), "ms"),
      "pipeline.task_ms.samples" -> (tasks.length.toDouble, "count"),
      "pipeline.task_skew" -> (if (tasks.isEmpty) 0.0 else tasks.last / math.max(1.0, pct(0.5)), "ratio"),
      "pipeline.write_s" ->
        (ws.filter(_.outputBytes > 0).map(s => s.completedMs - s.submittedMs).sum / 1e3, "s"),
      "pipeline.write.output_bytes" -> (ws.map(_.outputBytes).sum.toDouble, "B"),
      "pipeline.write.files" -> (files.toDouble, "count"),
      "pipeline.stats_s" -> (if (stats.isEmpty) 0.0
        else (stats.map(_.endMs).max - stats.map(_.startMs).min) / 1e3, "s"),
      "pipeline.ledger_s" -> ((returnedMs - win.lastJobEndMs) / 1e3, "s"))
  }

  /** The traced run. After the warm-up jobs, traced and untraced cold
    * jobs run in the order traced, untraced, untraced, traced (so drift
    * cancels) for `trace.overhead_share`; the traced ones, under the
    * listener and spans, give the pipeline layers (their mean). Then the
    * kill + resume of the last traced job, one pass per layer (scan only,
    * typed extract only, exchange bytes for both placements, expression)
    * and the single-thread kernel pass.
    */
  def traced(c: Ctx, docs: IndexedSeq[Doc], tracer: Tracer): Seq[Metric] = {
    val sc = c.spark.sparkContext
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val heap = new HeapSampler
    heap.start()

    (1 to WarmUpJobs).foreach(i => warmUpJob(c, s"warm-up-$i"))
    val listener = new JobListener
    def window(): JobListener.Window = { BusDrain(sc); listener.window() }
    def tracedJob(out: String): (Double, Map[String, (Double, String)]) = {
      sc.addSparkListener(listener)
      listener.mark()
      try tracer.span("pipeline.job") {
        val parent = tracer.current
        val t = coldJob(c, out)._2
        val returned = tracer.nowMs
        (t, jobLayers(window(), returned, out, tracer, parent))
      } finally sc.removeSparkListener(listener)
    }
    val first = tracedJob(c.work.resolve("traced-1").toString)
    deleteTree(c.work.resolve("traced-1"))
    val untraced = Seq(warmUpJob(c, "untraced-1"), warmUpJob(c, "untraced-2"))
    val out = c.work.resolve("traced-2").toString
    val second = tracedJob(out)
    val tracedS = (first._1 + second._1) / 2
    val layers = first._2.map { case (k, (v, u)) => (k, (v + second._2(k)._1) / 2, u) }
    sc.addSparkListener(listener)
    val (resumed, killedDocs, _) = tracer.span("pipeline.resume")(killAndResume(c, out))
    deleteTree(Paths.get(out))
    val reextracted = resumed.docsOk + resumed.docsFailed

    def pass(name: String)(f: => Unit): (Double, JobListener.Window) = {
      listener.mark()
      val t = tracer.span(name)(secondsOf(phase(name)(f))._2)
      (t, window())
    }
    val (scanS, _) = pass("pipeline.scan") { c.pages.agg(sum(length(col("html")))).collect(); () }
    val (extractS, _) = pass("pipeline.extract") {
      ExtractPipeline.extract(c.spark, c.pages, c.jobConf).count(); () }
    def exchange(postShuffle: Boolean): Unit =
      ExtractPipeline.extract(c.spark, c.pages, c.jobConf.copy(postShuffle = postShuffle))
        .write.format("noop").mode("overwrite").save()
    val (_, post) = pass("pipeline.exchange.post")(exchange(postShuffle = true))
    val (_, pre) = pass("pipeline.exchange.pre")(exchange(postShuffle = false))
    sc.removeSparkListener(listener)
    val exprS = tracer.span("functions.expr")(exprPass(c))
    val nulls = tracer.span("functions.check")(checkExpression(c))

    val kernels = phase("kernel pass")(KernelPass.run(docs, c.w.maxBytes, tracer))
    c.addFailures("kernel pass", Checker.Failures(kernels.failedUrls.size.toLong, kernels.failedUrls))

    val heapPeakMb = heap.finish() / (1024.0 * 1024.0)
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    tracer.count("corpus.docs", c.w.docs)
    tracer.count("resume.killed_docs", killedDocs.toDouble)
    kernels.metrics ++ layers ++ Seq(
      ("pipeline.job_s", tracedS, "s"),
      ("pipeline.scan_s", scanS, "s"),
      ("pipeline.extract_s", extractS, "s"),
      ("pipeline.exchange.bytes", post.shuffleBytes.toDouble, "B"),
      ("pipeline.exchange.bytes_pre", pre.shuffleBytes.toDouble, "B"),
      ("pipeline.resume.docs_reextracted", reextracted.toDouble, "count"),
      ("pipeline.resume.useful_ratio", killedDocs.toDouble / math.max(1L, reextracted), "ratio"),
      ("functions.expr_s", exprS, "s"),
      ("functions.null_rows", nulls.toDouble, "count"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("jvm.gc_s", gcS, "s"),
      ("trace.overhead_share", tracedS / (untraced.sum / 2) - 1.0, "ratio"))
  }

  /** Peak used heap, sampled every 20 ms on a daemon thread. */
  final class HeapSampler extends Thread("perfbench-heap-sampler") {
    setDaemon(true)
    @volatile private var running = true
    @volatile private var peak = 0L
    override def run(): Unit = while (running) {
      val rt = Runtime.getRuntime
      peak = math.max(peak, rt.totalMemory - rt.freeMemory)
      Thread.sleep(20)
    }
    /** Stops sampling; returns the peak in bytes. */
    def finish(): Long = { running = false; join(); peak }
  }

  private def envStamp(k: Int, spark: SparkSession): String =
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"k":$k,""" +
      s""""jvm":"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",""" +
      s""""spark":"${spark.version}","driver_heap_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)}}"""

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val code = try { run(parseArgs(args)); 0 } catch {
      case e: PhaseFailed =>
        log(e.getMessage)
        e.getCause.printStackTrace()
        3
      case NonFatal(e) =>
        log(s"failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(a: Map[String, String]): Unit = {
    if (a.get("mode").contains("stamps")) {
      println(Recipes.All.map(Identity.recordJson).mkString("{\n", ",\n", "\n}"))
      return
    }
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = Recipes.byName(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val k = Runtime.getRuntime.availableProcessors

    val canary = Identity.canary(w)
    val recorded = phase("identity")(Identity.recorded(w))
    Identity.canaryMismatch(recorded, Identity.of(canary)).foreach(m =>
      throw new PhaseFailed("identity", new IllegalStateException(s"refusing to time: $m")))

    // the first set-up runs in the cold JVM, the others after stopping the
    // session; setup_s is their median
    val setups = (1 to SetupSamples).map { i =>
      val (sp, t) = phase("setup")(setup(w, k, work, canary))
      if (i < SetupSamples) sp.stop()
      (sp, t)
    }
    val spark = setups.last._1
    val setupTimes = setups.map(_._2)
    log(s"set-up seconds ${setupTimes.map(num).mkString(" ")}")

    val pagesDir = work.resolve("pages").toString
    val gen = phase("generate")(generate(spark, w, seed, pagesDir))
    val stamp = phase("identity") {
      val s = Identity.ofTable(spark.read.parquet(pagesDir), gen.kinds, gen.errors)
      Identity.planMismatch(recorded, s).foreach(m =>
        throw new IllegalStateException(s"refusing to time: $m"))
      s
    }
    log(s"""corpus {"workload":"${w.name}","seed":$seed,"stamp":${stamp.json},"env":${envStamp(k, spark)}}""")

    val c = new Ctx(spark, w, k, seed, work, pagesDir, gen)
    val metrics =
      if (!trace) timed(c, seconds, median(setupTimes))
      else {
        val tracer = new Tracer
        val docs = {
          val g = new Recipes.Generator(w, seed)
          (0 until w.docs).map(i => g.doc(i.toLong))
        }
        val ms = tracer.span("run")(traced(c, docs, tracer)) :+
          (("jvm.cold_setup_s", setupTimes.head, "s"))
        val file = work.getParent.resolve("traces").resolve(s"${w.name}-seed$seed.json")
        tracer.write(file)
        log(s"trace written to $file; self ms: " +
          tracer.selfMs.take(12).map { case (n, v) => f"$n=$v%.0f" }.mkString(" "))
        ms
      }
    val failed = c.docsFailed
    log(s"docs_attempted=${w.docs} docs_failed=$failed docs_failed_share=${failed.toDouble / w.docs}")
    spark.stop()
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":${w.docs},"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")},"stamp":${stamp.json}}""")
  }
}
