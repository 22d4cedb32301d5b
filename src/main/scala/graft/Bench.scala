package graft

import graft.gen.PagesGen
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): one JSON line on stdout with
  * per-query timings over SPARK_GRAFT_SF_DIR plus the north rule's
  * two-cluster-size scaling evidence — the same extraction job at N=2 and
  * 4N=8 cores on identical input, reporting docs/s at both (from the best
  * wall time per level) and `scaling_efficiency_2_to_8` = the MEDIAN over
  * rounds of the per-round ratio (t2_r/t8_r)/4 — see the comment at the
  * scaling loop for why ratios are paired per round. The min-level
  * recomputation `(t_local2_sec/t_local8_sec)/4` is emitted separately as
  * `eff_from_min_levels`; the two can differ by ±0.15 under asymmetric
  * host load. `eff_quietest_round` is the ratio from the round with the
  * smallest combined wall time — the reading taken when the shared VM
  * was most idle (min-levels mixes mins from different load windows;
  * this one never does).
  *
  * Why 2→8 and not 8→32: cluster scale-out multiplies executor JVMs
  * (4-8 cores each), not threads inside one heap. In this single-JVM
  * sandbox 8→32 measures JVM memory contention and host steal, not the
  * job's scaling behavior (the allocation-optimized kernel now reaches
  * ~19k docs/s/thread at 32 raw threads outside Spark, BASELINE.md §C —
  * but 32-thread wall times remain the most load-sensitive). 2→8 keeps the
  * JVM in its linear region — the regime a per-executor JVM actually
  * runs in. Full analysis + raw numbers for both pairs: BASELINE.md §C.
  */
object Bench {

  private def session(cpus: Int): SparkSession =
    GraftSession(s"local[$cpus]", s"graft-bench-$cpus", shufflePartitions = Some(cpus),
      ui = Some(false), logLevel = Some("WARN"))

  /** Deterministic bench corpus parquet (generated once per JVM run;
    * generation is outside the timed window).
    */
  private def ensureCorpus(spark: SparkSession, n: Int): String = {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bench_pages_${PagesGen.CorpusVersion}_$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      spark.range(n)
        .repartition(32)
        .mapPartitions(_.map(i => PagesGen.genPage(i, seed = 42L, hosts = 200).row))
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Timed full-extraction pass; count() forces every kernel invocation.
    * Default shape = post-kernel url-hash exchange (Conf.postShuffle):
    * the kernel runs narrow on scan splits and only extracted text
    * crosses the wire — see the ExtractPipeline plan-shape comparison.
    */
  private def timeExtract(spark: SparkSession, corpusDir: String, repartition: Int,
      postShuffle: Boolean = true): (Double, Long) = {
    val pages = spark.read.parquet(corpusDir)
    val t0 = System.nanoTime()
    val n = ExtractPipeline
      .extract(spark, pages,
        ExtractPipeline.Conf(repartition = repartition, postShuffle = postShuffle))
      .filter(_.error == null)
      .count()
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** Timed passes per median — single-run times at this scale swing ±2s
    * with GC/page-cache noise.
    */
  private val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // sized so the extraction pass runs ~15 s at local[2] AND ~5 s at
    // local[8]: fixed overheads (scan setup, scheduling, shuffle spin-up
    // ~0.5-1 s) must be a small fraction of the measured window at BOTH
    // levels or they cap the apparent scaling (kernel speedups shrank the
    // 600k window until overhead cost ~0.05 efficiency)
    val benchDocs = sys.env.getOrElse("GRAFT_BENCH_DOCS", "1200000").toInt
    val scalingOnly = sys.env.contains("GRAFT_BENCH_SCALING_ONLY")

    // ---- per-query timings at the requested parallelism. A query that
    // throws records timing -1 and lands in `failed` — a regression must
    // be visible in the artifact, not masquerade as a fast query.
    val spark = session(cpus)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Session/codegen/parquet-footer warmup so the alphabetically-first
    // query does not absorb JVM startup (q1_agg recorded 10 s in r2's
    // artifact while a warm run takes <1 s).
    if (!scalingOnly) {
      try { SparkEntry.queries("q1_agg")(spark, sfDir).count() }
      catch { case NonFatal(_) => () }
    }
    val results =
      if (scalingOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        // Streaming queries stage real files, spin up micro-batch
        // engines and poll triggers — wall time swings 2-4x with host
        // load (r4 recorded q_stream_join at 57.9 s vs a 14-27 s
        // in-session band). Min-of-2 inside the loop, the same
        // hardening the expression path and scaling rounds already
        // have; batch queries stay single-shot (their variance is
        // small against the total).
        val runs = if (name.startsWith("q_stream")) 2 else 1
        try { name -> (1 to runs).map(_ => once()).min }
        catch { case NonFatal(e) =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          name -> -1.0
        }
      }
    val corpusDir = ensureCorpus(spark, benchDocs)
    timeExtract(spark, corpusDir, cpus) // one warmup pass (JIT + footers)
    // expression-only fast path at the same parallelism (no Dataset
    // encoder; sum(n_chars) forces every extraction). Timed INSIDE the
    // interleaved scaling rounds below (min-of-5) — r3 postmortem: the
    // standalone median ran in its own load window and recorded 59.2k
    // docs/s while every in-session probe measured 104-116k; min-of-N
    // inside the rounds makes one steal window unable to halve the
    // official number, same hardening the main path already has.
    def timeExpr(s: SparkSession): Double = {
      val t0 = System.nanoTime()
      ExtractPipeline
        .extractText(s, s.read.parquet(corpusDir),
          ExtractPipeline.Conf(repartition = cpus))
        .agg(org.apache.spark.sql.functions.sum("n_chars")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    timeExpr(spark) // warmup (codegen + parquet footers)
    // pre-shuffle reference shape (raw html through the exchange) at the
    // same parallelism — records what the post-kernel placement buys
    val tPre = (1 to Runs).map(_ => timeExtract(spark, corpusDir, cpus,
      postShuffle = false)._1).sorted.apply(Runs / 2)
    spark.stop()

    // ---- two-parallelism scaling (N=2 vs 4N=8 cores, same input), plus
    // the local[cpus] main-path number INTERLEAVED into the same rounds.
    // Round-1 postmortem: the standalone local[32] median ran in its own
    // load window and recorded a 10x-steal outlier (26k docs/s vs 273k at
    // local[8] in the same artifact). Interleaving all levels per round and
    // taking min-per-level makes a single steal window unable to corrupt
    // the recorded number.
    // 5 rounds; efficiency = MEDIAN of per-round ratios. The two levels of
    // one round run back-to-back under similar external load, so the
    // per-round ratio cancels host steal that min-per-level doesn't: mins
    // taken from different load windows skewed the ratio by ±0.15 in both
    // directions (observed 0.73..1.05 across bench invocations; the
    // median-of-ratios sits stable near the true ~0.9).
    val levels = (Seq(2, 8) ++ (if (cpus != 2 && cpus != 8) Seq(cpus) else Nil)).distinct
    val times = scala.collection.mutable.Map(levels.map(_ -> List.empty[Double]): _*)
    var exprTimes = List.empty[Double]
    var nOk = 0L
    val mainLvl = if (levels.contains(cpus)) cpus else 8
    // 7 rounds (was 5): the r5 full-bench run recorded min-levels 0.807
    // against 0.925 in a back-to-back scaling-only run — the mins of the
    // two levels landed in different load windows. Two more interleaved
    // rounds narrow the min-of-rounds variance at ~90 s extra cost.
    (1 to 7).foreach { round =>
      levels.foreach { lvl =>
        val s = session(lvl)
        if (round == 1) timeExtract(s, corpusDir, lvl) // warmup first use
        val (t, n) = timeExtract(s, corpusDir, lvl)
        times(lvl) = t :: times(lvl)
        if (lvl == mainLvl) exprTimes = timeExpr(s) :: exprTimes
        nOk = n
        s.stop()
      }
    }
    val t2 = times(2).min
    val t8 = times(8).min
    // best-of-5 interleaved at the requested parallelism
    val tMain = times(mainLvl).min
    val tExpr = exprTimes.min
    val pairs = times(2).reverse.zip(times(8).reverse)
    val ratios = pairs.map { case (a, b) => (a / b) / 4.0 }.sorted
    val eff = ratios(ratios.length / 2)
    // third estimator: the ratio from the LEAST-INTERFERED round (min
    // combined wall time). min-levels divides mins from possibly
    // different load windows and recorded 0.801..0.949 across six r5
    // runs while the quiet-round ratio stayed stable — this reports the
    // measurement made when the host was most idle, without mixing
    // windows.
    val effBest = pairs.minBy { case (a, b) => a + b } match {
      case (a, b) => (a / b) / 4.0
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val scaling =
      f"""{"docs":$benchDocs,"docs_ok":$nOk,"t_local2_sec":$t2%.3f,"t_local8_sec":$t8%.3f,""" +
        f""""docs_per_sec_local2":${benchDocs / t2}%.1f,"docs_per_sec_local8":${benchDocs / t8}%.1f,""" +
        f""""docs_per_sec_main":${benchDocs / tMain}%.1f,"docs_per_sec_expr":${benchDocs / tExpr}%.1f,""" +
        f""""docs_per_sec_preshuffle":${benchDocs / tPre}%.1f,""" +
        f""""scaling_efficiency_2_to_8":$eff%.3f,"eff_from_min_levels":${(t2 / t8) / 4.0}%.3f,""" +
        f""""eff_quietest_round":$effBest%.3f}"""
    val fullRecord =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","extract_scaling":$scaling}"""
    // DRIVER CONTRACT (round-1 postmortem): the driver reads a ~2000-char
    // stdout tail; round 1's single line (73-query map + scaling) overflowed
    // it -> BENCH_r01.json "parsed": null. Ship the full record to files,
    // print it on an EARLIER line for humans, and make the LAST line a
    // compact record that always fits the tail window.
    import java.nio.file.{Files, Paths}
    Files.writeString(Paths.get("bench_out.json"), fullRecord)
    try Files.writeString(Paths.get("/tmp/graft_bench.json"), fullRecord)
    catch { case NonFatal(_) => () }
    println(fullRecord)
    // Headline subset keeps the contract's {"queries":{name:sec}} shape
    // while staying far under the tail window; the full 70+-query map is in
    // bench_out.json and the earlier stdout line.
    val headline = Set("q1_agg", "q_extract_html", "q_extract_pdf",
      "q_extract_sql_expr", "q_dedup_minhash_lsh", "q_ann_lsh",
      "q_corpus_clean", "q_service_table", "q_corpus_pipeline", "q_bpe_train")
    val qsCompact = results.filter(r => headline(r._1))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qsCompact,"n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir","extract_scaling":$scaling}"""
    println(compact)
  }
}
