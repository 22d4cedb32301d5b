package graft

import graft.gen.PagesGen
import graft.pipeline.{ExtractJob, ExtractPipeline}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape regression guard: the scale arguments in COVERAGE.md are
  * asserted against the actual physical plans, so a refactor that
  * silently reintroduces a full-corpus window top-k or loses a broadcast
  * fails CI — plan shape IS the 100 TB contract.
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("extract job: its one exchange is the write's rebalance on p_day, never a url hash") {
    import spark.implicits._
    val aqe = new AdaptiveSparkPlanHelper {}
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (aqe.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val out = tmpDir("plan-job")
    spark.listenerManager.register(listener)
    try {
      // url-exchange settings the job must ignore
      ExtractJob.run(spark, PagesGen.corpus(120, seed = 3L).map(_.row).toDS().toDF(),
        s"$out/t", s"$out/_ledger", ExtractPipeline.Conf(repartition = 4, hostSalt = 3))
      val deadline = System.nanoTime() + 10000000000L // listener events arrive async
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"${writes.size} write plans captured")
    val plan = writes.peek().executedPlan
    val exchanges = aqe.collect(plan) { case e: Exchange => e }
    def keys(e: Exchange) = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions
      case _ => Nil
    }
    assert(!exchanges.exists(e => keys(e).exists(_.exists(_.isInstanceOf[XxHash64]))),
      s"an exchange still partitions by xxhash64(url):\n$plan")
    assert(exchanges.size == 1, s"${exchanges.size} exchanges in the job's write plan:\n$plan")
    exchanges.head match {
      case s: ShuffleExchangeExec =>
        assert(s.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL, plan)
        assert(keys(s).flatMap(_.references.map(_.name)) == Seq("p_day"), plan)
      case other => fail(s"not a shuffle exchange: $other")
    }
  }

  test("ANN top-k runs through the bounded aggregator, never a window") {
    Seq("q_ann_brute", "q_ann_lsh", "q_ann_ivf", "q_knn_label").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_topkagg"),
        s"$q lost the map-side bounded top-k (shuffle would carry the corpus)")
      assert(!p.contains("Window [") || q == "q_knn_label",
        s"$q regressed to a row_number window over the query id")
    }
  }

  test("ANN brute/IVF keep exactly one hash exchange (the top-k combine)") {
    Seq("q_ann_brute", "q_ann_ivf").foreach { q =>
      val n = "Exchange hashpartitioning".r.findAllIn(plan(q)).size
      assert(n === 1,
        s"$q has $n hash exchanges; IVF cell assignment must stay a narrow projection")
    }
  }

  test("dimension lookups broadcast (no shuffle on the fact side)") {
    assert(plan("q_derived_fields").contains("BroadcastHashJoin"))
    assert(plan("q_resume_antijoin").contains("BroadcastHashJoin"))
  }

  test("exact dedup partial-aggregates map-side before its one exchange") {
    val p = plan("q_dedup_exact")
    assert(p.contains("partial_count") || p.contains("partial_"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1)
  }

  test("banded pair generation computes the signature pipeline ONCE") {
    // r2 regression guard: the x/y self-join recomputed the expensive
    // shingle→minhash (resp. 64-bit fingerprint) aggregation twice. The
    // in-bucket pair expansion reads documents exactly once — a second
    // FileScan means the double-compute is back.
    Seq("q_dedup_minhash_lsh", "q_simhash_pairs").foreach { q =>
      val p = plan(q)
      assert("FileScan".r.findAllIn(p).size === 1,
        s"$q scans its input more than once (self-join double-compute regression)")
      assert(!p.contains("Window ["),
        s"$q uses a sort-based count window for the bucket cap; the cap must ride the partial-agg'd groupBy")
    }
  }

  test("corpus segment/shingle hashing is materialized once, text scanned once") {
    // same lesson as the LSH guard: the narrow hash table feeds both the
    // uniqueness aggregation and the join-back, so it must come from one
    // checkpointed materialization; full text is read from parquet only
    // for reassembly (paraDedup) / the shingle-count projection.
    Seq("q_para_dedup", "q_ngram_dup_rate", "q_exact_substr_cut",
        "q_host_line_dedup").foreach { q =>
      val p = plan(q)
      assert("FileScan".r.findAllIn(p).size === 1,
        s"$q re-reads its input for the hash side (double-compute regression)")
      assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
        s"$q lost the checkpointed signature table")
    }
  }

  test("CMS counters derive from the checkpointed vocab — one corpus scan") {
    // the single corpus scan runs eagerly at vocab-checkpoint time, so
    // the final plan reads ONLY the checkpointed RDD — any FileScan here
    // means the counter side re-exploded the corpus
    val p = plan("q_heavy_hitters_cms")
    assert("FileScan".r.findAllIn(p).isEmpty,
      "q_heavy_hitters_cms re-explodes the corpus for the counter table")
    assert(p.contains("ExistingRDD"),
      "q_heavy_hitters_cms lost the checkpointed vocab table")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the 192-cell counter table must broadcast to the estimate side")
  }

  test("bloom membership joins broadcast the filter bits, never shuffle them") {
    Seq("q_bloom_seen", "q_fetch_plan").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$q must broadcast the (salt,bit) filter table (it IS the bitmap)")
    }
    // the politeness window partitions by host — a global window would
    // funnel the frontier through one task
    assert(!plan("q_fetch_plan").matches("(?s).*Window \\[[^\\]]*\\]\\s*,?\\s*\\[\\].*"),
      "q_fetch_plan's scheduling window lost its host partitioning")
  }

  test("stratified rate sampling is a shuffle-free map-side filter") {
    assert(!plan("q_sample_stratified").contains("Exchange"),
      "q_sample_stratified must decide per-row from the row alone — no shuffle")
  }

  test("fixed-k sampling runs through the bounded MinK aggregate, never a window") {
    val p = plan("q_sample_fixed_k")
    assert(p.contains("partial_minkagg"),
      "q_sample_fixed_k lost the map-side bounded min-k (shuffle would carry whole groups)")
    assert(!p.contains("Window ["),
      "q_sample_fixed_k regressed to a row_number window per group")
  }

  test("range-bound sample is count-bounded: the boundary window reads ≤ k rows") {
    // r4 ask #3: the rate-bounded (~n/16) sample grew with the corpus and
    // fed a single-partition window. The MinK rewrite caps the window
    // input at the fixed sample size regardless of corpus size.
    val p = plan("q_range_bounds")
    assert(p.contains("partial_minkagg"),
      "q_range_bounds lost the map-side bounded min-k sample (the exchange would carry the corpus)")
    // the only window must sit ABOVE the bounded aggregate's explode —
    // i.e. no Window may consume a FileScan-side projection directly
    val winIdx = p.indexOf("Window [")
    val aggIdx = p.indexOf("minkagg")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      "q_range_bounds boundary window must consume the MinK sample (window above the aggregate in the plan tree)")
    // and the input actually is ≤ k rows: evaluate the sample stage alone
    val rows = SparkEntry.queries("q_range_bounds")(spark, dir).collect()
    assert(rows.forall(_.getAs[Long]("sample_size") <= 256L),
      "sample_size leaked past the fixed k=256 cap")
  }

  test("token-budget mix joins the 20-row totals by broadcast") {
    assert(plan("q_token_budget_mix").contains("BroadcastHashJoin"),
      "q_token_budget_mix must broadcast per-source totals, not shuffle the corpus")
  }

  test("BM25 broadcasts the one-row stats and bounds the global top-k") {
    val p = plan("q_bm25_topk")
    assert(p.contains("partial_topkagg"),
      "q_bm25_topk lost the bounded top-k combine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q_bm25_topk must broadcast the single-row corpus stats")
    assert(!p.contains("Window ["),
      "q_bm25_topk regressed to a global row_number window")
  }

  test("hashed quality classifier is a shuffle-free projection") {
    assert(!plan("q_quality_classifier").contains("Exchange"),
      "q_quality_classifier must stay in-row — no shuffle")
  }

  test("decontamination checks the eval set by broadcast, map-side") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "q_decontaminate must broadcast the (small) eval n-gram set into the doc scan")
    assert(!p.contains("Window ["),
      "q_decontaminate must not sort the corpus — hit counting is a partial-agg'd groupBy")
  }

  test("LM scoring joins the pruned model tables by broadcast") {
    // the public query checkpoints the scored table (it feeds both the
    // cutoff aggregate and the final projection), which truncates the
    // scoring lineage out of the final plan — assert on the scoring
    // stage directly
    val p = ops.QualityOps.lmScored(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "lmScored must broadcast both the bigram and unigram count tables")
    assert(!p.contains("Window ["),
      "lmScored must not window the corpus — cutoffs come from a one-row artifact")
    val pub = plan("q_lm_perplexity")
    assert(!pub.contains("Window ["),
      "q_lm_perplexity must not window the corpus")
  }

  test("shard packing windows per prefix bucket, never globally over docs") {
    // the ONLY empty-partition window allowed is the prefix pass over
    // the tiny bucket-sums table; the doc-level scan must be
    // partitioned by bkt (every bucket scans in parallel)
    val p = plan("q_token_shards")
    assert(p.contains("], [bkt#"),
      "q_token_shards lost the per-bucket partitioning on the doc-level prefix window")
    assert(p.contains("BroadcastHashJoin"),
      "q_token_shards must broadcast the bucket-offset table")
  }

  test("canonical pick shuffle-joins on doc_id and windows per cluster") {
    // the cluster table is a corpus FRACTION on the real web (near-dup
    // membership is commonly 30-50% of pages), so the join must be a
    // plain equi-join on doc_id — shuffle-joinable, with AQE free to
    // broadcast at runtime when the built side genuinely fits. A
    // mandatory broadcast hint here OOMs the driver at 100x scale.
    val qe = SparkEntry.queries("q_dedup_canonical")(spark, dir).queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "q_dedup_canonical must not hard-hint a broadcast of the cluster table")
    assert(qe.executedPlan.toString.contains("], [cluster#"),
      "q_dedup_canonical's argmax window lost its per-cluster partitioning")
  }

  test("minhash/simhash signatures are in-row projections (no per-doc agg shuffle)") {
    // the first exchange in both pipelines must be the bucket groupBy:
    // exactly 2 hash exchanges total (bucket agg + cross-band distinct)
    Seq("q_dedup_minhash_lsh", "q_simhash_pairs").foreach { q =>
      val n = "Exchange hashpartitioning".r.findAllIn(plan(q)).size
      assert(n === 2,
        s"$q has $n hash exchanges; expected bucket-groupBy + distinct only — the signature must stay in-row")
    }
    // the fingerprint map is a pure projection: zero exchanges
    assert(!plan("q_dedup_simhash").contains("Exchange"),
      "q_dedup_simhash fingerprinting must be a shuffle-free projection")
  }

  test("new narrow operators stay shuffle-free projections/kernel maps") {
    Seq("q_html_markdown", "q_script_mix", "q_mojibake_repair", "q_dedup_key",
      "q_embed_quantize", "q_jsonld_article", "q_pub_date", "q_pagination",
      "q_soft404", "q_license_meta", "q_pdf_info", "q_declared_lang",
      "q_hreflang_alternates", "q_image_alt_pairs", "q_meta_refresh",
      "q_c4_line_filter").foreach { q =>
      assert(!plan(q).contains("Exchange"),
        s"$q must stay a zero-shuffle per-row map")
    }
    // DSIR scoring: the fit collects its 64-key table eagerly; the plan
    // handed back (inlined log-ratio literals) must not shuffle
    assert(!plan("q_dsir_select").contains("Exchange"),
      "DSIR scoring must inline the driver-held log-ratio table")
  }

  test("k-means final assignment is a shuffle-free projection over literals") {
    // the iterative updates run eagerly inside the query builder (256-key
    // partial-agg'd groupBy, collected as the model artifact); the plan
    // the caller gets back — assign with inlined centroids — must be a
    // pure narrow map like the IVF cell assignment
    val p = plan("q_kmeans_assign")
    assert(!p.contains("Exchange"),
      "k-means assignment must inline the driver-held codebook, not shuffle")
    // the seeds, both Lloyd rounds and the assignment read one
    // checkpointed copy of the points, not embeddings.parquet again
    assert("FileScan".r.findAllIn(p).isEmpty,
      "q_kmeans_assign re-scans embeddings.parquet after training")
  }

  test("weighted sampling bounds the global top-k via MinK, never a window") {
    val p = plan("q_sample_weighted")
    assert(p.contains("partial_minkagg"),
      "q_sample_weighted lost the map-side bounded min-k — a global " +
        "ORDER BY key window would funnel the corpus into one reducer")
    assert(!p.contains("Window ["),
      "q_sample_weighted regressed to a global row_number window")
  }

  test("semdedup pairs only within capped clusters (windowed per cluster, no global window)") {
    val p = plan("q_semdedup")
    // the per-cluster member cap is a window PARTITIONED by cluster —
    // a global (unpartitioned) window would serialize the corpus
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      "q_semdedup must window per cluster, never globally")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      "q_semdedup pair generation must be an equi-join keyed on cluster id")
  }

  test("PQ encode is a zero-exchange literal projection; ADC broadcasts queries") {
    // subspace codebook training runs eagerly (256-key partial-agg'd
    // collects); the encode plan handed back must be a pure narrow map —
    // at 10^12 vectors this is the write-time projection that emits 8
    // codes per row without moving a single vector
    val enc = ops.SimilarityOps.pqEncode(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!enc.contains("Exchange"),
      "PQ encode must inline the driver-held codebooks, not shuffle")
    // the search: query side broadcast, bounded top-k, no window
    val p = plan("q_ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "q_ann_pq must broadcast the (tiny) query side")
    assert(p.contains("partial_topkagg"),
      "q_ann_pq lost the map-side bounded top-k")
    assert(!p.contains("Window ["),
      "q_ann_pq regressed to a row_number window")
  }

  test("salted join carries the salt in the join keys (hot key split across tasks)") {
    val p = plan("q_salted_join")
    // the whole point: the shuffle/broadcast key is (host, salt), so the
    // planted megasite's rows spread over JoinSalts tasks instead of one
    assert("host#\\d+L?, salt#".r.findFirstIn(p).isDefined,
      "q_salted_join lost the salt from its join keys — the hot host funnels into one task again")
  }

  test("z-order layout stats are one partial-agg'd exchange over a broadcast count") {
    val p = plan("q_zorder_layout")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "q_zorder_layout must shuffle only the (layout, file_id) stats keys")
    assert(p.contains("partial_"),
      "q_zorder_layout lost map-side partial aggregation of the file stats")
  }

  test("merged CMS reuses the checkpointed per-half vocab — no corpus re-scan") {
    val p = plan("q_cms_merge")
    assert("FileScan".r.findAllIn(p).isEmpty,
      "q_cms_merge re-explodes the corpus for a shard sketch")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the merged 192-cell counter table must broadcast to the estimate side")
  }

  test("per-source windows stay per-source (train order, outliers, canonical clusters)") {
    assert(plan("q_train_order").contains("], [source#"),
      "q_train_order's rank window lost its source partitioning — global sort of the corpus")
    assert(plan("q_robust_outliers").contains("], [source#"),
      "q_robust_outliers' median windows lost their source partitioning")
    assert(plan("q_rel_canonical").contains("], [canonical_url#"),
      "q_rel_canonical's cluster count window lost its canonical-target partitioning")
    // domain quota: both cumulative windows run over the per-source
    // 16-bin histogram, partitioned by source — and the doc-level rows
    // never reach a window (the histogram groupBy sits below)
    val dq = plan("q_domain_quota")
    assert(dq.contains("], [source#"),
      "q_domain_quota's budget windows lost their source partitioning")
    assert("Exchange hashpartitioning".r.findAllIn(dq).size <= 2 && dq.contains("partial_"),
      "q_domain_quota must reduce docs to (source,bin) partial-agg'd histograms before any window")
  }

  test("split hygiene: leakage audit self-joins once; group split needs NO join") {
    // q_split_leakage measures the problem (dup-key self-join, checkpointed
    // key table so the scan+hash lineage runs once); q_split_by_group IS
    // the fix — the group split is a hash OF a column already on the row,
    // so any Join in its plan means the cheap fix regressed to the audit's
    // shape
    val leak = plan("q_split_leakage")
    assert(leak.contains("ExistingRDD"),
      "q_split_leakage lost the checkpointed keyed table (double scan+hash)")
    val fix = plan("q_split_by_group")
    assert(!fix.contains("Join"),
      "q_split_by_group must not join — the group split is derived in-row from the dup key")
    // exactly the two keyed agg exchanges countDistinct expands to —
    // (split, dup_key) pre-distinct, then the 3-value split rollup;
    // both partial-agg'd, neither carries text
    assert("Exchange hashpartitioning".r.findAllIn(fix).size <= 2,
      "q_split_by_group grew extra shuffles beyond the countDistinct pair")
  }

  test("fuzzy decontamination broadcasts the eval band set, never self-joins the corpus") {
    val p = plan("q_decontam_fuzzy")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "q_decontam_fuzzy must broadcast the (small) eval band table into the corpus band scan")
    assert(!p.contains("Window ["),
      "q_decontam_fuzzy must not sort the corpus — hit counting is a partial-agg'd groupBy")
  }

  test("classifier evaluation reduces through the 16-bin table, never row-level windows") {
    // calibration: one partial-agg'd shuffle on the ≤16-value bin key
    val cal = plan("q_calibration_bins")
    assert(!cal.contains("Window ["), "q_calibration_bins needs no window at all")
    assert("Exchange hashpartitioning".r.findAllIn(cal).size === 1 && cal.contains("partial_"),
      "q_calibration_bins must partial-agg the bin rollup in one exchange")
    // AUC: the only window consumes the binned aggregate (≤16 rows), so it
    // must sit ABOVE the bin HashAggregate in the plan tree
    val auc = plan("q_quality_auc")
    val winIdx = auc.indexOf("Window [")
    assert(winIdx >= 0 && auc.indexOf("HashAggregate", winIdx) >= 0,
      "q_quality_auc's cumulative window must consume the 16-row bin aggregate, not doc rows")
    assert("Exchange hashpartitioning".r.findAllIn(auc).size === 1,
      "q_quality_auc must shuffle only the bin rollup key")
  }

  test("sequence packing is sequential per shard, parallel across shards") {
    val p = plan("q_seq_pack")
    assert(p.contains("MapGroups"),
      "q_seq_pack must run the greedy pass as flatMapGroups per shard")
    assert(p.contains("], [shard#"),
      "q_seq_pack's n_seqs window lost its per-shard partitioning — global sort of the pack table")
  }

  test("tf-idf keywords: vocabulary df broadcasts, tf computed in-row from one scan") {
    val p = plan("q_tfidf_keywords")
    assert(p.contains("BroadcastHashJoin"),
      "q_tfidf_keywords lost the broadcast of the vocabulary-sized df table")
    assert(p.contains("], [doc_id#"),
      "q_tfidf_keywords' top-3 window must stay partitioned by doc_id (bounded partitions)")
  }

  test("shingle containment: exact verify joins arrays back, never a cartesian") {
    val p = plan("q_shingle_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q_shingle_containment's candidate stage must stay an equi-join on the shingle key")
  }

  test("dedup funnel tiers are partial-agg'd distinct counts (no text shuffle)") {
    val p = plan("q_dedup_funnel")
    assert(p.contains("partial_count"),
      "q_dedup_funnel's tier counts must map-side partial-aggregate")
    assert(!p.contains("Window ["), "q_dedup_funnel needs no window at all")
  }

  test("politeness audit windows per host; sitemap coverage joins narrow key sets") {
    val pa = plan("q_politeness_audit")
    assert(pa.contains("], [host_id#"),
      "q_politeness_audit's lag window lost its per-host partitioning — global sort of the event log")
    val sc = plan("q_sitemap_coverage")
    assert(!sc.contains("CartesianProduct"),
      "q_sitemap_coverage must join (host, path) keys, never cross")
  }

  test("Q3 star schema: pushed filters, broadcast joins, TakeOrdered — never a global sort") {
    val p = plan("q_q3_shipping")
    assert(p.contains("TakeOrderedAndProject"),
      "q_q3_shipping's top-10 must be TakeOrderedAndProject (per-partition heads), not a global Sort+Limit")
    assert(p.contains("BroadcastHashJoin"),
      "q_q3_shipping lost its broadcast joins")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      "the segment filter must reach the customer parquet scan")
    assert("Sort \\[revenue".r.findFirstIn(p).isEmpty,
      "a full Sort on revenue appeared — the limit stopped pushing into the shuffle")
  }

}
