package graft

import graft.kernels.BpeKernel

/** Adversarial fixtures for the learned-BPE trainer: overlapping-pair
  * counting, left-to-right non-overlapping application (equal to a
  * string `replace` over the symbols joined with DOUBLED spaces — the
  * oracle's exact mechanism; a plain single-space `replace` is not),
  * deterministic tie-breaks, second-order merges, and per-word-apply ≡
  * batch-evolution (the property `q_bpe_apply`'s broadcast path relies
  * on), and the distributed trainer against this in-memory reference.
  */
class BpeKernelSpec extends SparkTestBase {

  test("applyMerge is left-to-right non-overlapping (replace semantics)") {
    assert(BpeKernel.applyMerge(Vector("a", "a", "a"), "a", "a") === Vector("aa", "a"))
    assert(BpeKernel.applyMerge(Vector("a", "a", "a", "a"), "a", "a") === Vector("aa", "aa"))
    // after a merge the scan resumes AFTER the merged symbol: (y,x) in
    // [x,y,x,y] merges once, the trailing y survives unpaired
    assert(BpeKernel.applyMerge(Vector("x", "y", "x", "y"), "y", "x") === Vector("x", "yx", "y"))
    // merged symbols do not re-match the same-round pattern
    assert(BpeKernel.applyMerge(Vector("a", "b", "b"), "a", "b") === Vector("ab", "b"))
    assert(BpeKernel.applyMerge(Vector("q"), "a", "b") === Vector("q"))
    assert(BpeKernel.applyMerge(Vector.empty, "a", "b") === Vector.empty)
    // exhaustive: every {a,b} sequence up to length 8 and every merge
    // in {a,b}² agrees with the oracle's doubled-separator replace
    def oracle(seg: String, l: String, r: String): String =
      (" " + seg.replace(" ", "  ") + " ")
        .replace(s" $l  $r ", s" $l$r ").replace("  ", " ").trim
    val seqs = (0 to 8).flatMap(n => (0 until (1 << n)).map(bits =>
      Vector.tabulate(n)(i => if ((bits >> i & 1) == 1) "b" else "a")))
    for (seg <- seqs; l <- Seq("a", "b"); r <- Seq("a", "b"))
      assert(BpeKernel.applyMerge(seg, l, r).mkString(" ") === oracle(seg.mkString(" "), l, r),
        s"$seg merge ($l,$r)")
  }

  test("pair counting includes overlapping pairs (Sennrich get_stats)") {
    // 'aaa' ×1 contributes TWO (a,a) pairs; 'ab' ×1 contributes one (a,b)
    val m = BpeKernel.train(Seq("aaa" -> 1L, "ab" -> 1L), rounds = 1)
    assert(m.head.lhs === "a" && m.head.rhs === "a" && m.head.pairCount === 2L)
  }

  test("argmax tie-breaks count DESC, lhs ASC, rhs ASC") {
    // (a,b) and (b,a) both count 2 — lex order picks (a,b)
    val m = BpeKernel.train(Seq("ab" -> 2L, "ba" -> 2L), rounds = 1)
    assert((m.head.lhs, m.head.rhs) === ("a", "b"))
    // higher count beats lex order
    val m2 = BpeKernel.train(Seq("zy" -> 3L, "ab" -> 2L), rounds = 1)
    assert((m2.head.lhs, m2.head.rhs) === ("z", "y"))
  }

  test("second-order merges: a learned symbol merges again") {
    // round 1 learns (e,r) from the dominant pair; round 2 must be able
    // to merge m + er (the learned symbol as rhs)
    val wf = Seq("mer" -> 10L, "er" -> 5L, "xx" -> 1L)
    val ms = BpeKernel.train(wf, rounds = 2)
    assert((ms(0).lhs, ms(0).rhs) === ("e", "r") && ms(0).pairCount === 15L)
    assert((ms(1).lhs, ms(1).rhs) === ("m", "er") && ms(1).pairCount === 10L)
    assert(BpeKernel.segment("mer", ms.map(m => (m.lhs, m.rhs))) === Vector("mer"))
  }

  test("train stops early when no pair remains") {
    val ms = BpeKernel.train(Seq("ab" -> 1L), rounds = 8)
    assert(ms.length === 1) // after merging (a,b) every word is one symbol
  }

  test("per-word segment(merges) equals batch evolution") {
    val wf = Seq("scanner" -> 7L, "banner" -> 5L, "planner" -> 3L, "scan" -> 9L)
    val merges = BpeKernel.train(wf, rounds = 6).map(m => (m.lhs, m.rhs))
    // batch evolution: apply each merge to all words in rank order
    var batch = wf.map { case (w, _) => w -> BpeKernel.initSeg(w) }.toMap
    merges.foreach { case (l, r) =>
      batch = batch.view.mapValues(BpeKernel.applyMerge(_, l, r)).toMap
    }
    wf.foreach { case (w, _) =>
      assert(BpeKernel.segment(w, merges) === batch(w), s"word $w")
    }
  }

  test("training is a pure function of the multiset (order-independent)") {
    val wf = Seq("alpha" -> 4L, "beta" -> 3L, "gamma" -> 2L, "delta" -> 1L)
    assert(BpeKernel.train(wf) === BpeKernel.train(wf.reverse))
  }

  test("covered: a-z only") {
    assert(BpeKernel.covered("scan"))
    assert(!BpeKernel.covered("#scan"))
    assert(!BpeKernel.covered("scAn"))
    assert(BpeKernel.covered(""))
  }

  test("distributed training learns the same merges as the in-memory trainer") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val wf = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) as w").where("w <> ''")
      .groupBy("w").count()
      .as[(String, Long)].collect().toSeq
    val distributed = ops.TextOps.bpeMerges(spark, dir)
    assert(distributed.length === BpeKernel.Rounds)
    assert(distributed === BpeKernel.train(wf))
  }
}
