package graft.kernels

import scala.collection.mutable

/** Corpus-learned byte-pair-encoding merge training (Sennrich, Haddow &
  * Birch 2016, "Neural Machine Translation of Rare Words with Subword
  * Units", ACL — §3.2's learn_bpe): start from per-character symbol
  * sequences over the DISTINCT-word frequency table, count adjacent
  * symbol pairs weighted by word frequency (every adjacent index pair,
  * overlapping included — the reference implementation's `get_stats`),
  * merge the most frequent pair corpus-wide, repeat for a fixed number
  * of rounds. Merge APPLICATION is left-to-right non-overlapping — the
  * same semantics as a string `replace` of `" l  r "` with `" lr "`
  * over the symbol string joined with DOUBLED spaces (then collapsed),
  * which is exactly how the DuckDB oracle replays it. Over the plain
  * single-space join, `replace` is NOT the same: two adjacent matches
  * share one delimiter, so `[a,b,a,b]` merges (a,b) only once.
  *
  * Everything is integer-exact and deterministic: pair counts are
  * exact sums, the argmax tie-breaks (count DESC, left ASC, right ASC),
  * and training is a pure function of the word-frequency MULTISET —
  * independent of partitioning — so the distributed per-round
  * pair-count aggregation (`TextOps.bpeMerges`, the one training path of
  * every learned-BPE query) and this in-memory trainer (its test
  * reference in BpeKernelSpec) provably produce identical merges, and an
  * unrolled N-round SQL CTE can replay both.
  */
object BpeKernel {

  /** Fixed merge-table size: small enough for an unrolled-CTE oracle,
    * large enough that second-order merges (a learned symbol merging
    * again, e.g. 'm'+'er') appear in the synthetic corpus.
    */
  val Rounds = 8

  /** One learned merge: rank is 1-based learning order. */
  final case class Merge(rank: Int, lhs: String, rhs: String, pairCount: Long)

  /** Initial segmentation: one symbol per character. */
  def initSeg(word: String): Vector[String] =
    word.iterator.map(_.toString).toVector

  /** Apply ONE merge left-to-right, non-overlapping (after merging
    * positions (i, i+1) the scan resumes at i+2).
    */
  def applyMerge(seg: Vector[String], lhs: String, rhs: String): Vector[String] = {
    if (seg.length < 2) return seg
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < seg.length) {
      if (i + 1 < seg.length && seg(i) == lhs && seg(i + 1) == rhs) {
        out += lhs + rhs
        i += 2
      } else {
        out += seg(i)
        i += 1
      }
    }
    out.result()
  }

  /** Segment a word with an ordered merge list (rank order — each merge
    * applied once, over the whole symbol sequence). Per-word application
    * equals the batch evolution because each round's merge acts on every
    * word independently.
    */
  def segment(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(initSeg(word)) { case (s, (l, r)) => applyMerge(s, l, r) }

  /** Learn `rounds` merges from a distinct-word frequency table. Counts
    * every adjacent index pair (overlapping included) weighted by word
    * frequency; argmax tie-breaks (count DESC, lhs ASC, rhs ASC). Stops
    * early if no pair remains (degenerate single-symbol corpus).
    */
  def train(wordFreq: Seq[(String, Long)], rounds: Int = Rounds): Seq[Merge] = {
    val segs = mutable.LinkedHashMap.from(wordFreq.map { case (w, c) => w -> initSeg(w) })
    val freq = wordFreq.toMap
    val out = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (w, s) =>
        val c = freq(w)
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), cnt) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += Merge(r, l, rr, cnt)
        segs.mapValuesInPlace((_, s) => applyMerge(s, l, rr))
        r += 1
      }
    }
    out.result()
  }

  /** Character coverage for the learned vocabulary: BPE base symbols
    * are the corpus characters; the synthetic corpus (and its oracle)
    * fix the alphabet at a-z, so a word carrying any other character
    * cannot be segmented and is the tokenizer's OOV case.
    */
  def covered(word: String): Boolean = {
    var i = 0
    while (i < word.length) {
      val c = word.charAt(i)
      if (c < 'a' || c > 'z') return false
      i += 1
    }
    true
  }
}
