package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded k-best aggregates: the top-k of similarity search and the
  * k-smallest-by-hash sample (the deterministic analog of a per-group
  * reservoir).
  *
  * The scale problem with `row_number() OVER (PARTITION BY g ORDER BY
  * ...)` + `rn <= k`: every row of a group is shuffled into ONE reducer
  * before the filter — at 10^12 rows that reducer receives the whole
  * corpus. A typed [[Aggregator]] gets planned as a proper two-phase
  * aggregate: the partial buffer is capped at k candidates, so the
  * map-side combine reduces each partition's contribution to AT MOST k
  * rows per group before the exchange; the shuffle carries
  * O(k · partitions · groups) rows, never O(corpus).
  *
  * Each candidate type has a total order, which makes the result
  * deterministic under any reduce/merge arrival order — including the
  * cap boundary, where equal keys keep the smaller id — and exactly
  * reproducible by an ORDER BY in the oracle engine.
  */
object KBest {

  /** One scored candidate; best first is (sim DESC, n_id ASC). */
  case class Cand(n_id: Long, sim: Double)

  /** One sample candidate: the sampling hash and the row id it selects;
    * best first is (h ASC, id ASC) over the FULL hash string (lowercase
    * hex compares identically to the digest bytes).
    */
  case class HCand(h: String, id: Long)

  /** The k best candidates under `before`, best first. */
  class KBestAgg[C](k: Int, before: (C, C) => Boolean, enc: Encoder[List[C]])
      extends Aggregator[C, List[C], List[C]] {

    override def zero: List[C] = Nil

    // buffer kept sorted by `before` and never exceeds k elements
    override def reduce(buf: List[C], c: C): List[C] =
      if (buf.lengthCompare(k) >= 0 && !before(c, buf.last)) buf
      else {
        val (pre, post) = buf.span(x => before(x, c))
        val merged = pre ::: c :: post
        if (merged.lengthCompare(k) > 0) merged.take(k) else merged
      }

    override def merge(a: List[C], b: List[C]): List[C] = b.foldLeft(a)(reduce)

    override def finish(r: List[C]): List[C] = r

    override def bufferEncoder: Encoder[List[C]] = enc
    override def outputEncoder: Encoder[List[C]] = enc
  }

  def topKAgg(k: Int): KBestAgg[Cand] =
    new KBestAgg[Cand](k, (a, b) => a.sim > b.sim || (a.sim == b.sim && a.n_id < b.n_id),
      ExpressionEncoder[List[Cand]]())

  def minKAgg(k: Int): KBestAgg[HCand] =
    new KBestAgg[HCand](k, (a, b) => {
      val c = a.h.compareTo(b.h)
      c < 0 || (c == 0 && a.id < b.id)
    }, ExpressionEncoder[List[HCand]]())

  /** `topk(k)(idCol, simCol)`: array<struct<n_id,sim>> of the k best. */
  def topk(k: Int): (Column, Column) => Column = {
    // the plan shows `partial_topkagg`, which PlanShapeSpec looks for
    val fn = udaf(topKAgg(k)).withName("TopKAgg")
    (id, sim) => fn(id, sim)
  }

  /** `mink(k)(hashCol, idCol)`: array<struct<h,id>> of the k smallest,
    * ascending — element i is the rank-(i+1) sample member.
    */
  def mink(k: Int): (Column, Column) => Column = {
    // the plan shows `partial_minkagg`, which PlanShapeSpec looks for
    val fn = udaf(minKAgg(k)).withName("MinKAgg")
    (h, id) => fn(h, id)
  }
}
