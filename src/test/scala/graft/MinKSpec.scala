package graft

import graft.functions.KBest
import graft.functions.KBest.HCand
import org.scalatest.funsuite.AnyFunSuite

/** Unit behavior of the bounded min-k sampling aggregate: cap, total
  * order, and merge-order independence (the properties that make the
  * map-side combine safe to run in any partition arrival order).
  */
class MinKSpec extends AnyFunSuite {

  private def agg(k: Int) = KBest.minKAgg(k)

  test("buffer caps at k and keeps the k smallest hashes ascending") {
    val a = agg(3)
    val in = Seq(
      HCand("f0", 1), HCand("0a", 2), HCand("9c", 3),
      HCand("11", 4), HCand("0b", 5))
    val out = in.foldLeft(a.zero)(a.reduce)
    assert(out === List(HCand("0a", 2), HCand("0b", 5), HCand("11", 4)))
  }

  test("equal hashes break ties on the smaller id") {
    val a = agg(2)
    val out = Seq(HCand("aa", 9), HCand("aa", 3), HCand("aa", 7))
      .foldLeft(a.zero)(a.reduce)
    assert(out === List(HCand("aa", 3), HCand("aa", 7)))
  }

  test("merge is arrival-order independent") {
    val a = agg(4)
    val xs = (0 until 20).map(i => HCand(f"${(i * 37) % 100}%02d", i.toLong))
    val (l, r) = xs.splitAt(7)
    val m1 = a.merge(l.foldLeft(a.zero)(a.reduce), r.foldLeft(a.zero)(a.reduce))
    val m2 = a.merge(r.foldLeft(a.zero)(a.reduce), l.foldLeft(a.zero)(a.reduce))
    val whole = xs.foldLeft(a.zero)(a.reduce)
    assert(m1 === whole)
    assert(m2 === whole)
  }

  test("fewer than k inputs pass through sorted") {
    val a = agg(10)
    val out = Seq(HCand("cc", 1), HCand("ab", 2)).foldLeft(a.zero)(a.reduce)
    assert(out === List(HCand("ab", 2), HCand("cc", 1)))
  }
}
