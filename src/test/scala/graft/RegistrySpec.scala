package graft

import org.scalatest.funsuite.AnyFunSuite

/** The combined query registry: every family's names are its own (a
  * duplicate key would silently drop one entry in `++`), and every entry
  * carries an oracle.
  */
class RegistrySpec extends AnyFunSuite {

  test("261 entries from pairwise-disjoint families, each with a non-blank oracle") {
    val families = SparkEntry.families
    assert(families.size === 17)
    assert(SparkEntry.registry.size === 261)
    for (i <- families.indices; j <- families.indices if i < j)
      assert(families(i).keySet.intersect(families(j).keySet).isEmpty, s"families $i and $j")
    SparkEntry.registry.foreach { case (name, g) => assert(g.oracle.trim.nonEmpty, name) }
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }
}
