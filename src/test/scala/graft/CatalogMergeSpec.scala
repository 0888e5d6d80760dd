package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog halves merge through one `SparkEntry.disjoint`: an id in
  * both halves fails instead of shadowing the other half's entry. */
class CatalogMergeSpec extends AnyFunSuite {

  test("disjoint merges maps without shared ids and throws on overlap") {
    assert(SparkEntry.disjoint(Map("a" -> 1), Map("b" -> 2)) == Map("a" -> 1, "b" -> 2))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.disjoint(Map("a" -> 1, "b" -> 2), Map("b" -> 3, "c" -> 4))
    }
    assert(e.getMessage.contains("b"), e.getMessage)
  }
}
