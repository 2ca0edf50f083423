package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select`, the one name selection behind the mains' subset
  * knobs and arguments: no names select every query, and a name that is
  * not registered fails the selection before any work, named. */
class QuerySelectionSpec extends AnyFunSuite {

  test("unset or empty selects every query") {
    val all = SparkEntry.queries.keySet
    for (names <- Seq(Nil, Seq(""), Seq(" ", "")))
      assert(SparkEntry.select(names).map(_._1).toSet === all, s"names $names")
  }

  test("unregistered names throw, each named, before any selection") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("sim_ann_ivfpq", "no_such_query", " nor_this "))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(e.getMessage.contains("nor_this"))
    assert(!e.getMessage.contains("sim_ann_ivfpq"))
    assert(SparkEntry.select(Seq(" sim_ann_ivfpq", "sim_ann_ivf ")).map(_._1) ===
      Seq("sim_ann_ivfpq", "sim_ann_ivf"))
  }
}
