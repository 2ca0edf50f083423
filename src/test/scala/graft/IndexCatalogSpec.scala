package graft

import org.scalatest.funsuite.AnyFunSuite

/** `IndexCatalog` is the warm-up map Bench and PlanDump share: a key
  * that is not a registered query (a renamed or removed query) would
  * silently lose its warm-up, and the row would time a build. */
class IndexCatalogSpec extends AnyFunSuite {

  test("every catalog key is a registered query") {
    val unknown = IndexCatalog.byQuery.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"catalog names unregistered queries: $unknown")
  }

  test("every standing-index serving query has a catalog entry") {
    // serving queries over a standing index, by naming convention; the
    // builds and full lifecycles own their index and are exempt
    val prefixes = Seq("sim_ann_ivfsq8", "sim_ann_ivfpq", "sim_ann_indexed",
      "sim_ann_filtered")
    val serving = SparkEntry.queries.keySet.filter(q =>
      prefixes.exists(q.startsWith) || q.endsWith("_indexed") ||
        q.endsWith("_serve_only"))
    val missing = serving -- IndexCatalog.byQuery.keySet
    assert(missing.isEmpty, s"serving queries without a warm-up: $missing")
  }
}
