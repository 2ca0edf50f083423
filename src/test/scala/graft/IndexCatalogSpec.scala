package graft

import graft.operators.StandingIndex

/** The standing-index catalog is the registry itself: each serving
  * query declares the family it reads at its entry
  * ([[StandingIndex.Served]]), and Bench and PlanDump warm exactly the
  * declared families of the queries they select. A serving query
  * without a declaration would lose its warm-up silently, and its row
  * would time a build. */
class IndexCatalogSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def declared: Map[String, StandingIndex.Family[_ <: StandingIndex]] =
    SparkEntry.queries.collect { case (n, q: StandingIndex.Served[_]) => n -> q.family }

  test("every standing-index serving query has a catalog entry") {
    // serving queries over a standing index, by naming convention; the
    // builds and full lifecycles own their index and are exempt
    val prefixes = Seq("sim_ann_ivfsq8", "sim_ann_ivfpq", "sim_ann_indexed",
      "sim_ann_filtered")
    val serving = SparkEntry.queries.keySet.filter(q =>
      prefixes.exists(q.startsWith) || q.endsWith("_indexed") ||
        q.endsWith("_serve_only"))
    val missing = serving -- declared.keySet
    assert(missing.isEmpty, s"serving queries without a warm-up: $missing")
  }

  test("warming one query registers exactly the family it declares") {
    StandingIndex.dropForTest(sf)
    SparkEntry.warm(spark, sf, SparkEntry.select(Seq("sim_ann_ivfpq")))
    val registered = declared.values.toSet
      .filter(f => StandingIndex.registered(sf, f).isDefined).map(_.name)
    assert(registered === Set(graft.operators.VectorIndex.PqSqrt.name))
  }
}
