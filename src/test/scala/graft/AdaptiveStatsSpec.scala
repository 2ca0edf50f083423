package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, StandingIndex, VectorIndex}

/** The cached-selectivity contract behind the adaptive filtered serve
  * (VERDICT r11 task 7): once the standing √N index has pinned its
  * per-label histogram, estimating a predicate's selectivity must be a
  * point read of that metadata-sized table — NOT a corpus aggregate
  * per serve — and the cache must never change the computed probe
  * width (same exact counts either way). */
class AdaptiveStatsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("selectivity estimate reads the pinned histogram, not the corpus") {
    StandingIndex.ensure(spark, sf, VectorIndex.Sqrt) // pins the stats beside the index
    val plan = Similarity.selectivityFrame(spark, sf, col("label") === 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"selectivity estimate still scans the corpus:\n$plan")
    assert(plan.contains("tx_ivf_sqrt_stats"),
      s"selectivity estimate does not read the pinned stats table:\n$plan")
  }

  test("a cold session reloads the histogram from the index manifest") {
    // build, then forget the JVM registration — the situation a fresh
    // session is in when the index already exists on disk (VERDICT
    // r12 gap 3). StandingIndex.load must reconstruct the FULL handle from
    // the layout manifest alone, histogram included, so the filtered
    // serve's estimate is still a histogram point read, not a silent
    // corpus-aggregate recomputation.
    val built = StandingIndex.ensure(spark, sf, VectorIndex.Sqrt)
    StandingIndex.dropForTest(sf)
    val cold = Similarity.selectivityFrame(spark, sf, col("label") === 1)
      .queryExecution.executedPlan.toString
    assert(cold.contains("embeddings.parquet"),
      "precondition: with no registration the estimate must fall back " +
        s"to the corpus aggregate, got:\n$cold")
    val loaded = StandingIndex.load(spark, sf, VectorIndex.Sqrt,
      built.postings)
    assert(loaded === built, "manifest round-trip changed the handle")
    val plan = Similarity.selectivityFrame(spark, sf, col("label") === 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"cold-loaded estimate still scans the corpus:\n$plan")
    assert(plan.contains("tx_ivf_sqrt_stats"),
      s"cold-loaded estimate does not read the pinned stats table:\n$plan")
  }

  test("a non-label predicate keeps the full-row corpus fallback") {
    // the public contract admits predicates over ANY embeddings column
    // (ADVICE r12): the histogram covers label-only predicates; others
    // must compute against the corpus — correctly, not throw
    StandingIndex.ensure(spark, sf, VectorIndex.Sqrt)
    val r = Similarity.selectivityFrame(spark, sf, col("vec_id") < 100)
      .head
    val expected = graft.core.Tables(spark, sf).embeddings
      .agg(count(lit(1)), sum(when(col("vec_id") < 100, 1L).otherwise(0L)))
      .head
    assert(r.getLong(0) === expected.getLong(0))
    assert(r.getLong(1) === expected.getLong(1))
  }

  test("cached estimate computes the same probe width as the corpus aggregate") {
    StandingIndex.ensure(spark, sf, VectorIndex.Sqrt)
    // corpus-truth recomputation of the widening rule, bypassing the cache
    val t = graft.core.Tables(spark, sf).embeddings
    val r = t.agg(count(lit(1)).as("n"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("nm")).head
    val n = r.getLong(0)
    val nm = math.max(r.getLong(1), 1L)
    val expected = math.min(8L, (3L * n + nm - 1L) / nm).toInt
    assert(Similarity.adaptiveNprobe(spark, sf) === expected)
    // a permissive predicate must stay at the base width through the
    // same cached path (the never-pay-the-fan-out half of the law)
    assert(Similarity.adaptiveNprobe(spark, sf,
      pred = col("label") >= 0) === 3)
  }
}
