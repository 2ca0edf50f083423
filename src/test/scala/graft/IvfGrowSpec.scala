package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorIndex

/** Grow-aware √N index maintenance (round-9 task 5): appends assign
  * against the pinned centroids; the re-bucket trigger
  * N > (k·GrowthFactor)² retrains ⌈√N⌉ cells seeded from the pinned
  * alphabet. The property under test: the probed corpus fraction is
  * non-increasing across a 10× append sequence — the 1/√N design
  * point survives growth instead of drifting to nprobe/k_fixed. */
class IvfGrowSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("probed fraction is non-increasing across a 10x append sequence") {
    val emb = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    // base: 1/10 of the corpus; four appends grow it 10x total
    var idx = VectorIndex.growInit(spark, VectorIndex.IvfGrow,
      emb.filter(col("vec_id") < 50))
    val k0 = idx.k
    val cuts = Seq((50L, 100L), (100L, 200L), (200L, 350L), (350L, 500L))
    var fractions = Seq(
      VectorIndex.probedFraction(spark, idx, queries))
    for ((lo, hi) <- cuts) {
      idx = VectorIndex.growAppend(spark, idx,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
      fractions :+= VectorIndex.probedFraction(spark, idx, queries)
    }
    // the trigger fired at least once and grew the alphabet
    assert(idx.k > k0, s"no re-bucket happened (k stayed $k0)")
    // non-increasing within measurement tolerance: appends distribute
    // over a fixed alphabet (flat), rebuilds drop the fraction
    fractions.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.15,
        s"probed fraction rose ${a} -> ${b} across an append")
    }
    assert(fractions.last < fractions.head * 0.7,
      s"10x growth should shrink the probed fraction " +
        s"(${fractions.head} -> ${fractions.last})")
  }

  test("re-bucket trigger: no rebuild while N stays within (k*gf)^2") {
    val emb = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val idx0 = VectorIndex.growInit(spark, VectorIndex.IvfGrow,
      emb.filter(col("vec_id") < 100))
    // k0 = ceil(sqrt(100)) = 10; threshold (10*2)^2 = 400 >= 200
    val idx1 = VectorIndex.growAppend(spark, idx0,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 200))
    assert(idx1.k == idx0.k && idx1.postings == idx0.postings,
      "within-threshold append must not rebuild")
    // every appended vector is served: postings cover base + delta
    val n = graft.lake.TxTable(spark, idx1.postings).read().count()
    assert(n == 200L, s"postings hold $n of 200 vectors")
  }
}
