package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorIndex

/** Grow lifecycle for the COMPOSED standing indexes (VERDICT r11
  * task 5): the SQ8-sample and PQ-sample indexes get the exact √N
  * index's append/trigger/rebuild law — deltas against PINNED
  * codebooks (centroids + SQ8 range / PQ codebook), rebuild with
  * re-trained codebooks when N > (k·gf)², probed fraction
  * non-increasing across a 10× append sequence. */
class ComposedGrowSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("SQ8-sample: probed fraction non-increasing across a 10x append sequence") {
    val emb = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
    var idx = VectorIndex.growInit(spark, VectorIndex.Sq8Grow,
      emb.filter(col("vec_id") < 50))
    val k0 = idx.k
    val cuts = Seq((50L, 100L), (100L, 200L), (200L, 350L), (350L, 500L))
    var fractions = Seq(VectorIndex.probedFraction(spark, idx, queries))
    for ((lo, hi) <- cuts) {
      idx = VectorIndex.growAppend(spark, idx,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
      fractions :+= VectorIndex.probedFraction(spark, idx, queries)
    }
    assert(idx.k > k0, s"no re-bucket happened (k stayed $k0)")
    fractions.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.15, s"probed fraction rose $a -> $b across an append")
    }
    assert(fractions.last < fractions.head * 0.7,
      s"10x growth should shrink the probed fraction " +
        s"(${fractions.head} -> ${fractions.last})")
  }

  test("SQ8-sample: within-threshold append pins codebooks and covers the delta") {
    val emb = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val idx0 = VectorIndex.growInit(spark, VectorIndex.Sq8Grow,
      emb.filter(col("vec_id") < 100))
    val idx1 = VectorIndex.growAppend(spark, idx0,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 200))
    assert(idx1.k == idx0.k && idx1.postings == idx0.postings,
      "within-threshold append must not rebuild")
    val posts = graft.lake.TxTable(spark, idx1.postings).read()
    assert(posts.count() === 200L)
    // the pinned-range contract: re-encode one appended vector against
    // the PINNED [mn, mx] and compare to its stored codes — an append
    // that re-pinned the range (the drift bug this lifecycle forbids)
    // would produce different integers
    val VectorIndex.Sq8(stats, _, _) = idx1.codec
    val r0 = graft.lake.TxTable(spark, stats).read().head()
    val mn = r0.getAs[Long]("mn")
    val s = math.max(r0.getAs[Long]("mx") - mn, 1L)
    val got = posts.filter(col("vec_id") === 150L)
      .select(col("codes")).head().getSeq[Long](0)
    val want = emb.filter(col("vec_id") === 150L)
      .select(expr(
        s"""transform(embedding, x ->
              ((CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT) - ${mn}L)
                * 255) div ${s}L)""").as("codes"))
      .head().getSeq[Long](0)
    assert(got === want, "appended codes drifted from the pinned range")
  }

  test("PQ-sample: grow lifecycle holds the probed-fraction law") {
    val emb = graft.core.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"), col("label"))
    val queries = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 5)
    var idx = VectorIndex.growInit(spark, VectorIndex.PqGrow,
      emb.filter(col("vec_id") < 50))
    val k0 = idx.k
    var fractions = Seq(VectorIndex.probedFraction(spark, idx, queries))
    for ((lo, hi) <- Seq((50L, 100L), (100L, 200L), (200L, 350L), (350L, 500L))) {
      idx = VectorIndex.growAppend(spark, idx,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
      fractions :+= VectorIndex.probedFraction(spark, idx, queries)
    }
    assert(idx.k > k0, s"no re-bucket happened (k stayed $k0)")
    fractions.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.15, s"probed fraction rose $a -> $b across an append")
    }
    assert(fractions.last < fractions.head * 0.7,
      s"10x growth should shrink the probed fraction " +
        s"(${fractions.head} -> ${fractions.last})")
  }
}
