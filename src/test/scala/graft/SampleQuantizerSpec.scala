package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorIndex

/** Sample-trained √N quantizer (round-10 task 1): the Lloyd training
  * reads only the hash-gated 8·⌈√N⌉ sample, the full corpus is
  * assigned once. The properties under test: (1) the gate really
  * shrinks the training set (the N^1.5-term cap is not vacuous at
  * this SF); (2) the standing index's postings cover the corpus
  * exactly once — the map-side argmin kernel assigns every vector one
  * cell; (3) the sample-trained serve's recall is within family of
  * the full-trained ceiling at the same nprobe — the quality price of
  * the linear build is bounded, not assumed (the r9 SQ8 lesson: an
  * unmeasured index is a wrong-answers generator with good latency).
  */
class SampleQuantizerSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("build audit: sampling is real and postings cover the corpus") {
    val audit = VectorIndex.buildAudit(spark, sf, VectorIndex.Sample).head()
    val n = graft.core.Tables(spark, sf).embeddings.count()
    assert(audit.getAs[Long]("n_vecs") === n,
      "every vector must land in exactly one cell")
    assert(audit.getAs[Long]("n_sample") < n,
      s"gate kept all $n rows — the training cap is vacuous at this SF")
    assert(audit.getAs[Long]("n_sample") >= audit.getAs[Long]("n_cells"),
      "sample must be at least k (one seed per cell)")
  }

  test("sample-trained recall stays within family of the full-trained ceiling") {
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall_e6"))).head().getDouble(0)
    val sample = mean(SparkEntry.queries("sim_ann_recall_sample")(spark, sf))
    val full = mean(SparkEntry.queries("sim_ann_recall_sqrt")(spark, sf))
    // the dial is nprobe, shared; the sample's centroid-quality loss
    // must not collapse recall (degenerate centroids — e.g. an empty
    // or skew-captured sample — would show up here first)
    assert(sample >= full * 0.5,
      s"sample-trained recall $sample collapsed vs full-trained $full")
  }
}
