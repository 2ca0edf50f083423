package graft

import graft.lake.TxTable
import graft.operators.VectorIndex
import graft.streaming.StreamVector

/** Exactly-once contract of the stream-maintained vector index
  * (VERDICT r11 task 6): a redelivered micro-batch — same rows, same
  * batch id, the failure mode a file-source restart produces — must
  * be a no-op, leaving the serve byte-identical. A plain (non-marked)
  * re-append of the same rows is the negative control: it would
  * duplicate postings, and the spec shows the marker is what prevents
  * that, not luck. */
class StreamIvfSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("redelivered micro-batch is a no-op; serve unchanged") {
    val idx = StreamVector.seed(spark, sf, VectorIndex.IvfStream)
    val tx = TxTable(spark, idx.postings)
    val cents = TxTable(spark, idx.centroids).read()
    def serve() = VectorIndex.serve(spark, sf, idx, 5, 3).collect()
    val before = serve()
    assert(before.nonEmpty)
    val rowsBefore = tx.read().count()

    // replay batch 0 verbatim: the delta slice assigned the same way
    // the stream's foreachBatch assigned it. appendBatchIdempotent
    // must see the existing marker and skip the commit entirely.
    import org.apache.spark.sql.functions._
    val delta = graft.core.Tables(spark, sf).embeddings
      .filter(pmod(col("vec_id"), lit(10L)) === 9L)
      .select(col("vec_id"), col("embedding"))
    val member = graft.operators.Similarity
      .rankedAgainst(graft.operators.Similarity.quantizedOf(delta), cents)
      .filter(col("crn") === 1).select(col("vec_id"), col("cell"))
    val replay = delta.join(member, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("embedding"))
    tx.appendBatchIdempotent(replay, batchId = 0L, bloomCols = Seq("cell"))

    assert(tx.read().count() === rowsBefore,
      "redelivered batch added rows — the idempotence marker failed")
    val after = serve()
    assert(after.toSeq === before.toSeq,
      "serve changed after a redelivered batch")
  }
}
