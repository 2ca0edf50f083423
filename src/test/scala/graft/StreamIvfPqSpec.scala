package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamVector
import graft.operators.{Similarity, StandingIndex, VectorIndex}
import graft.lake.TxTable

/** Exactly-once contract of the stream-maintained IVF-PQ index — the
  * PQ twin of `StreamIvfSq8Spec`: a redelivered micro-batch of
  * code-carrying postings (same rows, same batch id) must be a
  * no-op, leaving the ADC serve byte-identical; and the streamed
  * snapshot must agree row-for-row with what the one-shot
  * sample-trained batch build would have written (the
  * answer-neutral-transport claim, asserted on the postings
  * themselves, not just the top-k). */
class StreamIvfPqSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("redelivered PQ micro-batch is a no-op; serve unchanged") {
    val idx = StreamVector.seed(spark, sf, VectorIndex.PqStream)
    val tx = TxTable(spark, idx.postings)
    def serve() = VectorIndex.serve(spark, sf, idx, 5, 3, Some(100)).collect()
    val before = serve()
    assert(before.nonEmpty)
    val rowsBefore = tx.read().count()

    // replay batch 0 verbatim: the delta slice assigned + encoded the
    // same way the stream's foreachBatch did — the marker, not the
    // content, must dedupe it
    val cents = TxTable(spark, idx.centroids).read()
    val VectorIndex.Pq(codebook) = idx.codec
    val cb = TxTable(spark, codebook).read()
    val delta = graft.core.Tables(spark, sf).embeddings
      .filter(pmod(col("vec_id"), lit(10L)) === 9L)
      .select(col("vec_id"), col("embedding"))
    val replay = delta
      .join(Similarity.argminByDist(delta, cents), Seq("vec_id"))
      .join(Similarity.withPqCodes(delta, cb)
        .select(col("vec_id"), col("codes")), Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("codes"), col("embedding"))
    tx.appendBatchIdempotent(replay, batchId = 0L, bloomCols = Seq("cell"))

    assert(tx.read().count() === rowsBefore,
      "redelivered batch added rows — the idempotence marker failed")
    assert(serve().toSeq === before.toSeq,
      "serve changed after a redelivered batch")
  }

  test("streamed PQ postings equal the one-shot sample-trained build's") {
    val idx = StreamVector.seed(spark, sf, VectorIndex.PqStream)
    val batch = StandingIndex.ensure(spark, sf, VectorIndex.PqSample)
    val streamed = TxTable(spark, idx.postings).read()
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy(col("vec_id")).collect().toSeq
    val oneShot = TxTable(spark, batch.postings).read()
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(streamed === oneShot,
      "streamed transport changed a posting row vs the batch build")
  }
}
