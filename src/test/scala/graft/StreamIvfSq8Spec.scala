package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamVector
import graft.operators.{Similarity, StandingIndex, VectorIndex}
import graft.lake.TxTable

/** Exactly-once contract of the stream-maintained COMPOSED index
  * (VERDICT r12 task 6): a redelivered micro-batch of code-carrying
  * postings — same rows, same batch id — must be a no-op, leaving the
  * SQ8 code-scan serve byte-identical; and the streamed snapshot must
  * agree row-for-row with what the one-shot sample-trained batch
  * build would have written (the answer-neutral-transport claim,
  * asserted on the postings themselves, not just the top-k). */
class StreamIvfSq8Spec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("redelivered code-carrying micro-batch is a no-op; serve unchanged") {
    val idx = StreamVector.seed(spark, sf, VectorIndex.Sq8Stream)
    val tx = TxTable(spark, idx.postings)
    def serve() = VectorIndex.serve(spark, sf, idx, 5, 3, Some(20)).collect()
    val before = serve()
    assert(before.nonEmpty)
    val rowsBefore = tx.read().count()

    // replay batch 0 verbatim: the delta slice assigned + encoded the
    // same way the stream's foreachBatch did — the marker, not the
    // content, must dedupe it
    val cents = TxTable(spark, idx.centroids).read()
    val VectorIndex.Sq8(stats, _, _) = idx.codec
    val r0 = TxTable(spark, stats).read().head()
    val mnv = r0.getAs[Long]("mn")
    val sv = math.max(r0.getAs[Long]("mx") - mnv, 1L)
    val delta = graft.core.Tables(spark, sf).embeddings
      .filter(pmod(col("vec_id"), lit(10L)) === 9L)
      .select(col("vec_id"), col("embedding"))
    val replay = delta
      .join(Similarity.assign(delta, cents, bounded = true)
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
      .withColumn("codes", Similarity.sq8EncodeExpr(mnv, sv))
      .withColumn("code_sum", expr("aggregate(codes, 0L, (a, x) -> a + x)"))
      .select(col("cell"), col("vec_id"), col("codes"), col("code_sum"),
        col("embedding"))
    tx.appendBatchIdempotent(replay, batchId = 0L, bloomCols = Seq("cell"))

    assert(tx.read().count() === rowsBefore,
      "redelivered batch added rows — the idempotence marker failed")
    assert(serve().toSeq === before.toSeq,
      "serve changed after a redelivered batch")
  }

  test("streamed postings equal the one-shot sample-trained build's") {
    val idx = StreamVector.seed(spark, sf, VectorIndex.Sq8Stream)
    val batch = StandingIndex.ensure(spark, sf, VectorIndex.Sq8Sample)
    val key = Seq("vec_id")
    val streamed = TxTable(spark, idx.postings).read()
      .select(col("vec_id"), col("cell"), col("codes"), col("code_sum"))
      .orderBy(col("vec_id")).collect().toSeq
    val oneShot = TxTable(spark, batch.postings).read()
      .select(col("vec_id"), col("cell"), col("codes"), col("code_sum"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(streamed === oneShot,
      "streamed transport changed a posting row vs the batch build")
  }
}
