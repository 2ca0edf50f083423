package graft

import java.nio.file.{Files, Paths}
import graft.streaming.StreamIngest

/** Streaming ingestion into a parquet zone table with checkpointed
  * exactly-once semantics: re-running the drained stream adds nothing;
  * new files are picked up incrementally. */
class StreamZoneSpec extends SparkSpec with TempDirs {

  test("AvailableNow into parquet is exactly-once and incremental") {
    val src = tempDir("graft-src").toString
    val out = tempDir("graft-out").toString + "/table"
    val chk = tempDir("graft-chk").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "frame_number LONG, event_type STRING, value DOUBLE")

    def drain(): Unit = {
      val stream = StreamIngest.rawStream(spark, src, schema, maxFilesPerTrigger = 1)
      StreamIngest.runAvailableNow(
        stream.writeStream.format("parquet").option("path", out), chk)
    }

    Files.writeString(Paths.get(s"$src/f1.json"),
      """[{"frame_number": 0, "event_type": "a", "value": 1.0}]""")
    drain()
    assert(spark.read.parquet(out).count() == 1)

    // second drain with no new input: checkpoint prevents reprocessing
    drain()
    assert(spark.read.parquet(out).count() == 1)

    // a newly arrived file is picked up incrementally
    Files.writeString(Paths.get(s"$src/f2.json"),
      """[{"frame_number": 1, "event_type": "b", "value": 2.0},
          {"frame_number": 2, "event_type": "b", "value": 3.0}]""")
    drain()
    assert(spark.read.parquet(out).count() == 3)
  }

  test("stream commits through the tx log: exactly-once + batch markers") {
    import spark.implicits._
    val src = tempDir("graft-txsrc").toString
    val chk = tempDir("graft-txchk").toString
    val table = graft.lake.Lake(spark,
      tempDir("graft-txlake").toString).txTable("refine", "events")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "frame_number LONG, event_type STRING, value DOUBLE")

    def drain(): Unit = StreamIngest.runToTxTable(
      StreamIngest.rawStream(spark, src, schema, maxFilesPerTrigger = 1),
      table, chk)

    Files.writeString(Paths.get(s"$src/f1.json"),
      """[{"frame_number": 0, "event_type": "a", "value": 1.0}]""")
    Files.writeString(Paths.get(s"$src/f2.json"),
      """[{"frame_number": 1, "event_type": "b", "value": 2.0}]""")
    drain()
    assert(table.read().count() == 2)
    assert(table.committedBatches().size == 2) // one commit per micro-batch

    // checkpointed re-drain: nothing reprocessed
    drain()
    assert(table.read().count() == 2)

    // simulated foreachBatch REDELIVERY of an already-committed batch:
    // the marker inside the manifest makes it a no-op
    assert(table.appendBatchIdempotent(
      Seq((9L, "dup", 9.9)).toDF("frame_number", "event_type", "value"),
      batchId = 0L).isEmpty)
    assert(table.read().count() == 2)

    // compaction + vacuum do not disturb the streamed rows or markers
    table.compact(targetFiles = 1)
    table.vacuum()
    assert(table.read().count() == 2)
    assert(table.committedBatches().size == 2)
  }

  test("streamed documents maintain the standing inverted index " +
      "incrementally, exactly-once, with live Bloom point reads") {
    import org.apache.spark.sql.functions._
    val src = tempDir("graft-ftssrc").toString
    val chk = tempDir("graft-ftschk").toString
    val index = graft.lake.TxTable(spark,
      tempDir("graft-ftsidx").toString + "/postings")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")

    // each micro-batch tokenizes into postings and commits them
    // atomically with its batch marker — the incremental-maintenance
    // path of TextAnalysis.bm25Indexed's standing index
    def drain(): Unit = {
      val stream = StreamIngest.rawStream(spark, src, schema,
        maxFilesPerTrigger = 1)
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val postings = batch
            .select(col("doc_id"),
              split(col("text"), " ").as("toks"))
            .withColumn("dl", size(col("toks")).cast("long"))
            .select(col("doc_id"), col("dl"),
              explode(col("toks")).as("tok"))
            .groupBy(col("tok"), col("doc_id"), col("dl"))
            .agg(count(lit(1)).as("tf"))
          index.appendBatchIdempotent(postings, id, bloomCols = Seq("tok"))
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    Files.writeString(Paths.get(s"$src/d1.json"),
      """[{"doc_id": 1, "text": "spark join fast"},
          {"doc_id": 2, "text": "slow scan scan"}]""")
    drain()
    assert(index.readWhereEq("tok", lit("scan")).count() == 1) // one doc
    assert(index.read().count() == 5) // distinct (doc, tok) pairs

    // re-drain: checkpoint + batch markers → nothing duplicates
    drain()
    assert(index.read().count() == 5)

    // a late-arriving document extends the index without a rebuild;
    // point reads see old and new postings through one snapshot
    Files.writeString(Paths.get(s"$src/d2.json"),
      """[{"doc_id": 3, "text": "spark scan"}]""")
    drain()
    assert(index.readWhereEq("tok", lit("spark"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L))
    assert(index.readWhereEq("tok", lit("absent")).count() == 0)
    // per-batch files carry bitmaps: an absent term prunes everything
    val snap = index.latest().get
    assert(index.bloomLiveEntries(snap, "tok", lit("absent")).isEmpty)
  }
}
