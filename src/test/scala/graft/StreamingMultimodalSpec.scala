package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.streaming.StreamIngest

class StreamingMultimodalSpec extends SparkSpec with TempDirs {

  test("file-source stream with AvailableNow matches the batch result") {
    val dir = tempDir("graft-stream").toString
    val chk = tempDir("graft-chk").toString
    // two "uploaded files" in the raw zone
    Files.writeString(java.nio.file.Paths.get(s"$dir/f1.json"),
      """[{"frame_number": 0, "event_type": "a", "value": 1.0},
          {"frame_number": 1, "event_type": "b", "value": 2.0}]""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/f2.json"),
      """[{"frame_number": 2, "event_type": "a", "value": 3.0}]""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "frame_number LONG, event_type STRING, value DOUBLE")
    val stream = StreamIngest.rawStream(spark, dir, schema, maxFilesPerTrigger = 1)
    val counts = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = counts.writeStream
      .outputMode("complete")
      .format("memory").queryName("stream_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", chk)
      .start()
    q.awaitTermination()
    val got = spark.table("stream_counts").collect()
      .map(r => r.getAs[String]("event_type") -> (r.getAs[Long]("n"), r.getAs[Double]("total")))
      .toMap
    assert(got == Map("a" -> (2L, 4.0), "b" -> (1L, 2.0)))
  }

  test("windowed agg with watermark compiles to a streaming plan") {
    import spark.implicits._
    val events = Seq(("2024-01-01 00:00:01", "a", 1.0)).toDF("ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    // batch execution of the same expression validates the aggregation shape
    val out = StreamIngest.windowedCounts(events, "ts", "5 minutes", "1 minute", "10 minutes")
    assert(out.columns.toSet == Set("window", "event_type", "n", "total_value"))
    assert(out.count() == 5) // 5 sliding windows cover the single event
  }

  test("multimodal decode plumbing: schema, batch shape, deterministic stub") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val assets = Multimodal.syntheticAssets(spark, docs)
    val feats = Multimodal.decodeFeatures(assets, stride = 100)
    val f = feats.filter(_.asset_id == 0).collect().head
    val doc0 = docs.filter(col("doc_id") === 0).collect().head.getAs[String]("text")
    assert(f.n_bytes == doc0.getBytes("UTF-8").length)
    assert(f.n_frames == (f.n_bytes + 99) / 100)
    assert(f.frame_offsets == (0 until f.n_bytes by 100).toSeq)
    assert(f.kind == "image")
    assert(f.mean_byte > 0)
    // pure-SQL metrics agree with the typed path
    val m = Multimodal.byteMetrics(assets.toDF()).filter(col("asset_id") === 0)
      .collect().head
    assert(m.getAs[Int]("n_bytes") == f.n_bytes)
  }
}
