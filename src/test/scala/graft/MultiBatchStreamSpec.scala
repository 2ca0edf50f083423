package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamSource

/** Multi-batch streaming correctness: the single-file AvailableNow runs
  * in the query set process one batch; these force SEVERAL micro-batches
  * (maxFilesPerTrigger=1 over split files) and assert the final results
  * equal the batch computation — state merge across batches for session
  * windows, complete-mode replacement for the static join shape. */
class MultiBatchStreamSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def splitEventsDir(): String = {
    val dir = tempDir("graft-mbatch").toString
    val ev = graft.core.Tables(spark, "/root/testdata/sf0.001").events
      .select(col("user_id"), col("ts"), col("value"), col("event_type"))
    // two time-ordered halves written as separate files; modification
    // times ordered so the file source processes them in event-time order
    val cut = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head().getLong(0)
    ev.filter(unix_micros(col("ts")) <= cut).coalesce(1)
      .write.parquet(s"$dir/p1")
    Thread.sleep(1100) // distinct modification-time seconds
    ev.filter(unix_micros(col("ts")) > cut).coalesce(1)
      .write.parquet(s"$dir/p2")
    dir
  }

  test("session_window state merges across micro-batches") {
    val dir = splitEventsDir()
    val sessions = StreamSource
      .eventsStream(spark, s"$dir/*", glob = "part-*.parquet", maxFilesPerTrigger = 1)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val streamed = StreamSource.runToMemory(spark, sessions, "append", "mb_sessions")
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s"),
        unix_micros(col("session_window.end")).as("e"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // batch reference with the SAME watermark emission cut (ms-floored)
    val ev = graft.core.Tables(spark, "/root/testdata/sf0.001").events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"))
    val gap = 1800L * 1000000L
    val wm = ev.agg(expr("(max(us) div 1000) * 1000")).head().getLong(0)
    val expected = ev
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") >= gap, 1).otherwise(0))
      .withColumn("sid", sum(col("new_sess")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("s"), (max(col("us")) + gap).as("e"),
        count(lit(1)).as("n"))
      .filter(col("e") <= wm)
      .select(col("user_id"), col("s"), col("e"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed === expected)
  }

  test("stream-stream interval join survives micro-batch boundaries at both watermark bounds") {
    val dir = splitEventsDir()
    def drained(delay: String, sink: String): Set[(Long, Long, Long)] = {
      val stream = StreamSource.eventsStream(
        spark, s"$dir/*", glob = "part-*.parquet", maxFilesPerTrigger = 1)
      val joined = graft.streaming.StreamStreamJoin
        .streamStreamJoinOn(stream, watermarkDelay = delay)
      StreamSource.runToMemory(spark, joined, "append", sink)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    // tight production default: the halves are event-time ordered, so a
    // 10 min delay covers the cross-batch out-of-orderness — state for
    // clicks near the batch boundary must survive until their 1 h
    // interval closes, which delay+interval guarantees
    val tight = drained(
      graft.streaming.StreamStreamJoin.defaultWatermarkDelay, "mb_ssj")
    // loose harness bound: retains everything, trivially complete
    val loose = drained("31 days", "mb_ssj_loose")
    val streamed = tight
    val ev = graft.core.Tables(spark, "/root/testdata/sf0.001").events
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("p_us"))
    val expected = c.join(p, col("user_id") === col("pu") &&
        col("p_us") >= col("c_us") && col("p_us") <= col("c_us") + 3600L * 1000000L)
      .select(col("user_id"), col("c_us"), col("p_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === expected)
    assert(loose === expected)
  }

  test("complete-mode stream aggregation has no duplicate keys across batches") {
    val dir = splitEventsDir()
    val agg = StreamSource
      .eventsStream(spark, s"$dir/*", glob = "part-*.parquet", maxFilesPerTrigger = 1)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    val out = StreamSource.runToMemory(spark, agg, "complete", "mb_agg")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.map(_._1).distinct.length === out.length, "duplicate keys")
    val expected = graft.core.Tables(spark, "/root/testdata/sf0.001").events
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.toMap === expected)
  }
}
