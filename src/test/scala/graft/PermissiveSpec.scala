package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.lake.Lake

/** PERMISSIVE-mode parity (SURVEY §1.3): malformed records must not
  * fail the read — they surface in `_corrupt_record` while valid rows
  * parse normally, matching the reference's
  * `option("mode", "PERMISSIVE")` reads. */
class PermissiveSpec extends SparkSpec with TempDirs {

  test("corrupt JSON rows survive the scan in _corrupt_record") {
    val dir = tempDir("graft-perm").toString
    // one valid document and one torn record in a JSON-lines file
    Files.writeString(java.nio.file.Paths.get(s"$dir/mixed.json"),
      """{"frame_number": 0, "tracker_id": 1, "confidence": 0.9}
        |{"frame_number": 1, "tracker_id": BROKEN
        |{"frame_number": 2, "tracker_id": 3, "confidence": 0.7}
        |""".stripMargin)
    // Spark disallows filtering on only the corrupt-record column of a
    // lazy raw scan — materialize first (documented restriction)
    val df = spark.read.option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/mixed.json")
      .cache()
    assert(df.columns.contains("_corrupt_record"))
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2)
    assert(bad.count() == 1)
    assert(good.select(sum(col("tracker_id"))).collect().head.getLong(0) == 4L)
  }

  test("truncated bbox and malformed timestamp yield nulls, not ANSI errors") {
    val flat = graft.normalize.Normalize.flatten(graft.schema.DomainConfig.people)(
      readJsonFixture(
        """{"frame_detections": [
             {"frame_number": 0, "timestamp": "not a timestamp",
              "detections": [{"tracker_id": 1, "bbox": [10.0, 20.0],
                "entry_time": "2025-05-06 06:41:00"}]}]}"""))
    val r = flat.collect().head
    assert(r.getAs[Double]("bbox_x1") == 10.0)
    assert(r.isNullAt(r.fieldIndex("bbox_x2"))) // truncated → null, no crash
    assert(r.isNullAt(r.fieldIndex("center_x")))
    assert(r.isNullAt(r.fieldIndex("timestamp"))) // unparseable → null
    assert(!r.isNullAt(r.fieldIndex("entry_time")))
  }

  test("multiLine wrapped document with a missing optional field still parses") {
    val lake = Lake(spark, tempDir("graft-perm2").toString)
    val df = readJsonFixture(
      """{"frame_detections": [
           {"frame_number": 0, "detections": [{"tracker_id": 1}]},
           {"frame_number": 1}
         ]}""")
    val frames = graft.normalize.Normalize.unwrap(df)
    assert(frames.count() == 2)
    // frame 1 has no detections array → null, explode_outer keeps it
    val flat = graft.normalize.Normalize.explodeDetections(
      graft.schema.DomainConfig.people)(frames)
    assert(flat.count() == 2)
    assert(flat.filter(col("_empty_frame")).count() == 1)
  }
}
