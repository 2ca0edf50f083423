package graft

import java.nio.file.Files
import graft.lake.Lake

/** Zone/sink round-trip specs (S1-S6). */
class LakeSpec extends SparkSpec with TempDirs {

  test("JSON array sink round-trips through the multiLine reader (S1/S2)") {
    import spark.implicits._
    val root = tempDir("graft-lake").toString
    val lake = Lake(spark, root)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val path = s"$root/raw/test_detection/file1.json"
    lake.writeJsonArray(df, path)
    val back = lake.readJsonArray(path).orderBy("id").collect()
    assert(back.map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).toSeq
      == Seq((1L, "a"), (2L, "b")))
  }

  test("wrapped-JSON sink produces the frame_detections layout (S3)") {
    import spark.implicits._
    val root = tempDir("graft-lake").toString
    val lake = Lake(spark, root)
    val df = Seq((0L, 2L), (1L, 0L)).toDF("frame_number", "n")
    val path = s"$root/processed/test_detection/preprocessed_file1.json"
    lake.writeWrappedJson(df, "frame_detections", path)
    val back = lake.readJsonArray(path)
    assert(back.columns.contains("frame_detections"))
    assert(graft.normalize.Normalize.unwrap(back).count() == 2)
  }

  test("parquet zone table append + catalog listing (S6/S7)") {
    import spark.implicits._
    val root = tempDir("graft-lake").toString
    val lake = Lake(spark, root)
    val df = Seq((1L, 0.5), (2L, 0.9)).toDF("tracker_id", "confidence")
    lake.writeZoneTable(df, "processed", "vehicle", "v1.json")
    lake.writeZoneTable(df, "processed", "vehicle", "v2.json")
    assert(lake.readZoneTable("processed", "vehicle").count() == 4)
    assert(lake.list("processed", "vehicle").nonEmpty)
  }

  test("a zone write whose column type clashes with the pinned one commits nothing") {
    import spark.implicits._
    val root = tempDir("graft-lake").toString
    val lake = Lake(spark, root)
    lake.writeZoneTable(Seq((1L, 0.5), (2L, 0.9)).toDF("tracker_id", "confidence"),
      "processed", "vehicle", "v1.json")
    val t = lake.txTable("processed", "vehicle")
    val version = t.latest().get.version
    val data = new java.io.File(lake.zonePath("processed", "vehicle"), "data")
    def dataFiles() = data.list().toSet
    val files = dataFiles()
    intercept[IllegalArgumentException] {
      lake.writeZoneTable(Seq(("3", 0.7)).toDF("tracker_id", "confidence"),
        "processed", "vehicle", "v2.json")
    }
    assert(t.latest().get.version === version)
    assert(lake.readZoneTable("processed", "vehicle").count() === 2)
    assert(dataFiles() === files)
  }

  test("schema-given read skips inference and keeps _corrupt_record (S1 §4.2)") {
    val root = tempDir("graft-lake").toString
    val lake = Lake(spark, root)
    val dir = s"$root/raw/vehicle_detection"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(s"$dir/good.json"),
      """[{"frame_number": 0, "detections": [
           {"tracker_id": 7, "confidence": 0.9, "vehicle_type": "car",
            "bbox": [0.0, 0.0, 1.0, 1.0]}]}]""".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/bad.json"),
      """{"frame_number": not-json!""".getBytes("UTF-8"))
    val schema = graft.schema.DomainSchemas.vehicleFrames
    val df = lake.readJsonArray(s"$dir/*.json", Some(schema))
    // the read plan carries the GIVEN schema (+ corrupt column): no
    // inference pass ran, or these fields would reflect file contents
    assert(df.schema.fieldNames.toSet ==
      schema.fieldNames.toSet + "_corrupt_record")
    val rows = df.collect()
    assert(rows.length == 2)
    val corrupt = rows.filter(r =>
      r.getAs[String]("_corrupt_record") != null)
    assert(corrupt.length == 1)
    assert(corrupt.head.getAs[String]("_corrupt_record").contains("not-json!"))
    val good = rows.filter(_.getAs[String]("_corrupt_record") == null).head
    assert(good.getAs[Long]("frame_number") == 0L)
  }

  test("object-store config seam lands the s3a options only when configured") {
    import graft.core.Sessions
    assert(Sessions.objectStoreConfigs(Map.empty).isEmpty)
    val cfg = Sessions.objectStoreConfigs(Map(
      "GRAFT_S3_ENDPOINT" -> "http://localhost:9000",
      "GRAFT_S3_ACCESS_KEY" -> "ak",
      "GRAFT_S3_SECRET_KEY" -> "sk"))
    assert(cfg("spark.hadoop.fs.s3a.endpoint") == "http://localhost:9000")
    assert(cfg("spark.hadoop.fs.s3a.path.style.access") == "true")
    assert(cfg("spark.hadoop.fs.s3a.access.key") == "ak")
    assert(cfg("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    // endpoint without creds: default provider chain, no key configs
    val noCreds = Sessions.objectStoreConfigs(
      Map("GRAFT_S3_ENDPOINT" -> "http://localhost:9000"))
    assert(!noCreds.contains("spark.hadoop.fs.s3a.access.key"))
  }

  test("ingest stamp is injectable for determinism (S9)") {
    import spark.implicits._
    val lake = Lake(spark, "/tmp/unused")
    val stamped = lake.stampIngest(Seq(1).toDF("x"), Some(1700000000000000L))
    val ts = stamped.collect().head.getAs[java.sql.Timestamp]("@timestamp")
    assert(ts.toInstant.getEpochSecond == 1700000000L)
  }
}
