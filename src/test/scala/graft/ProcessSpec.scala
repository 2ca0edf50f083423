package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._
import graft.app.Process

/** End-to-end lifecycle drive of the Process CLI body (§3.1 steps 2-6):
  * raw JSON → processed zone (wrapped parity JSON + parquet) → refine
  * zone, for a schema-given domain (vehicle, with a corrupt sibling
  * file quarantined), inferred ones (retail; people's wrapped layout)
  * and parking's slot-map sessionization. Also pins the per-upload
  * work: the raw document is parsed once and the refined frame
  * computed once, and nothing stays cached afterwards. */
class ProcessSpec extends SparkSpec {

  /** Jobs one vehicle upload of [[vehicleDoc]] runs on `local[4]`: two
    * JSON sinks, two zone writes, the refined frame's checkpoint, and
    * AQE's per-stage jobs under them. Re-parsing the document per sink
    * and counting rows with extra jobs ran 36. */
  private val VehicleUploadJobs = 19

  private val vehicleDoc =
    """[{"frame_number": 0, "detections": [
         {"tracker_id": 1, "confidence": 0.9, "vehicle_type": "car",
          "vehicle_speed": 40.0, "bbox": [0.0, 0.0, 10.0, 10.0]}]},
        {"frame_number": 1, "detections": [
         {"tracker_id": 1, "confidence": 0.8, "vehicle_type": "car",
          "vehicle_speed": 50.0, "bbox": [1.0, 0.0, 11.0, 10.0]}]}]"""

  /** Runs `body` on a fresh raw dir and lake root, both deleted after. */
  private def withDirs[A](body: (Path, String) => A): A = {
    val raw = Files.createTempDirectory("graft-procraw")
    val root = Files.createTempDirectory("graft-proc")
    try body(raw, root.toString)
    finally {
      FileUtils.deleteDirectory(raw.toFile)
      FileUtils.deleteDirectory(root.toFile)
    }
  }

  /** Runs the upload; returns its `[graft]` report lines and the number
    * of Spark jobs it started. */
  private def upload(domain: String, rawFile: String, root: String): (Seq[String], Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.upload"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) != null))
          jobs.incrementAndGet()
    }
    val out = new ByteArrayOutputStream()
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, domain)
    try {
      Console.withOut(new PrintStream(out, true, "UTF-8")) {
        Process.run(spark, domain, rawFile, root)
      }
      ListenerBusDrain(sc)
      (out.toString("UTF-8").linesIterator.filter(_.startsWith("[graft]")).toSeq, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** The count a `[graft] <domain>: <n> <what>` report line printed. */
  private def reported(lines: Seq[String], what: String): Long =
    lines.collectFirst {
      case l if l.endsWith(s" $what") => l.split(' ')(2).toLong
    }.getOrElse(fail(s"no '$what' line in ${lines.mkString(" | ")}"))

  private def zoneFiles(root: String, zone: String, domain: String): Seq[String] = {
    val s = Files.list(Paths.get(s"$root/$zone/${domain}_detection"))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("vehicle upload lands in all zones; corrupt doc is quarantined") {
    // other suites in this JVM may leave frames cached
    spark.catalog.clearCache()
    withDirs { (dir, root) =>
      Files.writeString(dir.resolve("v1.json"), vehicleDoc)
      Files.writeString(dir.resolve("broken.json"), """{"not json!""")
      // glob both files: the corrupt one must be quarantined, not crash
      val (lines, jobs) = upload("vehicle", s"$dir/*.json", root)
      assert(jobs <= VehicleUploadJobs, s"$jobs jobs for one upload")
      assert(spark.sharedState.cacheManager.isEmpty, "the parsed document stayed cached")
      val refined = spark.read.parquet(s"$root/refine/vehicle_detection")
      assert(refined.count() == 1)
      val r = refined.collect().head
      assert(r.getAs[String]("vehicle_type") == "car")
      assert(r.getAs[Long]("frame_count") == 2L)
      // the report prints what the sinks wrote
      val processed = spark.read.parquet(s"$root/processed/vehicle_detection")
      assert(reported(lines, "refined entities") == refined.count())
      assert(reported(lines, "frames processed") ==
        processed.select("frame_number").distinct().count())
      assert(reported(lines, "frames processed") == 2L)
      // parity JSON objects exist in both zones
      assert(zoneFiles(root, "processed", "vehicle").exists(_.startsWith("preprocessed_")))
      assert(zoneFiles(root, "refine", "vehicle").exists(_.startsWith("refine_")))
    }
  }

  test("an upload that fails after the parse leaves nothing cached") {
    spark.catalog.clearCache()
    withDirs { (dir, root) =>
      // inferred schema: `detections` reads as a string, which the
      // detection explode rejects once the document is already parsed
      val f = dir.resolve("bad.json")
      Files.writeString(f, """[{"frame_number": 0, "detections": "oops"}]""")
      intercept[org.apache.spark.sql.AnalysisException] {
        Process.run(spark, "retail", f.toString, root)
      }
      assert(spark.sharedState.cacheManager.isEmpty, "the parsed document stayed cached")
    }
  }

  test("retail upload (inferred schema) refines product rollups") {
    withDirs { (dir, root) =>
      val f = dir.resolve("r1.json")
      Files.writeString(f,
        """[{"frame_number": 0, "detections": [
             {"product_id": "p1", "product_name": "soap", "category": "home",
              "price": 2.5, "stock_level": 10.0, "picked_by_customer": false,
              "expiry_date": "2025-01-01"}]},
            {"frame_number": 1, "detections": [
             {"product_id": "p1", "product_name": "soap", "category": "home",
              "price": 2.5, "stock_level": 9.0, "picked_by_customer": true,
              "expiry_date": "2025-01-01"}]}]""")
      upload("retail", f.toString, root)
      val refined = spark.read.parquet(s"$root/refine/retail_detection")
      val r = refined.collect().head
      assert(r.getAs[String]("product_id") == "p1")
      assert(r.getAs[Boolean]("picked_by_customer"))
      assert(r.getAs[Long]("frame_appearances") == 2L)
    }
  }

  test("people upload (wrapped layout, inferred schema) keeps its empty frame") {
    withDirs { (dir, root) =>
      val f = dir.resolve("p1.json")
      Files.writeString(f,
        """{"video_metadata": {"filename": "a.mp4", "duration_seconds": 10.0},
           "frame_detections": [
             {"frame_number": 0, "timestamp": "2025-05-06 06:41:00",
              "detections": [
                {"tracker_id": 2, "confidence": 0.9, "gender": "Unknown", "age": 30,
                 "bbox": [10.0, 20.0, 110.0, 220.0], "in_restricted_area": false},
                {"tracker_id": 3, "confidence": 0.6, "gender": "Man", "age": 41,
                 "bbox": [50.0, 60.0, 150.0, 260.0], "in_restricted_area": false}]},
             {"frame_number": 1, "timestamp": "2025-05-06 06:41:05",
              "detections": [
                {"tracker_id": 2, "confidence": 0.7, "gender": "Woman", "age": 30,
                 "bbox": [15.0, 25.0, 115.0, 225.0], "in_restricted_area": true}]},
             {"frame_number": 2, "timestamp": "2025-05-06 06:41:10", "detections": []}
           ]}""")
      val (lines, _) = upload("people", f.toString, root)
      val refined = rowsByKey[Long](
        spark.read.parquet(s"$root/refine/people_detection"), "tracker_id")
      assert(refined.keySet == Set(2L, 3L))
      assert(refined(2L).getAs[String]("gender") == "Woman")
      assert(refined(2L).getAs[Boolean]("entered_restricted_area"))
      assert(reported(lines, "refined entities") == 2L)
      // the empty frame survives the explode → regroup round trip
      assert(reported(lines, "frames processed") == 3L)
      val processed = spark.read.option("multiLine", true)
        .json(s"$root/processed/people_detection/preprocessed_p1.json")
      assert(processed.selectExpr("size(frame_detections)").head().getInt(0) == 3)
    }
  }

  test("parking upload sessionizes slots and writes the config summary") {
    withDirs { (dir, root) =>
      val f = dir.resolve("k1.json")
      Files.writeString(f,
        """{"parking_config": {"total_slots": 2, "detection_method": "manual"},
           "frame_detections": [
             {"frame_number": 0, "timestamp_sec": 0.0, "free_slots": 1,
              "slots": {"1": {"occupied": true,  "bbox": [10.0, 10.0, 50.0, 100.0]},
                        "2": {"occupied": false, "bbox": [70.0, 10.0, 50.0, 100.0]}}},
             {"frame_number": 1, "timestamp_sec": 1.0, "free_slots": 2,
              "slots": {"1": {"occupied": false, "bbox": [10.0, 10.0, 50.0, 100.0]},
                        "2": {"occupied": false, "bbox": [70.0, 10.0, 50.0, 100.0]}}},
             {"frame_number": 2, "timestamp_sec": 2.0, "free_slots": 1,
              "slots": {"1": {"occupied": true,  "bbox": [10.0, 10.0, 50.0, 100.0]},
                        "2": {"occupied": false, "bbox": [70.0, 10.0, 50.0, 100.0]}}}
           ]}""")
      val (lines, _) = upload("parking", f.toString, root)
      val slots = rowsByKey[String](
        spark.read.parquet(s"$root/refine/parking_detection"), "slot_id")
      assert(slots.keySet == Set("1", "2"))
      assert(slots("1").getAs[Long]("became_free") == 1)
      assert(slots("1").getAs[String]("slot_status") == "occupied")
      assert(slots("2").getAs[String]("slot_status") == "free")
      assert(reported(lines, "refined entities") == 2L)
      assert(reported(lines, "frames processed") == 3L)
      assert(zoneFiles(root, "refine", "parking").contains("refine_k1.json"))
      val cfg = spark.read.option("multiLine", true)
        .json(s"$root/refine/parking_detection/parking_config_k1.json").head()
      assert(cfg.getAs[Long]("total_slots") == 2)
      assert(cfg.getAs[Long]("free_slots") == 1)
      assert(cfg.getAs[Long]("final_occupancy") == 1)
    }
  }
}
