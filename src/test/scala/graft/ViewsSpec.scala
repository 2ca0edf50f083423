package graft

import org.apache.spark.sql.functions._
import graft.normalize.Normalize
import graft.enrich.Enrich
import graft.schema.DomainConfig
import graft.views.Views

class ViewsSpec extends SparkSpec {

  private val fixture =
    """[
      {"frame_number": 0, "detections": [
        {"tracker_id": 1, "confidence": 0.9, "bbox": [0.0, 0.0, 10.0, 10.0],
         "vehicle_type": "car", "vehicle_color": "red", "vehicle_speed": 40.0,
         "vehicle_direction": "Down", "vehicle_lane": "Middle Lane",
         "stopped": false, "red_light_violation": true, "line_crossing": false},
        {"tracker_id": 2, "confidence": 0.8, "bbox": [100.0, 100.0, 110.0, 110.0],
         "vehicle_type": "truck", "vehicle_color": "blue", "vehicle_speed": 30.0,
         "vehicle_direction": "Up", "vehicle_lane": "Left Lane",
         "stopped": false, "red_light_violation": false, "line_crossing": false}]},
      {"frame_number": 1, "detections": [
        {"tracker_id": 1, "confidence": 0.7, "bbox": [1.0, 0.0, 11.0, 10.0],
         "vehicle_type": "car", "vehicle_color": "red", "vehicle_speed": 50.0,
         "vehicle_direction": "Down", "vehicle_lane": "Middle Lane",
         "stopped": false, "red_light_violation": false, "line_crossing": false}]}
    ]"""

  private lazy val flat = Normalize.flatten(DomainConfig.vehicle)(readJsonFixture(fixture))
  private lazy val refined = Enrich.vehicle(flat)

  test("feature splits project the documented aspects (D11)") {
    val splits = Views.vehicleSplits(refined)
    assert(splits.keySet == Set("VehicleInfo", "Movement", "Violations", "Confidence"))
    assert(splits("Movement").columns.contains("avg_speed"))
    assert(splits("VehicleInfo").count() == 2)
  }

  test("people splits project the four aspects of the enriched record (D11)") {
    def det(t: Int, g: String) =
      s"""{"tracker_id": $t, "confidence": 0.5, "gender": "$g", "age": 30,
         "bbox": [0.0, 0.0, 10.0, 10.0], "in_restricted_area": ${t == 2}}"""
    val doc = s"""{"video_metadata": {"filename": "a.mp4"}, "frame_detections": [
      {"frame_number": 0, "timestamp": "2025-05-06 06:41:00",
       "detections": [${det(1, "Man")}, ${det(2, "Woman")}]},
      {"frame_number": 1, "timestamp": "2025-05-06 06:41:05",
       "detections": [${det(2, "Woman")}, ${det(3, "Unknown")}]}]}"""
    val refined = Enrich.people(Normalize.flatten(DomainConfig.people)(readJsonFixture(doc)))
    val splits = Views.peopleSplits(refined)
    assert(splits.map { case (k, v) => k -> v.columns.toSeq } == Map(
      "PersonalInfo" -> Seq("tracker_id", "age", "gender", "carrying"),
      "Activity" -> Seq("tracker_id", "first_detection", "last_detection",
        "duration_seconds", "frame_count"),
      "Security" -> Seq("tracker_id", "entered_restricted_area",
        "restricted_area_entry_time"),
      "Confidence" -> Seq("tracker_id", "confidence_avg")))
    assert(splits.values.map(_.count()).toSet == Set(3L))
    val security = rowsByKey[Long](splits("Security"), "tracker_id")
    assert(security(2L).getAs[Boolean]("entered_restricted_area"))
    assert(!security(1L).getAs[Boolean]("entered_restricted_area"))
  }

  test("distribution + numeric summary (D11 statistics)") {
    val dist = Views.distribution(refined, "vehicle_type").collect()
    assert(dist.map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("car" -> 1L, "truck" -> 1L))
    val s = Views.numericSummary(refined, "avg_speed").collect().head
    assert(s.getAs[Long]("n") == 2)
    assert(math.abs(s.getAs[Double]("mean") - 37.5) < 1e-9) // (45+30)/2
  }

  test("kmeans clusters bbox centers with fixed seed (D11)") {
    val clusters = Views.kmeansCenters(flat, k = 2).collect()
    assert(clusters.length == 2)
    assert(clusters.map(_.getAs[Long]("n")).sum == 3)
  }

  test("safety splits + statistics mirror split_safety.py blocks") {
    import spark.implicits._
    val det = Seq(
      // tracker 1: safe twice, all gear, missing nothing
      (1L, 0L, "Safe", true, true, true, Seq.empty[String], 10.0, 20.0),
      (1L, 1L, "Safe", true, true, true, Seq.empty[String], 13.0, 24.0),
      // tracker 2: unsafe, no hardhat
      (2L, 0L, "Unsafe", false, true, true, Seq("hardhat"), 0.0, 0.0))
      .toDF("tracker_id", "frame_number", "safety_status", "hardhat", "mask",
        "safety_vest", "missing_items", "center_x", "center_y")
      .withColumn("bbox", array(col("center_x"), col("center_y"),
        col("center_x") + 5.0, col("center_y") + 5.0))
    val refined = Enrich.safety(det)
    val splits = Views.safetySplits(refined)
    assert(splits.keySet ==
      Set("SafetyInfo", "Violations", "GearStatus", "Summary"))
    assert(splits("SafetyInfo").columns.contains("bbox_movement_estimate"))
    assert(splits("Violations").filter(col("tracker_id") === 2)
      .collect().head.getAs[Long]("hardhat_violations") == 1L)
    val stats = Views.safetyStats(refined)
    val info = stats("SafetyInfo").collect().head
    assert(info.getAs[Long]("total_objects") == 2L)
    // tracker 1 moved sqrt(3^2+4^2)=5 over its two frames; tracker 2: 0
    assert(math.abs(info.getAs[Double]("avg_bbox_movement") - 2.5) < 1e-9)
    val gear = stats("GearStatus").collect().head
    assert(gear.getAs[Long]("hardhat_presence_count") == 1L)
    assert(gear.getAs[Long]("mask_presence_count") == 2L)
    val dist = stats("Summary/safety_status_distribution").collect()
    assert(dist.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("Safe" -> 1L, "Unsafe" -> 1L))
  }

  test("animal splits + statistics mirror split_animal.py blocks") {
    import spark.implicits._
    val det = Seq(
      (7L, 0L, "cat", 0.5, Seq(0.0, 0.0, 1.0, 1.0)),
      (7L, 3L, "cat", 0.7, Seq(0.0, 0.0, 1.0, 1.0)),
      (8L, 1L, "dog", 0.9, Seq(2.0, 2.0, 3.0, 3.0)))
      .toDF("animal_id", "frame_number", "class_name", "confidence", "bbox")
    val refined = Enrich.genericEntity("animal_id")(det)
    val splits = Views.animalSplits(refined)
    assert(splits.keySet == Set("AnimalInfo", "DetectionActivity", "Confidence"))
    assert(splits("AnimalInfo").orderBy("animal_id").collect()
      .map(_.getString(1)).toSeq == Seq("cat", "dog"))
    val stats = Views.animalStats(refined)
    val act = stats("DetectionActivity").collect().head
    assert(act.getAs[Long]("total_frame_count") == 3L)
    assert(math.abs(act.getAs[Double]("total_duration_seconds") - 3.0) < 1e-9)
    val conf = stats("Confidence").collect().head
    // per-entity averages: cat (0.5+0.7)/2=0.6, dog 0.9 → avg 0.75
    assert(math.abs(conf.getAs[Double]("avg_confidence") - 0.75) < 1e-9)
    val marker = stats("AnimalInfo/class_distribution").collect()
    assert(marker.forall(_.getAs[Long]("n") == 1L) && marker.length == 2)
  }

  test("pose splits mark run-start frames and aggregate the stats") {
    import spark.implicits._
    // frames 0,1,2 then a gap to 10,11: run starts at 10 (frame 0 is
    // excluded by the reference's frame_num > 0 guard)
    val frames = Seq(
      (0L, "stand", 0.9), (1L, "stand", 0.8), (2L, "walk", 0.7),
      (10L, "run", 0.6), (11L, "run", 0.5))
      .toDF("frame_number", "action", "confidence")
    val splits = Views.poseSplits(frames)
    val durs = splits("PoseInfo").orderBy("frame_number").collect()
      .map(r => r.getAs[Long]("frame_number") -> r.getAs[Double]("duration_seconds"))
      .toMap
    assert(durs == Map(0L -> 0.0, 1L -> 0.0, 2L -> 0.0, 10L -> 0.033, 11L -> 0.0))
    val stats = Views.poseStats(frames)
    assert(stats("PoseInfo").collect().head.getAs[Long]("total_frames") == 5L)
    val acts = stats("Movement/action_distribution").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(acts == Map("stand" -> 2L, "walk" -> 1L, "run" -> 2L))
    val conf = stats("Confidence").collect().head
    assert(math.abs(conf.getAs[Double]("min_confidence") - 0.5) < 1e-9)
    // partitioned variant: same per-video answer when a video column exists
    val two = frames.withColumn("video", lit("a"))
      .union(frames.withColumn("video", lit("b")))
    val byVideo = Views.poseSplits(two, Seq("video"))("PoseInfo")
    assert(byVideo.filter(col("duration_seconds") > 0.0).count() == 2)
  }

  test("geolocation splits project frames and stats match") {
    import spark.implicits._
    val frames = Seq(
      (0L, 1.5, 103.8, Seq(0.0, 1.0, 2.0, 3.0), 0.9, "car"),
      (1L, 1.6, 103.9, Seq(4.0, 5.0, 6.0, 7.0), 0.7, "car"),
      (2L, 1.7, 104.0, Seq(8.0, 9.0, 10.0, 11.0), 0.8, "bus"))
      .toDF("frame_number", "latitude", "longitude", "bbox", "confidence",
        "class_name")
    val splits = Views.geolocationSplits(frames)
    val bb = splits("BoundingBox").orderBy("frame_number").collect()
    assert(bb.head.getAs[Double]("x1") == 0.0 && bb.head.getAs[Double]("y2") == 3.0)
    val stats = Views.geolocationStats(frames)
    assert(stats("Geolocation").collect().head.getAs[Long]("total_frames") == 3L)
    assert(stats("BoundingBox/class_distribution").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("car" -> 2L, "bus" -> 1L))
  }

  test("people/safety ES records + legacy vehicle flatten (S8/D12)") {
    import spark.implicits._
    val people = Seq((1L, 5.0, 9.0)).toDF("tracker_id", "first_detection",
      "last_detection").withColumn("gender", lit("m"))
    val es = Views.peopleEsRecords(people)
    assert(es.columns.toSet == Set("people_id", "entry_time", "exit_time", "gender"))
    val det = Seq(
      (0L, 1L, Some(true), Some(true), None: Option[Boolean], "Safe"),
      (1L, 2L, None, None, Some(false), "Unsafe"))
      .toDF("frame_number", "tracker_id", "hardhat", "mask", "safety_vest",
        "safety_status")
      .withColumn("missing_items",
        when(col("tracker_id") === 2, array(lit("hardhat"))))
      .withColumn("bbox", when(col("tracker_id") === 1, array(lit(1.0), lit(2.0))))
    val ses = Views.safetyEsRecords(det).orderBy("tracker_id").collect()
    assert(ses(0).getAs[Boolean]("wearing_hardhat"))
    assert(ses(0).getAs[Boolean]("wearing_mask")) // present → worn
    assert(!ses(1).getAs[Boolean]("wearing_mask")) // absent → not worn
    assert(!ses(1).getAs[Boolean]("wearing_hardhat")) // None → default false
    assert(ses(1).getAs[collection.Seq[Double]]("bbox").isEmpty) // default []
    assert(ses(0).getAs[collection.Seq[String]]("missing_items").isEmpty)
    // legacy majority vote: first-seen tie-break like Counter/max
    val legacy = Seq(
      (1L, 0L, 2L, "car", "red", "up", "L1", 0.5, 10.0),
      (1L, 1L, 3L, "bus", "red", "up", "L2", 0.5, 20.0),
      (1L, 2L, 2L, "car", "blue", "down", "L1", 0.5, 30.0),
      (-1L, 3L, 9L, "x", "x", "x", "x", 0.0, 0.0)) // null-ish: filtered? no — only NULL ids skip
      .toDF("tracker_id", "frame_number", "class_id", "vehicle_type",
        "vehicle_color", "vehicle_direction", "vehicle_lane", "confidence",
        "vehicle_speed")
      .withColumn("tracker_id",
        when(col("tracker_id") === -1L, lit(null)).otherwise(col("tracker_id")))
    val flatLegacy = Views.vehicleLegacyRecords(legacy).collect()
    assert(flatLegacy.length == 1)
    val r = flatLegacy.head
    assert(r.getAs[Long]("class_id") == 2L)
    assert(r.getAs[String]("vehicle_type") == "car")
    assert(r.getAs[String]("vehicle_color") == "red") // 2-1 majority
    assert(r.getAs[String]("vehicle_direction") == "up")
    assert(r.getAs[String]("vehicle_lane") == "L1")
    assert(math.abs(r.getAs[Double]("average_confidence") - 0.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("average_speed") - 20.0) < 1e-12)
  }

  test("stamp-only ES pass-through views carry the provenance stamp " +
      "and the domain record shape (S8: animal/geo/pose/parking/common)") {
    import spark.implicits._
    val us = 1700000000000000L // 2023-11-14T22:13:20Z
    val stampCols = Seq("@timestamp", "source_file", "processing_date",
      "processing_version")
    // animal/geolocation: every detection field passes through under the stamp
    val animal = Seq((0L, 7L, "cat", 0.5)).toDF(
      "frame_number", "tracker_id", "animal_type", "confidence")
    val a = Views.animalEsRecords(animal, "a.json", Some(us))
    assert(a.columns.toSeq == stampCols ++ animal.columns)
    val ar = a.collect().head
    assert(ar.getAs[java.sql.Timestamp]("@timestamp").getTime == us / 1000)
    assert(ar.getAs[String]("source_file") == "a.json")
    assert(ar.getAs[String]("processing_date") == "2023-11-14")
    assert(ar.getAs[String]("processing_version") == "v1.0")
    assert(ar.getAs[String]("animal_type") == "cat")
    val g = Views.geolocationEsRecords(
      Seq((0L, 1.5, 103.8)).toDF("frame_number", "latitude", "longitude"),
      "g.json", Some(us))
    assert(g.columns.toSeq ==
      stampCols ++ Seq("frame_number", "latitude", "longitude"))
    // pose: exactly the four sender-kept fields, extras dropped
    val pose = Views.poseEsRecords(
      Seq((1L, "walk", 0.9, Seq(1.0, 2.0), "extra")).toDF(
        "frame_number", "action", "confidence", "keypoints", "junk"),
      "p.json", Some(us))
    assert(pose.columns.toSeq ==
      stampCols ++ Seq("frame_number", "action", "confidence", "keypoints"))
    // parking: the five named slot-document fields, nested structs intact
    val slotDocs = graft.enrich.Sessionization.slotDocuments(
      graft.enrich.Sessionization.slotRollup(
        Seq((0L, 0.0, "s1", true, Seq(0.0)), (1L, 10.0, "s1", false, Seq(0.0)))
          .toDF("frame_number", "timestamp_sec", "slot_id", "occupied", "bbox")))
    val park = Views.parkingEsRecords(slotDocs, "pk.json", Some(us))
    assert(park.columns.toSeq == stampCols ++ Seq("slot_id", "slot_status",
      "state_transitions", "time_metrics", "parking_sessions"))
    val pr = park.collect().head
    assert(pr.getAs[String]("slot_status") == "free")
    assert(pr.getAs[org.apache.spark.sql.Row]("state_transitions")
      .getAs[Long]("became_free") == 1L)
    // common: frame_data payloads unwrap (processing_common.py:84)
    val wrapped = Seq((5L, "person")).toDF("frame_number", "object_class")
      .select(struct(col("frame_number"), col("object_class")).as("frame_data"))
    val c = Views.commonEsRecords(wrapped, "c.json", Some(us))
    assert(c.columns.toSeq == stampCols ++ Seq("frame_number", "object_class"))
    assert(c.collect().head.getAs[String]("object_class") == "person")
    // already-flat records pass through unchanged
    val flat2 = Views.commonEsRecords(
      Seq((5L, "person")).toDF("frame_number", "object_class"),
      "c.json", Some(us))
    assert(flat2.columns.toSeq == c.columns.toSeq)
    // injectable clock default = current time: no fixed column value
    assert(Views.animalEsRecords(animal, "a.json").columns.toSeq ==
      a.columns.toSeq)
  }

  test("serving layer answers the Kibana aggregations (A12) + ES reshape (D12)") {
    Views.registerServing(spark, refined, refined.limit(0))
    val top = Views.top5(spark, "datalake_vehicle_data", "vehicle_type").collect()
    assert(top.length == 2)
    val speeds = Views.speedByVehicle(spark).collect()
    assert(speeds.head.getAs[Double]("max_avg_speed") == 45.0)
    val es = Views.vehicleEsRecords(refined)
    val r1 = es.filter(col("vehicle_id") === 1).collect().head
    assert(r1.getAs[Boolean]("red_light_violation"))
    assert(!r1.getAs[Boolean]("line_crossing_violation"))
    assert(!r1.getAs[Boolean]("stopped")) // duration 0 → false, count dropped
    assert(es.columns.contains("entry_time"))
    assert(!es.columns.contains("stopped_duration"))
    // the Down-direction seconds flatten out of the map; absent keys → 0
    assert(r1.getAs[Double]("time_spent_per_direction_Down") > 0.0)
    assert(r1.getAs[Double]("time_spent_per_direction_Unknown") == 0.0)
  }
}
