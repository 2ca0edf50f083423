package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import graft.normalize.Normalize
import graft.enrich.Enrich
import graft.schema.DomainConfig

/** Golden-output spec for the vehicle domain (SURVEY §2.8 Vehicle):
  * normalize → enrich on a hand-computed fixture. */
class VehicleSpec extends SparkSpec {

  // frame-array layout per FIXTURES.md §1; tracker 1 over 3 frames with
  // one lane change, stop in frame 1, one red-light violation, one line
  // crossing; tracker -1 and an empty frame must be filtered/preserved.
  private val fixture =
    """[
      {"frame_number": 0, "congestion_level": 3, "traffic_light": "red",
       "detections": [
         {"tracker_id": 1, "confidence": 0.9, "bbox": [100.0, 200.0, 300.0, 400.0],
          "class_id": 2, "vehicle_type": "car", "vehicle_direction": "Down",
          "vehicle_lane": "Middle Lane", "vehicle_color": "red", "stopped": false,
          "vehicle_speed": 40.0, "red_light_violation": false, "line_crossing": true},
         {"tracker_id": -1, "confidence": 0.2, "bbox": [0.0, 0.0, 1.0, 1.0],
          "class_id": 2, "vehicle_type": "truck", "vehicle_direction": "Up",
          "vehicle_lane": "Left Lane", "vehicle_color": "blue", "stopped": false,
          "vehicle_speed": 5.0, "red_light_violation": false, "line_crossing": false}]},
      {"frame_number": 1, "congestion_level": 3, "traffic_light": "red",
       "detections": [
         {"tracker_id": 1, "confidence": 0.8, "bbox": [110.0, 210.0, 310.0, 410.0],
          "class_id": 2, "vehicle_type": "car", "vehicle_direction": "Down",
          "vehicle_lane": "Middle Lane", "vehicle_color": "red", "stopped": true,
          "vehicle_speed": 50.0, "red_light_violation": true, "line_crossing": false}]},
      {"frame_number": 2, "congestion_level": 2, "traffic_light": "green",
       "detections": [
         {"tracker_id": 1, "confidence": 0.7, "bbox": [130.0, 230.0, 330.0, 430.0],
          "class_id": 2, "vehicle_type": "car", "vehicle_direction": "Down",
          "vehicle_lane": "Left Lane", "vehicle_color": "red", "stopped": false,
          "vehicle_speed": 60.0, "red_light_violation": false, "line_crossing": false}]},
      {"frame_number": 3, "congestion_level": 0, "traffic_light": "green",
       "detections": []}
    ]"""

  private lazy val flat =
    Normalize.flatten(DomainConfig.vehicle)(readJsonFixture(fixture))

  /** Analyzed plan sizes on this fixture. Each enrich window layer is
    * one projection and each normalize stage one `select`; with a
    * `withColumn` per column the vehicle record analyzed to 282 nodes
    * with 37 `Window` operators and `flatten` to 25 nodes, and
    * planning them was a large share of a warm upload's driver time. */
  private val VehicleEnrichNodes = 65
  private val VehicleEnrichWindows = 6
  private val FlattenNodes = 8

  test("flatten renames vehicle_* variants and expands bbox") {
    val cols = flat.columns.toSet
    assert(Set("speed", "class_name", "direction", "lane", "bbox_x1",
      "center_x", "center_y").subsetOf(cols))
    assert(!cols.contains("vehicle_speed"))
    val r = flat.filter(flat("tracker_id") === 1 && flat("frame_number") === 0)
      .collect().head
    assert(r.getAs[Double]("center_x") == 200.0)
    assert(r.getAs[Double]("center_y") == 300.0)
    assert(r.getAs[String]("lane") == "Middle Lane")
  }

  test("regroup restores ordered frames with empty frame as []") {
    val grouped = Normalize.regroupByFrame(DomainConfig.vehicle,
      Seq("tracker_id", "class_name", "confidence", "speed", "lane"))(flat)
    val rows = grouped.orderBy("frame_number").collect()
    assert(rows.length == 4)
    assert(rows(0).getAs[collection.Seq[Row]]("detections").length == 2)
    assert(rows(3).getAs[collection.Seq[Row]]("detections").isEmpty)
  }

  test("enrich computes the hand-checked per-vehicle record") {
    val out = Enrich.vehicle(flat).collect()
    assert(out.length == 1) // tracker -1 filtered (P4)
    val v = out.head
    assert(v.getAs[String]("vehicle_type") == "car")
    assert(v.getAs[String]("vehicle_color") == "red")
    assert(v.getAs[Long]("frame_count") == 3)
    assert(math.abs(v.getAs[Double]("confidence_avg") - 0.8) < 1e-9)
    assert(v.getAs[Double]("duration_seconds") == 2.0) // frame-unit time
    assert(v.getAs[Double]("avg_speed") == 50.0)
    assert(v.getAs[Double]("max_speed") == 60.0)
    assert(v.getAs[Double]("min_speed") == 40.0)
    assert(math.abs(v.getAs[Double]("speed_variation") - 10.0) < 1e-9)
    assert(v.getAs[Long]("lane_changes") == 1)
    assert(v.getAs[String]("initial_lane") == "Middle Lane")
    assert(v.getAs[String]("final_lane") == "Left Lane")
    assert(v.getAs[String]("most_common_lane") == "Middle Lane")
    assert(v.getAs[Long]("line_crossing_count") == 1)
    assert(v.getAs[Long]("red_light_violation_count") == 1)
    assert(v.getAs[Long]("direction_changes") == 0)
    assert(v.getAs[String]("direction") == "Down")
    assert(v.getAs[Double]("stopped_duration") == 1.0)
    assert(math.abs(v.getAs[Double]("total_distance")
      - (math.sqrt(200.0) + math.sqrt(800.0))) < 1e-9)
    val dirTime = v.getAs[collection.Map[String, Double]]("time_spent_per_direction")
    assert(dirTime == Map("Down" -> 2.0))
    val angles = v.getAs[collection.Seq[Double]]("movement_angles")
    assert(angles.length == 2 && angles.forall(a => math.abs(a - 45.0) < 1e-9))
    assert(math.abs(v.getAs[Double]("avg_movement_angle") - 45.0) < 1e-9)
  }

  test("enrich and flatten analyze to bounded plans") {
    def nodes(p: LogicalPlan) = p.collect { case n => n }.size
    val enriched = Enrich.vehicle(flat).queryExecution.analyzed
    val windows = enriched.collect { case w: Window => w }.size
    val reading = s"enrich ${nodes(enriched)} nodes, $windows windows; " +
      s"flatten ${nodes(flat.queryExecution.analyzed)} nodes"
    info(reading)
    assert(nodes(enriched) <= VehicleEnrichNodes, reading)
    assert(windows <= VehicleEnrichWindows, reading)
    assert(nodes(flat.queryExecution.analyzed) <= FlattenNodes, reading)
  }
}
