package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import graft.enrich.Enrich
import graft.normalize.Normalize
import graft.schema.DomainConfig

/** Each enrich record runs as one entity aggregate: its executed plan
  * holds exactly one hash exchange (on the entity key) and no range
  * exchange and no join. */
class EnrichPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A two-frame document of `dets(frame)` detections under `detKey`. */
  private def doc(detKey: String)(dets: Int => Seq[String]): String =
    (0 until 2).map(f => s"""{"frame_number": $f, "$detKey": [${dets(f).mkString(", ")}]}""")
      .mkString("[", ", ", "]")

  private def flat(cfg: DomainConfig, json: String): DataFrame =
    Normalize.flatten(cfg)(readJsonFixture(json))

  private val vehicle = doc("detections")(f => Seq(1, 2).map(t =>
    s"""{"tracker_id": $t, "confidence": 0.5, "bbox": [$f.0, 0.0, 10.0, 10.0],
       "vehicle_type": "car", "vehicle_speed": 40.0, "vehicle_direction": "Up",
       "vehicle_lane": "Left Lane", "stopped": false, "red_light_violation": false,
       "line_crossing": false}"""))

  private val people = doc("detections")(_ => Seq(1, 2).map(t =>
    s"""{"tracker_id": $t, "confidence": 0.5, "gender": "Man", "age": 30,
       "bbox": [0.0, 0.0, 10.0, 10.0], "in_restricted_area": false}"""))

  private val safety = doc("people")(f => Seq(1, 2).map(t =>
    s"""{"tracker_id": $t, "hardhat": true, "mask": false, "safety_vest": true,
       "safety_status": "Unsafe", "missing_items": ["mask"],
       "bbox": [$f.0, 0.0, 10.0, 10.0]}"""))

  private val school = doc("detections")(_ => Seq(100, 101).map(e =>
    s"""{"event_id": $e, "event_type": "fight", "location": "yard",
       "confidence": 0.5, "involved_person_id": "p1", "duration_seconds": 5,
       "notes": "", "alert_level": "low", "response_required": false,
       "multiple_persons_involved": false, "person_roles": ["student"]}"""))

  private def records: Seq[(String, DataFrame)] = Seq(
    "vehicle" -> Enrich.vehicle(flat(DomainConfig.vehicle, vehicle)),
    "people" -> Enrich.people(flat(DomainConfig.people, people)),
    "safety" -> Enrich.safety(flat(DomainConfig.safety, safety)),
    "school" -> Enrich.school(flat(DomainConfig.school, school)))

  test("every record plans one hash exchange and no range exchange or join") {
    records.foreach { case (name, df) =>
      assert(df.collect().length == 2, name)
      val plan: SparkPlan = df.queryExecution.executedPlan
      val exchanges = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      val hash = exchanges.count(_.isInstanceOf[HashPartitioning])
      val range = exchanges.count(_.isInstanceOf[RangePartitioning])
      val joins = collect(plan) {
        case j: SortMergeJoinExec => j
        case j: BroadcastHashJoinExec => j
      }
      val reading = s"$name: $hash hash exchanges, $range range exchanges, " +
        s"${joins.size} joins in\n$plan"
      assert(hash == 1 && exchanges.size == 1 && joins.isEmpty, reading)
    }
  }
}
