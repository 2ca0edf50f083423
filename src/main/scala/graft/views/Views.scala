package graft.views

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-split views + statistics rollups (SURVEY.md §2.6 D11,
  * `split_*_data/split_*.py`) and the serving layer reproducing the
  * reference's Elasticsearch/Kibana query surface (A12, D12) as Spark
  * SQL over the refined zone tables.
  *
  * The reference splitters are driver-side Python over the refined JSON
  * dict; here each split is a projection and each statistics block one
  * small aggregation over the refined table — all distributed.
  */
object Views {

  /** People feature splits (`split_people_data/split_people.py:62-67`):
    * PersonalInfo / Activity / Security / Confidence projections. */
  def peopleSplits(refined: DataFrame): Map[String, DataFrame] = Map(
    "PersonalInfo" -> refined.select(col("tracker_id"), col("age"),
      col("gender"), col("carrying")),
    "Activity" -> refined.select(col("tracker_id"), col("first_detection"),
      col("last_detection"), col("duration_seconds"), col("frame_count")),
    "Security" -> refined.select(col("tracker_id"),
      col("entered_restricted_area"), col("restricted_area_entry_time")),
    "Confidence" -> refined.select(col("tracker_id"), col("confidence_avg")))

  /** Vehicle splits (`split_vehicle_data/split_vehicle.py:64-69`). */
  def vehicleSplits(refined: DataFrame): Map[String, DataFrame] = Map(
    "VehicleInfo" -> refined.select(col("tracker_id"), col("vehicle_type"),
      col("vehicle_color")),
    "Movement" -> refined.select(col("tracker_id"), col("avg_speed"),
      col("max_speed"), col("min_speed"), col("direction"),
      col("total_distance"), col("lane_changes")),
    "Violations" -> refined.select(col("tracker_id"),
      col("red_light_violation_count"), col("line_crossing_count")),
    "Confidence" -> refined.select(col("tracker_id"), col("confidence_avg")))

  /** Safety feature splits (`spilt_safety_data/split_safety.py:73-108`):
    * SafetyInfo / Violations / GearStatus / Summary projections of the
    * refined per-entity safety table ([[graft.enrich.Enrich.safety]]). */
  def safetySplits(refined: DataFrame): Map[String, DataFrame] = Map(
    "SafetyInfo" -> refined.select(col("tracker_id"), col("total_frames"),
      col("duration_frames"), col("bbox_count"), col("bbox_movement_estimate")),
    "Violations" -> refined.select(col("tracker_id"), col("hardhat_violations"),
      col("mask_violations"), col("safety_vest_violations"),
      col("total_unsafe_frames")),
    "GearStatus" -> refined.select(col("tracker_id"), col("hardhat"),
      col("mask"), col("safety_vest")),
    "Summary" -> refined.select(col("tracker_id"),
      col("initial_safety_status"), col("safety_status"),
      col("most_common_missing_item")))

  /** Safety split statistics blocks (`split_safety.py:128-150`), each a
    * one-row (or small distribution) aggregate with the reference's
    * zero defaults for empty inputs. */
  def safetyStats(refined: DataFrame): Map[String, DataFrame] = Map(
    "SafetyInfo" -> refined.agg(
      count(lit(1)).as("total_objects"),
      coalesce(avg(col("total_frames")), lit(0.0)).as("avg_total_frames"),
      coalesce(avg(col("bbox_movement_estimate")), lit(0.0))
        .as("avg_bbox_movement")),
    "Violations" -> refined.agg(
      coalesce(avg(col("hardhat_violations")), lit(0.0))
        .as("avg_hardhat_violations"),
      coalesce(avg(col("mask_violations")), lit(0.0)).as("avg_mask_violations"),
      coalesce(avg(col("safety_vest_violations")), lit(0.0))
        .as("avg_safety_vest_violations")),
    "GearStatus" -> refined.agg(
      sum(when(col("hardhat"), 1L).otherwise(0L)).as("hardhat_presence_count"),
      sum(when(col("mask"), 1L).otherwise(0L)).as("mask_presence_count"),
      sum(when(col("safety_vest"), 1L).otherwise(0L))
        .as("safety_vest_presence_count")),
    // the reference's Summary block holds two nested distributions
    "Summary/safety_status_distribution" ->
      distribution(refined, "safety_status"),
    "Summary/most_common_missing_item_distribution" ->
      distribution(refined, "most_common_missing_item"))

  /** Animal feature splits (`split_animal_data/split_animal.py:120-136`)
    * over the generic per-entity rollup
    * ([[graft.enrich.Enrich.genericEntity]]). */
  def animalSplits(refined: DataFrame, key: String = "animal_id")
      : Map[String, DataFrame] = Map(
    "AnimalInfo" -> refined.select(col(key), col("class_name")),
    "DetectionActivity" -> refined.select(col(key), col("first_detection"),
      col("last_detection"), col("duration_seconds"), col("frame_count")),
    "Confidence" -> refined.select(col(key), col("confidence_avg")))

  /** Animal split statistics (`split_animal.py:143-157`). The reference's
    * class_distribution is literally `{animal_id: 1}` per entity — a
    * singleton marker, reproduced faithfully. Its confidence stats run
    * over the per-entity averages it just computed. */
  def animalStats(refined: DataFrame, key: String = "animal_id")
      : Map[String, DataFrame] = Map(
    "AnimalInfo/class_distribution" ->
      refined.select(col(key)).withColumn("n", lit(1L)),
    "DetectionActivity" -> refined.agg(
      coalesce(sum(col("frame_count")), lit(0L)).as("total_frame_count"),
      coalesce(sum(col("duration_seconds")), lit(0.0))
        .as("total_duration_seconds"),
      coalesce(avg(col("duration_seconds")), lit(0.0))
        .as("avg_duration_seconds"),
      coalesce(avg(col("frame_count")), lit(0.0)).as("avg_frame_count")),
    "Confidence" -> confidenceSummary(refined, "confidence_avg"))

  /** avg/min/max summary with the reference splitters' zero defaults. */
  def confidenceSummary(df: DataFrame, c: String): DataFrame =
    df.agg(
      coalesce(avg(col(c)), lit(0.0)).as("avg_confidence"),
      coalesce(min(col(c)), lit(0.0)).as("min_confidence"),
      coalesce(max(col(c)), lit(0.0)).as("max_confidence"))

  /** Pose feature splits (`split_pose_data/split_pose.py:62-96`) over the
    * frame-grained pose table (frame_number, action, confidence). The
    * reference marks duration 0.033 s (~1/30 fps) on frames that START a
    * contiguous frame run — previous frame number absent — and 0
    * elsewhere, iterating rows in frame order; `videoCols` partitions
    * the run detection per video so it scales past one file. */
  def poseSplits(frames: DataFrame, videoCols: Seq[String] = Seq.empty)
      : Map[String, DataFrame] = {
    val keyCols: Seq[Column] = videoCols.map(col) :+ col("frame_number")
    val w =
      if (videoCols.isEmpty) Window.orderBy(col("frame_number"))
      else Window.partitionBy(videoCols.map(col): _*).orderBy(col("frame_number"))
    val runStart = col("frame_number") > 0 &&
      (lag(col("frame_number"), 1).over(w).isNull ||
        lag(col("frame_number"), 1).over(w) =!= col("frame_number") - 1)
    Map(
      "PoseInfo" -> frames.select(keyCols :+
        when(runStart, lit(0.033)).otherwise(lit(0.0)).as("duration_seconds"): _*),
      "Movement" -> frames.select(keyCols :+
        coalesce(col("action"), lit("Unknown")).as("action"): _*),
      "Confidence" -> frames.select(keyCols :+
        coalesce(col("confidence"), lit(0.0)).as("confidence"): _*))
  }

  /** Pose split statistics (`split_pose.py:103-117`). */
  def poseStats(frames: DataFrame, videoCols: Seq[String] = Seq.empty)
      : Map[String, DataFrame] = {
    val splits = poseSplits(frames, videoCols)
    Map(
      "PoseInfo" -> splits("PoseInfo").agg(
        count(lit(1)).as("total_frames"),
        coalesce(avg(col("duration_seconds")), lit(0.0))
          .as("avg_duration_seconds")),
      "Movement/action_distribution" ->
        distribution(splits("Movement"), "action"),
      "Confidence" -> confidenceSummary(splits("Confidence"), "confidence"))
  }

  /** Geolocation feature splits
    * (`split_geolocation_data/split_geolocation.py:73-99`) over the
    * frame-grained table (frame_number, latitude, longitude, bbox,
    * confidence, class_name). */
  def geolocationSplits(frames: DataFrame): Map[String, DataFrame] = Map(
    "Geolocation" -> frames.select(col("frame_number"), col("latitude"),
      col("longitude")),
    "BoundingBox" -> frames.select(col("frame_number"),
      try_element_at(col("bbox"), lit(1)).as("x1"),
      try_element_at(col("bbox"), lit(2)).as("y1"),
      try_element_at(col("bbox"), lit(3)).as("x2"),
      try_element_at(col("bbox"), lit(4)).as("y2")),
    "Confidence" -> frames.select(col("frame_number"), col("confidence")))

  /** Geolocation split statistics (`split_geolocation.py:105-117`). */
  def geolocationStats(frames: DataFrame): Map[String, DataFrame] = Map(
    "Geolocation" -> frames.agg(count(lit(1)).as("total_frames")),
    "BoundingBox/class_distribution" -> distribution(frames, "class_name"),
    "Confidence" -> confidenceSummary(frames, "confidence"))

  /** D11 statistics rollup: distribution of a categorical column. */
  def distribution(refined: DataFrame, column: String): DataFrame =
    refined.groupBy(col(column)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(column))

  /** D11 numeric summary: total/mean/min/max of a measure. */
  def numericSummary(refined: DataFrame, column: String): DataFrame =
    refined.agg(
      count(col(column)).as("n"),
      sum(col(column)).as("total"),
      avg(col(column)).as("mean"),
      min(col(column)).as("min"),
      max(col(column)).as("max"))

  /** D11 optional KMeans clustering over bbox centers
    * (`split_common_data/split_common.py:70-80`): k=2, fixed seed —
    * spark.ml, distributed. */
  def kmeansCenters(flat: DataFrame, k: Int = 2, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.VectorAssembler
    val points = flat.select(col("center_x"), col("center_y")).na.drop()
    val assembled = new VectorAssembler()
      .setInputCols(Array("center_x", "center_y")).setOutputCol("features")
      .transform(points)
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .fit(assembled)
    model.transform(assembled)
      .groupBy(col("prediction")).agg(
        count(lit(1)).as("n"),
        avg(col("center_x")).as("cx"),
        avg(col("center_y")).as("cy"))
      .orderBy(col("prediction"))
  }

  /** A12: the Kibana dashboard aggregations as Spark SQL — register the
    * refined tables as views and answer the canned query set
    * (`Documentations/create_vehicle_dashboard_steps.md` §1-5). */
  def registerServing(spark: SparkSession, refinedVehicle: DataFrame,
      refinedPeople: DataFrame): Unit = {
    refinedVehicle.createOrReplaceTempView("datalake_vehicle_data")
    refinedPeople.createOrReplaceTempView("datalake_people_data")
  }

  /** Kibana "Top 5 values of <field>" (terms agg). */
  def top5(spark: SparkSession, table: String, field: String): DataFrame =
    spark.sql(
      s"SELECT $field, count(*) AS n FROM $table GROUP BY $field " +
        s"ORDER BY n DESC, $field LIMIT 5")

  /** Kibana "max of avg_speed / max_speed per vehicle bucket". */
  def speedByVehicle(spark: SparkSession): DataFrame =
    spark.sql(
      """SELECT tracker_id, max(avg_speed) AS max_avg_speed,
                max(max_speed) AS max_max_speed
         FROM datalake_vehicle_data GROUP BY tracker_id
         ORDER BY max_avg_speed DESC""")

  /** D12 ES-record reshaping (`processing_vehicle.py:108-141`): the
    * three count/duration columns become booleans (counts DROPPED, as
    * the reference pops them), first/last detection become entry/exit
    * names, and the per-direction time map flattens into the scalar
    * `time_spent_per_direction_{Up,Down,Unknown}` fields of the ES
    * mapping (`Documentations/Vehicle_Dev_Tool.txt`). */
  def vehicleEsRecords(refined: DataFrame): DataFrame = {
    def dirSecs(k: String): Column =
      coalesce(try_element_at(col("time_spent_per_direction"), lit(k)),
        lit(0.0)).as(s"time_spent_per_direction_$k")
    refined.select(
      col("tracker_id").as("vehicle_id"),
      col("vehicle_type"),
      col("vehicle_color"),
      col("first_detection").as("entry_time"),
      col("last_detection").as("exit_time"),
      col("duration_seconds"),
      col("avg_speed"), col("max_speed"), col("min_speed"),
      (col("stopped_duration") > 0).as("stopped"),
      (col("red_light_violation_count") > 0).as("red_light_violation"),
      (col("line_crossing_count") > 0).as("line_crossing_violation"),
      dirSecs("Up"), dirSecs("Down"), dirSecs("Unknown"),
      col("confidence_avg"))
  }

  /** S8/D12 people ES records (`processing_people.py:57-64`): the
    * per-person map flattened with the key as `people_id`,
    * first/last detection renamed to entry/exit time; every other
    * refined field passes through untouched. */
  def peopleEsRecords(refined: DataFrame): DataFrame =
    refined
      .withColumnRenamed("tracker_id", "people_id")
      .withColumnRenamed("first_detection", "entry_time")
      .withColumnRenamed("last_detection", "exit_time")

  /** S8/D12 safety ES records (`processing_safety.py:122-137`):
    * frame-grained — one record per (frame, person), NOT the per-entity
    * rollup — with the reference's defaults: hardhat/safety_vest default
    * false, `wearing_mask` is PRESENCE (`mask is not None`), missing
    * arrays default empty. A pure projection: no shuffle at any scale. */
  def safetyEsRecords(detections: DataFrame): DataFrame = {
    def emptyLike(c: String): Column =
      array().cast(detections.schema(c).dataType)
    detections.select(
      col("frame_number"),
      col("tracker_id"),
      coalesce(col("hardhat"), lit(false)).as("wearing_hardhat"),
      col("mask").isNotNull.as("wearing_mask"),
      coalesce(col("safety_vest"), lit(false)).as("wearing_safety_vest"),
      col("safety_status"),
      coalesce(col("missing_items"), emptyLike("missing_items"))
        .as("missing_items"),
      coalesce(col("bbox"), emptyLike("bbox")).as("bbox"))
  }

  /** S8/D12 provenance stamp + pass-through for the STAMP-ONLY serving
    * domains: the reference's sender flattens each refined record and
    * prepends `{@timestamp, source_file, processing_date,
    * processing_version}` before indexing it
    * (`processing_animal.py:53-66`, `processing_geolocation.py:53-66`,
    * `processing_parkingLot.py:54-66`; for pose/common the same
    * `@timestamp` arrives via the `*_data_timestamp_pipeline` ES ingest
    * pipeline — equivalent semantics). Injectable clock for
    * deterministic verification, like [[graft.lake.Lake.stampIngest]]
    * (S9). A pure projection: no shuffle at any scale. */
  def stampedEsRecords(records: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame = {
    val ts: Column = fixedMicros
      .map(us => timestamp_micros(lit(us)))
      .getOrElse(current_timestamp())
    val stamp = Seq(
      ts.as("@timestamp"),
      lit(sourceFile).as("source_file"),
      date_format(ts, "yyyy-MM-dd").as("processing_date"),
      lit("v1.0").as("processing_version"))
    records.select(stamp ++ records.columns.map(col): _*)
  }

  /** S8 animal ES records (`processing_animal.py:53-66`): every refined
    * detection's fields pass through directly under the stamp. */
  def animalEsRecords(detections: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame =
    stampedEsRecords(detections, sourceFile, fixedMicros)

  /** S8 geolocation ES records (`processing_geolocation.py:53-66`):
    * identical pass-through-under-stamp shape. */
  def geolocationEsRecords(detections: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame =
    stampedEsRecords(detections, sourceFile, fixedMicros)

  /** S8 pose ES records (`processing_pose.py:40-48,70-80`): the sender
    * keeps exactly {frame_number, action, confidence, keypoints} per
    * frame; the ingest pipeline adds the timestamp. */
  def poseEsRecords(frames: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame =
    stampedEsRecords(
      frames.select(col("frame_number"), col("action"),
        col("confidence"), col("keypoints")),
      sourceFile, fixedMicros)

  /** S8 parking ES records (`processing_parkingLot.py:54-66`): the five
    * named slot-document fields — the nested state_transitions /
    * time_metrics structs travel as-is — under the stamp. Feed it
    * [[graft.enrich.Sessionization.slotDocuments]]. */
  def parkingEsRecords(slotDocs: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame =
    stampedEsRecords(
      slotDocs.select(col("slot_id"), col("slot_status"),
        col("state_transitions"), col("time_metrics"),
        col("parking_sessions")),
      sourceFile, fixedMicros)

  /** S8 common-detection ES records (`processing_common.py:74-84`): a
    * record that wraps its payload in `frame_data` is unwrapped first
    * (the reference's `record.get("frame_data", record)`), then
    * indexed as-is. */
  def commonEsRecords(records: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame = {
    val unwrapped =
      if (records.columns.contains("frame_data"))
        records.select(col("frame_data.*"))
      else records
    stampedEsRecords(unwrapped, sourceFile, fixedMicros)
  }

  /** S8 school-event ES records for `datalake-school-data`
    * (`school/advanced_preprocessing_school.py:57-88` builds the
    * per-event dict; `common.py:81-82` keys each uploaded document with
    * `detection_id = int(event_id)`; the `timestamp_pipeline` stamps
    * `@timestamp` — README.md:4-41 mapping). Feed it
    * [[graft.enrich.Enrich.school]]'s rollup; a pure projection over
    * it — no extra shuffle at any scale. */
  def schoolEsRecords(enriched: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame =
    stampedEsRecords(
      enriched
        .withColumn("detection_id", col("event_id").cast("int"))
        .drop("event_id"),
      sourceFile, fixedMicros)

  /** S8 retail ES records for `datalake-retail-data`
    * (`retail/advanced_preprocessing_retail.py:45-58` builds the
    * per-product dict — README.md:44-66 mapping). The reference's
    * uploader calls `int(detection_id_str)` on the product key
    * (`common.py:82`), which raises on non-numeric ids like "p3" and
    * silently aborts the upload — PARITY fix: derive the numeric id
    * from the product key instead. Feed it
    * [[graft.enrich.Enrich.retail]]'s rollup. */
  def retailEsRecords(enriched: DataFrame, sourceFile: String,
      fixedMicros: Option[Long] = None): DataFrame =
    stampedEsRecords(
      enriched
        .withColumn("detection_id",
          regexp_replace(col("product_id"), "[^0-9]", "").cast("int"))
        .drop("product_id"),
      sourceFile, fixedMicros)

  /** D12 legacy vehicle majority-vote flattening
    * (`processing_vehicle.py:31-77`): per-tracker mode of each
    * categorical attribute with Python's Counter/`max` first-seen
    * tie-break, plus zero-defaulted average confidence/speed;
    * detections without a tracker_id are skipped (lines 44-46).
    *
    * Plan shape: one hash exchange on tracker_id, which ships the
    * detections. A window over the tracker takes the two averages
    * (adding the rows in the order a hash aggregate would), then one
    * aggregate collects each tracker's attributes once and takes the
    * five modes from that array ([[graft.enrich.Enrich.modeOf]]). */
  def vehicleLegacyRecords(detections: DataFrame): DataFrame = {
    import graft.enrich.Enrich
    val attrs = Seq("class_id", "vehicle_type", "vehicle_color",
      "vehicle_direction", "vehicle_lane")
    val tracker = Window.partitionBy(col("tracker_id"))
    val valid = detections.filter(col("tracker_id").isNotNull).select(col("*"),
      avg(col("confidence")).over(tracker).as("_confidence_avg"),
      avg(col("vehicle_speed")).over(tracker).as("_speed_avg"))
    // bound to `valid`: by name, inside a higher-order function's
    // argument, an attribute would resolve to the output alias of its mode
    val seen = collect_list(struct(valid("frame_number").as("f") +: attrs.map(valid(_)): _*))
    val modes = attrs.map(a => Enrich.modeOf(
      transform(seen, r => struct(r.getField(a).as("v"), r.getField("f").as("f")))).as(a))
    valid.groupBy(col("tracker_id")).agg(modes.head, modes.tail ++ Seq(
      coalesce(first(col("_confidence_avg")), lit(0.0)).as("average_confidence"),
      coalesce(first(col("_speed_avg")), lit(0.0)).as("average_speed")): _*)
  }
}
