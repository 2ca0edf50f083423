package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced preprocessing ("enrich"): flattened detection rows →
  * per-entity summary records (SURVEY.md §2.8 output schemas).
  *
  * The reference collects every entity's arrays to the driver and loops
  * in Python (`advanced_preprocessing.py:111-148`, D1-D9). Here each
  * metric is a window function or native aggregate over
  * `partitionBy(entity).orderBy(frame_number)`; scales with executors,
  * not driver memory.
  *
  * Each record is one entity aggregate with no join, so it plans one
  * hash exchange on the entity key: the window columns' exchange, which
  * the aggregate reads without another (vehicle, safety, school, and
  * people's and the legacy vehicle view's one key window), or the
  * aggregate's own (the generic and retail records). A mode
  * ([[modeOf]]), vehicle's time per direction and school's alert-level
  * distribution are expressions over arrays the aggregate collects, so
  * that exchange ships the entity's rows (people: every row, where two
  * aggregates each used to ship partial (entity, value) counts). A
  * record is a row set: no `orderBy`, so no range exchange and no
  * sampling job. The JSON sinks, which collect to the driver anyway,
  * put the rows in key order ([[graft.lake.Lake.writeJsonArray]]).
  *
  * Collecting makes the aggregate an `ObjectHashAggregate`, which falls
  * back to sort-based aggregation above 128 keys per task
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) and
  * then adds a key's later rows before its earlier ones. Collected
  * arrays do not mind (every use sorts or counts them), but a double
  * `sum`/`avg` would round differently. Vehicle and school aggregated
  * their doubles beside a `collect_list` before, with the same input
  * order, so they keep them in the aggregate. People's average and
  * safety's movement sum, which a plain hash aggregate added in row
  * order, are window aggregates over the entity instead: the window
  * adds the rows in the order the hash aggregate did.
  *
  * Window columns are added one projection per dependency layer
  * ([[layer]]), not one `withColumn` each: every `withColumn` re-analyzes
  * the plan under it and adds a `Window` operator per window column, so
  * the chained vehicle record analyzed to 282 nodes with 37 `Window`s,
  * and building and optimizing it took the driver about 160 ms per
  * upload on a 4-vCPU VM (about 70 ms as layers).
  */
object Enrich {

  /** P4: valid-tracker filter. */
  def validEntities(key: String)(df: DataFrame): DataFrame =
    df.filter(col(key).isNotNull && col(key) =!= -1)

  /** `df` plus `cols` (name → expression), appended in order in one
    * projection. The columns of one call may not read each other: a
    * column that reads another goes in the next call. */
  private def layer(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.select(col("*") +: cols.map { case (n, c) => c.as(n) }: _*)

  private def w(key: String) =
    Window.partitionBy(col(key)).orderBy(col("frame_number"))

  private def wFull(key: String) =
    w(key).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** Seconds-valued event time: the parsed `timestamp` when present,
    * else frame_number (1 fps fallback, documented deviation). */
  private def tsSec(df: DataFrame): Column =
    if (df.columns.contains("timestamp"))
      col("timestamp").cast("double")
    else col("frame_number").cast("double")

  /** The aggregate's (value, frame_number) pairs, `v` and `f`, of the
    * rows where `keep` holds: what [[modeOf]] reads. */
  private def pairs(value: Column, keep: Column = lit(true)): Column =
    collect_list(when(keep, struct(value.as("v"), col("frame_number").as("f"))))

  /** [[pairs]] of an array column: one per element, with its row's
    * frame, as `explode` would give them. */
  private def elementPairs(values: Column): Column =
    flatten(collect_list(
      transform(values, v => struct(v.as("v"), col("frame_number").as("f")))))

  /** D1: Counter-compatible mode of collected [[pairs]], null values
    * left out — count desc, first frame seen asc (nulls first), value
    * asc (Python's `Counter.most_common(1)` returns the first-inserted
    * key among ties; the value pins ties where two values first appear
    * in the same frame). Null when no value is set.
    *
    * One scan of the pairs sorted by (value, frame): each value's pairs
    * are then one run, whose first set frame is its least, and a
    * finished run replaces the best one only when it beats it, so of two
    * equal runs the lesser value stays. For n pairs that is the sort's
    * O(n log n) plus one pass, whatever the number of values. */
  def modeOf(ps: Column): Column = {
    val sorted = sort_array(filter(ps, _.getField("v").isNotNull))
    // the scan's state: the best finished run (b*) and the current run
    // (c*), each a value, its count and its least frame
    def state(bv: Column, bn: Column, bf: Column, cv: Column, cn: Column, cf: Column) =
      struct(bv.as("bv"), bn.as("bn"), bf.as("bf"), cv.as("cv"), cn.as("cn"), cf.as("cf"))
    def curWins(s: Column): Column = {
      val (bn, bf, cn, cf) = (s.getField("bn"), s.getField("bf"), s.getField("cn"), s.getField("cf"))
      cn > bn || (cn === bn && ((cf.isNull && bf.isNotNull) || coalesce(cf < bf, lit(false))))
    }
    def pick(s: Column, field: String): Column =
      when(curWins(s), s.getField("c" + field)).otherwise(s.getField("b" + field))
    // no pair yet: null value and frame, typed like the pairs'
    val none = when(lit(false), try_element_at(ps, lit(1)))
    val (nv, nf) = (none.getField("v"), none.getField("f"))
    aggregate(sorted, state(nv, lit(0L), nf, nv, lit(0L), nf), (s, p) =>
      when(s.getField("cv") === p.getField("v"),
        state(s.getField("bv"), s.getField("bn"), s.getField("bf"), s.getField("cv"),
          s.getField("cn") + 1, coalesce(s.getField("cf"), p.getField("f"))))
        .otherwise(state(pick(s, "v"), pick(s, "n"), pick(s, "f"),
          p.getField("v"), lit(1L), p.getField("f"))),
      s => pick(s, "v"))
  }

  /** `total` of each value's entries, as a map in value order: the
    * entries' field `v` is the value (a null one too, as `groupBy`
    * keeps it). O(n·d) for n entries of d values: each value filters
    * the entries once. */
  private def perValue(entries: Column)(total: Column => Column): Column =
    map_from_entries(transform(
      sort_array(array_distinct(transform(entries, _.getField("v")))),
      k => struct(k, total(filter(entries, _.getField("v") <=> k)))))

  /** Frame-order-pinned first non-null attribute per entity: unlike a
    * bare `first(_, ignoreNulls)` over an unordered groupBy (whatever
    * partition finishes first wins), this is deterministic under ANY
    * repartitioning — the same pinning `vehicle` uses. The window
    * columns share one partitioning with the subsequent groupBy on the
    * same key, so pinning adds no extra shuffle. */
  private def pinnedFirst(key: String, c: String): Column =
    first(col(c), ignoreNulls = true).over(wFull(key))

  /** D2: sequential change count of `c` per entity in frame order. */
  private def changes(key: String, c: String): Column =
    sum(when(lag(col(c), 1).over(w(key)).isNotNull &&
      lag(col(c), 1).over(w(key)) =!= col(c), 1).otherwise(0))
      .over(wFull(key))

  /** Vehicle per-entity record (SURVEY §2.8 Vehicle,
    * `advanced_preprocessing_vehicle.py:55-170`). */
  def vehicle(flat: DataFrame): DataFrame = {
    val key = "tracker_id"
    val df = validEntities(key)(flat)
    val windowed = layer(df,
      "_ts" -> tsSec(df),
      "_prev_cx" -> lag(col("center_x"), 1).over(w(key)),
      "_prev_cy" -> lag(col("center_y"), 1).over(w(key)),
      "_lane_changes" -> changes(key, "lane"),
      "_dir_changes" -> changes(key, "direction"),
      "_first_type" -> first(col("class_name"), ignoreNulls = true).over(wFull(key)),
      "_first_color" -> first(col("vehicle_color"), ignoreNulls = true).over(wFull(key)),
      "_initial_lane" -> first(col("lane"), ignoreNulls = true).over(wFull(key)),
      "_final_lane" -> last(col("lane"), ignoreNulls = true).over(wFull(key)),
      "_final_dir" -> last(col("direction"), ignoreNulls = true).over(wFull(key)))
    val deltas = layer(windowed,
      "_next_ts" -> lead(col("_ts"), 1).over(w(key)),
      "_dx" -> (col("center_x") - col("_prev_cx")),
      "_dy" -> (col("center_y") - col("_prev_cy")))
    val stepped = layer(deltas,
      "_held" -> (col("_next_ts") - col("_ts")),
      "_step_dist" -> sqrt(col("_dx") * col("_dx") + col("_dy") * col("_dy")),
      "_angle" -> when(col("_prev_cx").isNotNull, degrees(atan2(col("_dy"), col("_dx")))))
    // the held intervals; `direction` is bound to `stepped`: by name,
    // inside a higher-order function's argument, it would resolve to
    // the output alias of that name
    val held = collect_list(when(col("_held").isNotNull, struct(
      col("frame_number").as("f"), stepped("direction").as("v"), col("_held").as("x"))))
    stepped.groupBy(col(key)).agg(
      first(col("_first_type"), ignoreNulls = true).as("vehicle_type"),
      first(col("_first_color"), ignoreNulls = true).as("vehicle_color"),
      avg(col("confidence")).as("confidence_avg"),
      min(col("_ts")).as("first_detection"),
      max(col("_ts")).as("last_detection"),
      (max(col("_ts")) - min(col("_ts"))).as("duration_seconds"),
      sum(when(col("stopped") && col("_held").isNotNull, col("_held"))
        .otherwise(0.0)).as("stopped_duration"),
      count(lit(1)).as("frame_count"),
      avg(col("speed")).as("avg_speed"),
      max(col("speed")).as("max_speed"),
      min(col("speed")).as("min_speed"),
      coalesce(stddev_samp(col("speed")), lit(0.0)).as("speed_variation"),
      max(col("_lane_changes")).as("lane_changes"),
      first(col("_initial_lane"), ignoreNulls = true).as("initial_lane"),
      first(col("_final_lane"), ignoreNulls = true).as("final_lane"),
      (max(col("_lane_changes")) / count(lit(1))).as("lane_change_frequency"),
      sum(when(col("line_crossing"), 1).otherwise(0)).as("line_crossing_count"),
      first(col("_final_dir"), ignoreNulls = true).as("direction"),
      max(col("_dir_changes")).as("direction_changes"),
      sum(when(col("red_light_violation"), 1).otherwise(0)).as("red_light_violation_count"),
      sum(coalesce(col("_step_dist"), lit(0.0))).as("total_distance"),
      modeOf(pairs(col("lane"))).as("most_common_lane"),
      // each direction's intervals added in frame order, the order in
      // which a sum per (entity, direction) over the windowed rows adds
      // them; null, not {}, for an entity without a held interval
      when(size(held) > 0, perValue(held)(es =>
        aggregate(sort_array(es), lit(0.0), (acc, e) => acc + e.getField("x"))))
        .as("time_spent_per_direction"),
      // null, not [], for an entity without angle rows
      when(count(col("_angle")) > 0, expr(
        "transform(sort_array(collect_list(CASE WHEN _angle IS NOT NULL " +
          "THEN struct(frame_number, _angle) END)), p -> p._angle)"))
        .as("movement_angles"),
      avg(col("_angle")).as("avg_movement_angle"))
  }

  /** People per-entity record (SURVEY §2.8 People,
    * `advanced_preprocessing_people.py:16-33,113-148`). */
  def people(flat: DataFrame): DataFrame = {
    val key = "tracker_id"
    // a window average, not one in the object aggregate: see the object doc
    val df = layer(validEntities(key)(flat), "_ts" -> tsSec(flat),
      "_confidence_avg" -> avg(col("confidence")).over(Window.partitionBy(col(key))))
    // D1 modes excluding ""/"Unknown" (reference filters before Counter);
    // when everything is filtered out the reference's get_most_frequent
    // returns "Unknown" (0 for the numeric age) — coalesce to match
    df.groupBy(col(key)).agg(
      coalesce(modeOf(pairs(col("age"), col("age") =!= 0)), lit(0L)).as("age"),
      coalesce(modeOf(pairs(col("gender"), !col("gender").isin("", "Unknown"))),
        lit("Unknown")).as("gender"),
      coalesce(modeOf(pairs(col("carrying"), !col("carrying").isin("", "Unknown"))),
        lit("Unknown")).as("carrying"),
      first(col("_confidence_avg")).as("confidence_avg"),
      // P11 boolean coalesce chain + D8 any-true
      (max(when(coalesce(col("in_restricted_area"),
        col("entered_restricted"), lit(false)), 1).otherwise(0)) === 1)
        .as("entered_restricted_area"),
      // D6 first matching timestamp
      min(when(col("in_restricted_area"), col("_ts"))).as("restricted_area_entry_time"),
      min(col("_ts")).as("first_detection"),
      max(col("_ts")).as("last_detection"),
      (max(col("_ts")) - min(col("_ts"))).as("duration_seconds"),
      count(lit(1)).as("frame_count"))
  }

  /** Safety per-entity record (SURVEY §2.8 Safety, D8 resolution,
    * `advanced_preprocessing_safety.py:40-97`). */
  def safety(flat: DataFrame): DataFrame = {
    val key = "tracker_id"
    val df = layer(validEntities(key)(flat),
      "_first_status" -> first(col("safety_status"), ignoreNulls = true).over(wFull(key)),
      "_pcx" -> lag(col("center_x"), 1).over(w(key)),
      "_pcy" -> lag(col("center_y"), 1).over(w(key)))
    // a window sum, not one in the object aggregate: see the object doc
    val moved = layer(df, "_movement" -> sum(coalesce(sqrt(
      pow(col("center_x") - col("_pcx"), 2) + pow(col("center_y") - col("_pcy"), 2)),
      lit(0.0))).over(wFull(key)))
    moved.groupBy(col(key)).agg(
      first(col("_first_status"), ignoreNulls = true).as("initial_safety_status"),
      // "Safe" if ever safe, else "Unsafe" (D8)
      when(max(when(col("safety_status") === "Safe", 1).otherwise(0)) === 1, "Safe")
        .otherwise("Unsafe").as("safety_status"),
      (max(when(col("hardhat"), 1).otherwise(0)) === 1).as("hardhat"),
      (max(when(col("mask"), 1).otherwise(0)) === 1).as("mask"),
      (max(when(col("safety_vest"), 1).otherwise(0)) === 1).as("safety_vest"),
      count(lit(1)).as("total_frames"),
      (max(col("frame_number")) - min(col("frame_number"))).as("duration_frames"),
      sum(when(!col("hardhat"), 1).otherwise(0)).as("hardhat_violations"),
      sum(when(!col("mask"), 1).otherwise(0)).as("mask_violations"),
      sum(when(!col("safety_vest"), 1).otherwise(0)).as("safety_vest_violations"),
      sum(when(col("safety_status") === "Unsafe", 1).otherwise(0)).as("total_unsafe_frames"),
      count(col("bbox")).as("bbox_count"),
      modeOf(elementPairs(col("missing_items"))).as("most_common_missing_item"),
      first(col("_movement")).as("bbox_movement_estimate"))
  }

  /** Animal/common per-entity record (SURVEY §2.8 Animal/Common,
    * `advanced_preprocessing_animal.py:30-82` — implementing the evident
    * intent; the reference's dotted-name/missing-return bugs are fixed,
    * SURVEY §7.4 item 3). */
  def genericEntity(key: String)(flat: DataFrame): DataFrame = {
    val df = layer(flat.filter(col(key).isNotNull),
      "_ts" -> tsSec(flat), "_class_name" -> pinnedFirst(key, "class_name"))
    df.groupBy(col(key)).agg(
      first(col("_class_name"), ignoreNulls = true).as("class_name"),
      avg(col("confidence")).as("confidence_avg"),
      min(col("_ts")).as("first_detection"),
      max(col("_ts")).as("last_detection"),
      (max(col("_ts")) - min(col("_ts"))).as("duration_seconds"),
      count(lit(1)).as("frame_count"),
      expr("transform(sort_array(collect_list(struct(frame_number, bbox))), p -> p.bbox)")
        .as("bbox_list"),
      sort_array(collect_list(col("frame_number"))).as("frame_numbers"))
  }

  /** School per-event record (SURVEY §2.8 School event,
    * `school/advanced_preprocessing_school.py:41-88`). */
  def school(flat: DataFrame): DataFrame = {
    val key = "event_id"
    val df = layer(flat.filter(col(key).isNotNull)
      // per-detection event duration; renamed so it can't collide with
      // the output's entity-level duration_seconds
      .withColumnRenamed("duration_seconds", "duration_seconds_det"),
      "_ts" -> tsSec(flat),
      "_event_type" -> pinnedFirst(key, "event_type"),
      "_location" -> pinnedFirst(key, "location"),
      "_notes" -> pinnedFirst(key, "notes"))
    val levels = pairs(col("alert_level"))
    df.groupBy(col(key)).agg(
      first(col("_event_type"), ignoreNulls = true).as("event_type"),
      first(col("_location"), ignoreNulls = true).as("location"),
      first(col("_notes"), ignoreNulls = true).as("notes"),
      min(col("_ts")).as("start_time"),
      max(col("_ts")).as("end_time"),
      (max(col("_ts")) - min(col("_ts"))).as("duration_seconds"),
      count(lit(1)).as("frame_occurrences"),
      avg(col("confidence")).as("avg_confidence"),
      avg(col("duration_seconds_det")).as("avg_event_duration"),
      coalesce(stddev_samp(col("duration_seconds_det")), lit(0.0)).as("event_duration_stddev"),
      (max(when(col("response_required"), 1).otherwise(0)) === 1).as("response_required"),
      sort_array(array_distinct(collect_list(col("involved_person_id")))).as("involved_persons"),
      sort_array(array_distinct(flatten(collect_list(col("person_roles"))))).as("unique_roles"),
      (max(when(col("multiple_persons_involved"), 1).otherwise(0)) === 1)
        .as("multiple_persons_involved"),
      modeOf(levels).as("most_common_alert_level"),
      modeOf(elementPairs(col("person_roles"))).as("most_common_role"),
      perValue(levels)(size(_).cast("long")).as("alert_level_distribution"))
  }

  /** D10 entity-map document assembly: the refined single-document
    * layout the reference writes to the refine zone — entities keyed by
    * id (sorted), wrapped with provenance
    * (`advanced_preprocessing.py:112-120`, S4 sink shape). The clock is
    * injectable for determinism (SURVEY §7.4 item 1). */
  def assembleDocument(refined: DataFrame, idCol: String, sourceFile: String,
      processingDateIso: String, version: String = "1.0"): DataFrame = {
    val payload = struct(refined.columns.filter(_ != idCol).map(col): _*)
    refined
      .select(col(idCol).cast("string").as("_k"), payload.as("_v"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("_k"), col("_v")))))
        .as("entities"))
      .withColumn("source_file", lit(sourceFile))
      .withColumn("processing_date", lit(processingDateIso))
      .withColumn("processing_version", lit(version))
  }

  /** Retail per-product record (SURVEY §2.8 Retail,
    * `retail/advanced_preprocessing_retail.py:34-58`). */
  def retail(flat: DataFrame): DataFrame = {
    val key = "product_id"
    layer(flat.filter(col(key).isNotNull),
      "_product_name" -> pinnedFirst(key, "product_name"),
      "_category" -> pinnedFirst(key, "category"),
      "_location" -> pinnedFirst(key, "location"))
      .groupBy(col(key)).agg(
        first(col("_product_name"), ignoreNulls = true).as("product_name"),
        first(col("_category"), ignoreNulls = true).as("category"),
        first(col("_location"), ignoreNulls = true).as("location"),
        avg(col("price")).as("average_price"),
        avg(col("stock_level")).as("average_stock_level"),
        (max(when(col("picked_by_customer"), 1).otherwise(0)) === 1).as("picked_by_customer"),
        sort_array(array_distinct(collect_list(col("expiry_date")))).as("unique_expiry_dates"),
        count(col("frame_number")).as("frame_appearances"))
  }
}
