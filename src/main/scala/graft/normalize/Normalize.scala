package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.DomainConfig

/** Basic preprocessing ("normalize"): raw detection JSON → clean
  * frame-grained rows with one detection per row, then a deterministic
  * regroup back to frame documents.
  *
  * One generic, config-driven pipeline of composable stages replaces the
  * reference's ten near-identical per-domain processors
  * (`Preprocess_Json_Data/preprocessing/basic_preprocessing_*.py`). Every
  * stage is a narrow transformation (no shuffle) and one projection, so
  * the flattened plan stays a short chain however many columns a domain
  * renames, fills or parses. The final frame regroup adds one hash
  * exchange on the frame key, for its aggregate. Its frames are a row
  * set: the processed JSON sink puts them in [[frameKeys]] order
  * ([[graft.lake.Lake.writeWrappedJson]]), which costs no exchange
  * there, where an `orderBy` here cost a range exchange and the
  * sampling job of its bounds. The whole pipeline is a single Catalyst
  * plan, codegen'd end to end, with no collect() on the data path
  * (reference boundary #3 eliminated).
  */
object Normalize {

  /** Unwrap a wrapped document (people/parking layouts): explode the
    * `frame_detections` array and lift its fields to the top level.
    * Reference: `basic_preprocessing_people.py:32`,
    * `basic_preprocessing_parkingLot.py:24-25` (G2 two-level explode). */
  def unwrap(df: DataFrame): DataFrame = {
    if (!df.columns.contains("frame_detections")) df
    else {
      val carried = df.columns.filter(_ != "frame_detections").map(col)
      val exploded = df.select(carried :+ explode(col("frame_detections")).as("frame"): _*)
      val frameFields = exploded.schema("frame").dataType
        .asInstanceOf[StructType].fieldNames
      exploded.select(carried ++ frameFields.map(f => col(s"frame.$f").as(f)): _*)
    }
  }

  /** Explode the detection array (outer: empty frames survive as a null
    * detection and are restored to `[]` at regroup — the reference needs
    * a separate all-frames join for this, J1). G1/G3. */
  def explodeDetections(cfg: DomainConfig)(df: DataFrame): DataFrame = {
    if (cfg.detectionsCol.isEmpty || !df.columns.contains(cfg.detectionsCol)) df
    else {
      val others = df.columns.filter(_ != cfg.detectionsCol).map(col)
      val exploded = df.select(others :+ explode_outer(col(cfg.detectionsCol)).as("detection"): _*)
      val detFields = exploded.schema("detection").dataType match {
        case s: StructType => s.fieldNames.toSeq
        case _ => Seq.empty
      }
      // P1 nested projection; frame-level fields win name collisions
      val topLevel = exploded.columns.filter(_ != "detection").toSet
      val detCols = detFields.filterNot(topLevel.contains)
        .map(f => col(s"detection.$f").as(f))
      exploded.select(others ++ detCols :+ col("detection").isNull.as("_empty_frame"): _*)
    }
  }

  /** `df` with `cols` set in one projection: a name `df` already has is
    * replaced where it stands, a new one is appended in `cols`' order —
    * what a chain of `withColumn` calls gives, in one plan node. */
  private def withOrdered(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    if (cols.isEmpty) df
    else {
      val byName = cols.toMap
      val present = df.columns.toSet
      df.select(df.columns.map(c => byName.get(c).fold(col(c))(_.as(c))) ++
        cols.collect { case (n, c) if !present(n) => c.as(n) }: _*)
    }

  /** P3 rename normalization (only renames columns actually present),
    * in place, in one projection. */
  def rename(cfg: DomainConfig)(df: DataFrame): DataFrame =
    if (!df.columns.exists(cfg.renames.contains)) df
    else df.select(df.columns.map(c => cfg.renames.get(c).fold(col(c))(col(c).as(_))): _*)

  /** P8 null-safe trim over every string column. */
  def trimStrings(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields
      .collect { case StructField(n, StringType, _, _) => n }.toSet
    df.select(df.columns.map { c =>
      if (stringCols(c)) when(col(c).isNotNull, trim(col(c))).as(c) else col(c)
    }: _*)
  }

  /** P9 default fill: coalesce(col, lit(default).cast(type)); adds the
    * column as a typed literal when missing entirely (the reference's
    * validate_schema, `preprocessing/common.py:6-35`). */
  def fillDefaults(cfg: DomainConfig)(df: DataFrame): DataFrame =
    withOrdered(df, cfg.defaults.toSeq.map { case (c, (v, tpe)) =>
      c -> (if (df.columns.contains(c)) coalesce(col(c), lit(v).cast(tpe))
        else lit(v).cast(tpe))
    })

  /** F1-F3: strip "+05:30" / " UTC" suffixes then parse
    * "yyyy-MM-dd HH:mm:ss" strings to timestamps. Non-string timestamp
    * columns pass through. */
  def parseTimestamps(cfg: DomainConfig)(df: DataFrame): DataFrame =
    withOrdered(df, cfg.timestampCols
      .filter(c => df.columns.contains(c) && df.schema(c).dataType == StringType).map { c =>
        val stripped = regexp_replace(
          regexp_replace(col(c), "\\+05:30$", ""), " UTC$", "")
        // try_to_timestamp: malformed strings become null (reference
        // LEGACY-parser behavior) instead of an ANSI error
        c -> try_to_timestamp(stripped, lit("yyyy-MM-dd HH:mm:ss"))
      })

  /** F4/F5: bbox [x1,y1,x2,y2] → typed scalar columns + center point.
    * (The reference's dotted `bbox.center_x` column name is a bug we fix:
    * SURVEY §7.4 item 3 — semantics preserved, naming sane.) */
  def expandBbox(df: DataFrame): DataFrame = {
    if (!df.columns.contains("bbox")) df
    else {
      val b = col("bbox").cast(ArrayType(DoubleType))
      // try_element_at, not getItem: under Spark 4's default ANSI mode a
      // truncated bbox (PERMISSIVE reads admit them) would otherwise
      // abort the whole job instead of yielding nulls like the reference
      def el(i: Int) = try_element_at(b, lit(i))
      withOrdered(df, Seq(
        "bbox" -> b,
        "bbox_x1" -> el(1),
        "bbox_y1" -> el(2),
        "bbox_x2" -> el(3),
        "bbox_y2" -> el(4),
        "center_x" -> (el(1) + el(3)) / 2,
        "center_y" -> (el(2) + el(4)) / 2))
    }
  }

  /** F6: synthesized stable id for untracked detections — spatial 10px
    * bucket of the center (`advanced_preprocessing_animal.py:18-28`). */
  def synthesizeId(cfg: DomainConfig)(df: DataFrame): DataFrame =
    cfg.entityKey match {
      case Some(key) if cfg.synthesizeId && !df.columns.contains(key) =>
        df.withColumn(key, concat(
          coalesce(col("class_name"), lit("unknown")), lit("_"),
          floor(col("center_x") / 10).cast("int"), lit("_"),
          floor(col("center_y") / 10).cast("int")))
      case _ => df
    }

  /** The full flattening half of the pipeline: raw → one row per
    * detection (or per frame when the frame was empty). */
  def flatten(cfg: DomainConfig)(df: DataFrame): DataFrame = {
    val stages: Seq[DataFrame => DataFrame] = Seq(
      unwrap _,
      explodeDetections(cfg),
      rename(cfg),
      trimStrings _,
      fillDefaults(cfg),
      parseTimestamps(cfg),
      expandBbox _,
      synthesizeId(cfg))
    stages.foldLeft(df)((d, f) => f(d))
  }

  /** The frame-level columns of `cfg` that `df` has: the key a frame
    * regroup groups by, and the order of its frames. */
  def frameKeys(cfg: DomainConfig, df: DataFrame): Seq[String] =
    cfg.frameCols.filter(df.columns.contains)

  /** A1/A2 deterministic frame regroup: rebuild the detection struct
    * (F7) and collect per frame, ordered by a sequence key inside
    * sort_array — the reference's bare collect_list order is an accident
    * of single-partition locality (SURVEY §2.5 A1). Empty frames get
    * `[]` back (J1 semantics without the extra join). The frames come
    * in no order; order them by [[frameKeys]]. */
  def regroupByFrame(cfg: DomainConfig, detectionFields: Seq[String])(df: DataFrame): DataFrame = {
    val present = detectionFields.filter(df.columns.contains)
    val withFlag = if (df.columns.contains("_empty_frame")) df
      else df.withColumn("_empty_frame", lit(false))
    val det = struct(present.map(col): _*)
    // sort_array orders structs field-by-field — content-based, hence
    // deterministic under any partitioning (collect_list alone is not);
    // the when() maps empty frames to null, which collect_list drops,
    // restoring `[]` without the reference's extra all-frames join.
    withFlag.groupBy(frameKeys(cfg, df).map(col): _*)
      .agg(sort_array(collect_list(when(!col("_empty_frame"), det))).as("detections"))
  }
}
