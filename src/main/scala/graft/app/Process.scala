package graft.app

import org.apache.spark.sql.DataFrame
import graft.core.Sessions
import graft.enrich.{Enrich, Sessionization}
import graft.lake.Lake
import graft.normalize.Normalize
import graft.schema.DomainConfig

/** Thin CLI replacing the reference's Flask/Streamlit orchestration
  * (lifecycle SURVEY.md §3.1 steps 2-6, one SparkSession, no HTTP):
  *
  *   runMain graft.app.Process <domain> <rawJsonFile> <lakeRoot>
  *
  * raw JSON → normalize → processed zone (wrapped JSON parity copy +
  * parquet zone table) → enrich → refine zone (JSON + parquet).
  */
object Process {

  def enrichFor(domain: String, flat: DataFrame, frames: DataFrame): Option[DataFrame] =
    domain match {
      case "vehicle" => Some(Enrich.vehicle(flat))
      case "people" => Some(Enrich.people(flat))
      case "safety" => Some(Enrich.safety(flat))
      case "animal" => Some(Enrich.genericEntity("animal_id")(flat))
      case "common" => Some(Enrich.genericEntity("object_id")(flat))
      case "school" => Some(Enrich.school(flat))
      case "retail" => Some(Enrich.retail(flat))
      case "parking" => Some(Sessionization(frames))
      case _ => None // pose/geolocation: pass-through (main.py:284)
    }

  def main(args: Array[String]): Unit = {
    val Array(domain, rawFile, root) = args.take(3)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    run(spark, domain, rawFile, root)
    spark.stop()
  }

  /** The whole per-upload lifecycle, session provided by the caller
    * (so tests can drive it on the shared session).
    *
    * Each upload parses its raw document once and computes its refined
    * frame once: the parsed, corrupt-filtered document is persisted for
    * every sink that derives from it (released in `finally`, also when
    * a sink throws), and the refined frame is materialized with
    * `localCheckpoint`, which keeps its coalesced partitioning, so its
    * JSON sink and its zone table read one result. The report lines
    * print the row counts the JSON sinks wrote instead of re-counting. */
  def run(spark: org.apache.spark.sql.SparkSession, domain: String,
      rawFile: String, root: String): Unit = {
    import org.apache.spark.sql.functions.col
    val cfg = DomainConfig.byName(domain)
    val lake = Lake(spark, root)
    val fileName = new java.io.File(rawFile).getName

    // domains with a registered explicit schema skip the JSON
    // inference pre-pass (2× I/O); malformed documents land whole in
    // _corrupt_record and are quarantined here rather than flowing
    // into the zone tables (a production pipeline would sink them to
    // a quarantine prefix for replay)
    val raw0 = lake.readJsonArray(rawFile,
      graft.schema.DomainSchemas.byName.get(domain))
    val raw =
      (if (raw0.columns.contains("_corrupt_record"))
        raw0.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      else raw0).persist()
    try {
      val frames = Normalize.unwrap(raw)
      // parking's dynamic-key slots struct flattens via the map coercion,
      // not the generic detection explode
      val flat =
        if (domain == "parking") Sessionization.explodeSlots(frames)
        else Normalize.flatten(cfg)(raw)

      // processed zone: parity JSON + scale-path parquet
      val grouped =
        if (domain == "parking") frames
        else {
          val detectionFields = flat.columns.filterNot(c =>
            cfg.frameCols.contains(c) || c == "_empty_frame").toSeq
          Normalize.regroupByFrame(cfg, detectionFields)(flat)
        }
      val framesWritten = lake.writeWrappedJson(grouped, "frame_detections",
        s"${lake.zonePath("processed", domain)}/preprocessed_$fileName")
      lake.writeZoneTable(flat.drop("_empty_frame"), "processed", domain, fileName)

      // refine zone: per-entity records
      enrichFor(domain, flat, frames).foreach { enriched =>
        val refined = enriched.localCheckpoint()
        val entities = lake.writeJsonArray(refined,
          s"${lake.zonePath("refine", domain)}/refine_$fileName")
        lake.writeZoneTable(refined, "refine", domain, fileName)
        if (domain == "parking")
          lake.writeJsonArray(Sessionization.configSummary(flat),
            s"${lake.zonePath("refine", domain)}/parking_config_$fileName")
        println(s"[graft] $domain: $entities refined entities")
      }
      println(s"[graft] $domain: $framesWritten frames processed")
    } finally raw.unpersist()
  }
}
