package graft.app

import org.apache.spark.sql.{DataFrame, Row}
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
  * zone table) → enrich → refine zone (JSON + zone table).
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
    * JSON sink and its zone table read one result.
    *
    * The regrouped frames and the refined records are row sets, each
    * one hash exchange on its key (the frame regroup's, the enrich
    * record's; see `Normalize` and `Enrich`). Only the parity JSON
    * objects are ordered, by the frame keys and the domain's entity
    * key, and the sinks sort there, in the one task that feeds their
    * collect ([[graft.lake.Lake.writeJsonArray]]); the zone tables get
    * the rows unsorted.
    *
    * Every plan is built on the calling thread, so an analysis error
    * (a mistyped document on an inferred-schema domain) throws before
    * any sink starts. The sinks that share nothing but the parse then
    * run at once: the processed parity JSON, the processed zone table,
    * and the refine branch (enrich → checkpoint, then its JSON, its
    * zone table and parking's config summary, again at once). The
    * parse itself runs first, in one job, so the sinks all start on a
    * loaded cache. Each upload's jobs are mostly single-task, so this
    * fills cores that a one-sink-at-a-time upload leaves idle, with
    * the same jobs and tasks.
    *
    * A failing sink does not stop the others: the upload waits for all
    * of them, then throws the first failure in the order above. Each
    * zone table write is one atomic commit to the zone's
    * [[graft.lake.TxTable]], so a zone write that fails leaves no
    * visible rows in its table. The upload as a whole is still not all
    * or nothing across its sinks: a failed upload may leave any other
    * branch's finished outputs (its JSON objects, the other zone's
    * commit), not only those of sinks before the failing one. The
    * report lines print the row counts the JSON sinks wrote instead of
    * re-counting, in a fixed order, after the sinks. */
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

      // processed zone: parity JSON + scale-path zone table; parking's
      // frames are written as read, the regrouped ones in frame order
      val (grouped, frameOrder) =
        if (domain == "parking") (frames, Nil)
        else {
          val detectionFields = flat.columns.filterNot(c =>
            cfg.frameCols.contains(c) || c == "_empty_frame").toSeq
          (Normalize.regroupByFrame(cfg, detectionFields)(flat), Normalize.frameKeys(cfg, flat))
        }
      val processedRows = flat.drop("_empty_frame")
      // refine zone: per-entity records
      val enriched = enrichFor(domain, flat, frames)
      val configSummary =
        if (domain == "parking") Some(Sessionization.configSummary(flat)) else None
      val refineDir = lake.zonePath("refine", domain)

      // parse now, in one job: under AQE every sink whose plan finds
      // the cache not yet loaded starts a job of its own to load it
      raw.foreachPartition((_: Iterator[Row]) => ())
      var framesWritten = 0
      var entities = Option.empty[Int]
      concurrently("graft-process-sink")(
        () => framesWritten = lake.writeWrappedJson(grouped, "frame_detections",
          s"${lake.zonePath("processed", domain)}/preprocessed_$fileName", frameOrder: _*),
        () => lake.writeZoneTable(processedRows, "processed", domain, fileName),
        () => enriched.foreach { e =>
          val refined = e.localCheckpoint()
          val sinks = Seq(
            () => entities = Some(lake.writeJsonArray(refined,
              s"$refineDir/refine_$fileName", cfg.entityKey.toSeq: _*)),
            () => lake.writeZoneTable(refined, "refine", domain, fileName)) ++
            configSummary.map(s => () =>
              lake.writeJsonArray(s, s"$refineDir/parking_config_$fileName"))
          concurrently("graft-process-refine")(sinks: _*)
        })
      entities.foreach(n => println(s"[graft] $domain: $n refined entities"))
      println(s"[graft] $domain: $framesWritten frames processed")
    } finally raw.unpersist()
  }

  /** Runs `branches` at once, one daemon thread each (`<name>-<i>`), and
    * returns once every one has finished, also when some fail. The
    * threads are made here, so they inherit the caller's Spark local
    * properties and `Console.out`; they are joined, so none outlives
    * the call. The first failure in branch order is rethrown as it is,
    * the later ones attached to it as suppressed. */
  private def concurrently(name: String)(branches: (() => Any)*): Unit = {
    val failures = new Array[Throwable](branches.size)
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() =>
        try branch() catch { case e: Throwable => failures(i) = e }, s"$name-$i")
      t.setDaemon(true)
      t
    }
    try threads.foreach(_.start()) finally threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, later @ _*) => later.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }
}
