package lifebench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.commons.io.FileUtils
import graft.app.Process
import graft.lake.Lake
import graft.views.Views

/** Uploads of camera clips through the paper's lifecycle: raw JSON →
  * `Process.run` (normalize → processed zone → enrich → refine zone) →
  * the ES-shaped view records. Exercises `app`, `normalize`, `enrich`,
  * `lake` (`Lake` JSON and parquet sinks) and `views`; commits nothing
  * to a `TxTable` and touches no index. */
final class Upload(r: Run) extends Workload {
  import r.spark

  val slots = Seq("clip", "vehicle_doc", "people_doc")

  private val Rotation = 4
  private val clips = (0 until Rotation).map(i => Gen.clip(r.seed, i))
  private val rawDirs = clips.zipWithIndex.map { case (c, i) =>
    val d = r.dir(s"raw/c$i")
    FileUtils.writeStringToFile(new File(d, "vehicle/clip.json"), c.vehicle, UTF_8)
    FileUtils.writeStringToFile(new File(d, "vehicle/clip_resent.json"), c.malformed, UTF_8)
    FileUtils.writeStringToFile(new File(d, "people/clip.json"), c.people, UTF_8)
    d
  }
  private val expectedTypes = (0 until Rotation).map(i => Gen.vehicleTypes(r.seed, i))
  private var lakeSeq = 0
  private var n = 0L

  /** Lake roots written by traced ops, for the storage counters. */
  private val tracedUsage = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def runDoc(lake: Lake, domain: String, glob: String): Seq[String] = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      r.tracer.span("app")(Process.run(spark, domain, glob, lake.root))
    }
    out.toString("UTF-8").linesIterator.toSeq
  }

  private def view(lake: Lake, domain: String): Unit = r.tracer.span("views") {
    val refined = lake.readZoneTable("refine", domain)
    val es = if (domain == "vehicle") Views.vehicleEsRecords(refined)
      else Views.peopleEsRecords(refined)
    es.write.format("noop").mode("overwrite").save()
  }

  /** Uploads clip `i` into a fresh lake; returns the lake and the
    * program's printed report per domain. */
  private def upload(i: Int, measuring: Boolean): (Lake, Map[String, Seq[String]]) = {
    lakeSeq += 1
    val lake = Lake(spark, r.dir(s"lake/l$lakeSeq").getPath)
    val raw = rawDirs(i).getPath
    val out = r.timed("clip", measuring) {
      val v = r.timed("vehicle_doc", measuring, part = true) {
        val o = runDoc(lake, "vehicle", s"$raw/vehicle/*.json")
        view(lake, "vehicle")
        o
      }
      val p = r.timed("people_doc", measuring, part = true) {
        val o = runDoc(lake, "people", s"$raw/people/clip.json")
        view(lake, "people")
        o
      }
      Map("vehicle" -> v, "people" -> p)
    }
    (lake, out)
  }

  /** The program's outputs against the generator's ground truth. */
  private def verify(i: Int, lake: Lake, out: Map[String, Seq[String]]): Unit = {
    for (d <- Seq("vehicle", "people")) {
      r.check(out(d).contains(s"[graft] $d: ${Gen.Trackers} refined entities"),
        s"$d refined entities: ${out(d).mkString(" | ")}")
      r.check(out(d).contains(s"[graft] $d: ${Gen.Frames} frames processed"),
        s"$d frames processed: ${out(d).mkString(" | ")}")
      // the malformed sibling would add rows or a _corrupt_record column
      val processed = lake.readZoneTable("processed", d)
      r.check(!processed.columns.contains("_corrupt_record"), s"$d: corrupt column in zone")
      val rows = processed.count()
      r.check(rows == Gen.processedRows, s"$d processed rows $rows != ${Gen.processedRows}")
    }
    val types = lake.readZoneTable("refine", "vehicle").select("tracker_id", "vehicle_type")
      .collect().map(x => x.getLong(0).toInt -> x.getString(1)).toMap
    r.check(types == expectedTypes(i), s"vehicle types differ from the generator")
  }

  /** Two backlog clips, each into a fresh lake: the op itself, so
    * set-up also warms every path the measured clips take. The first
    * clip in a JVM costs about twice a warm one and the second still
    * about a tenth more, so after one the window's first clip would
    * read slow and, on a slow machine, be the window's only clip. */
  def setup(): Map[String, Double] = {
    val s = (0 until 2).map { i =>
      val t = System.nanoTime()
      val (lake, out) = upload(i, measuring = false)
      val s = (System.nanoTime() - t) / 1e9
      val before = r.failures.size
      verify(i, lake, out)
      r.require(r.failures.size == before, r.failures.lastOption.getOrElse(""))
      FileUtils.deleteDirectory(new File(lake.root))
      s
    }
    Map("setup.refine_s" -> s.sum)
  }

  /** Set-up already ran the whole op. */
  def warmup(): Unit = ()

  def round(measuring: Boolean): Unit = {
    val i = (n % Rotation).toInt
    n += 1
    r.step(measuring) {
      val (lake, out) = upload(i, measuring)
      verify(i, lake, out)
      if (r.tracer.enabled && measuring) {
        val root = new File(lake.root)
        tracedUsage += ((FileUtils.listFiles(root, null, true).size.toLong,
          FileUtils.sizeOfDirectory(root), clips(i).rawBytes))
      }
      FileUtils.deleteDirectory(new File(lake.root))
    }
  }

  /** Role of a job launched inside `Process.run`, from its call site:
    * the product method that ran the action, and for a method called
    * twice per upload (the zone-table write, the counts) whether this
    * is its first or second distinct call site in the upload. */
  private def roles(jobs: Seq[JobRec]): Seq[(JobRec, String)] = {
    // counts run in Process.run itself or in its refine closure
    def method(j: JobRec) =
      if (j.method.startsWith("graft.app.Process")) "process" else j.method
    val order = jobs.map(j => (method(j), j.processLine)).distinct
    jobs.map { j =>
      val m = method(j)
      val nth = order.filter(_._1 == m).indexOf((m, j.processLine)) + 1
      val role = m match {
        case "graft.lake.Lake.readJsonArray" => "normalize.read"
        case "graft.lake.Lake.writeWrappedJson" => "lake.json_sink.processed"
        case "graft.lake.Lake.writeJsonArray" => "lake.json_sink.refine"
        case "graft.lake.Lake.writeZoneTable" =>
          if (nth == 1) "lake.zone_write.processed" else "lake.zone_write.refine"
        case "process" => if (nth == 1) "app.count.refine" else "app.count.processed"
        case _ => "app.other"
      }
      (j, role)
    }
  }

  def layers(t: Tracer): Map[String, Double] = {
    val clipsTraced = t.named("app").map(_.op).filter(_ >= 0).distinct
    val perClip = clipsTraced.size.toDouble
    if (perClip == 0) return Map.empty
    val apps = t.named("app").filter(_.op >= 0)
    val appJobs = apps.flatMap(t.jobsUnder)
    val byRole = apps.flatMap(s => roles(t.jobsUnder(s))).groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._1) }
    def role(prefix: String) = byRole.filter(_._1.startsWith(prefix)).values.flatten.toSeq
    val enrichJobs = role("lake.json_sink.refine") ++ role("lake.zone_write.refine") ++
      role("app.count.refine")
    val appWallMs = apps.map(_.ms).sum
    val cpuMs = appJobs.map(_.c.cpuNs).sum / 1e6
    val views = t.named("views").filter(_.op >= 0)
    Map(
      "app.jobs_per_upload" -> appJobs.size / perClip,
      "app.tasks_per_upload" -> appJobs.map(_.c.tasks).sum / perClip,
      "app.executor_cpu_ms_per_upload" -> cpuMs / perClip,
      "app.cpu_util" -> Stats.ratio(cpuMs, appWallMs * r.cores),
      "normalize.raw_read_amplification" ->
        Stats.ratio(appJobs.map(_.c.inBytes).sum.toDouble, tracedUsage.map(_._3).sum.toDouble),
      "lake.json_sink_ms" -> role("lake.json_sink").map(_.ms).sum / perClip,
      "lake.zone_write_ms" -> role("lake.zone_write").map(_.ms).sum / perClip,
      "lake.bytes_written_per_raw_byte" ->
        Stats.ratio(tracedUsage.map(_._2).sum.toDouble, tracedUsage.map(_._3).sum.toDouble),
      "lake.files_written_per_upload" -> Stats.ratio(tracedUsage.map(_._1).sum.toDouble, tracedUsage.size),
      "enrich.shuffle_bytes_per_upload" -> enrichJobs.map(_.c.shuffleWrite).sum / perClip,
      "enrich.spill_bytes" -> enrichJobs.map(_.c.spill).sum / perClip,
      "views.es_records_ms" -> views.map(_.ms).sum / perClip)
  }
}
