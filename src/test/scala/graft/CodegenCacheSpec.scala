package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import graft.app.Process

/** The shared session's codegen cache holds a whole upload's generated
  * classes, so a warm upload compiles almost nothing again. At Spark's
  * default of 100 entries every vehicle upload recompiled about 130
  * classes the previous op had evicted. */
class CodegenCacheSpec extends SparkSpec with TempDirs {

  /** Classes the third of three identical vehicle uploads may compile.
    * Measured on `local[4]`: 143 at Spark's 100-entry cache, 9-17 at
    * 2,000. What still compiles is the same code under another name or
    * layout: AQE numbers its codegen stages in a different order from
    * run to run, and a few projections read their input columns at
    * other ordinals. */
  private val WarmUploadCompiles = 40

  /** A 40-frame vehicle clip: four tracked detections per frame, an
    * untracked one every eighth frame, every tenth frame empty. */
  private val vehicleDoc = (0 until 40).map { f =>
    val ids = if (f % 10 == 9) Nil
      else (1 to 4).map(_ + 4 * (f / 10)) ++ (if (f % 8 == 0) Seq(-1) else Nil)
    val dets = ids.map { t =>
      s"""{"tracker_id": $t, "confidence": 0.${50 + (t * 7 + f) % 50}, """ +
        s""""bbox": [${f * 3}.0, ${t * 5}.0, ${f * 3 + 40}.0, ${t * 5 + 30}.0], """ +
        s""""vehicle_type": "${Seq("car", "truck", "bus")(t.abs % 3)}", """ +
        s""""vehicle_color": "red", "vehicle_speed": ${(f * 11 + t) % 90}.5, """ +
        s""""vehicle_direction": "Up", "vehicle_lane": "Left Lane", """ +
        s""""stopped": ${f % 5 == 0}, "red_light_violation": false, "line_crossing": ${t == 2}}"""
    }
    s"""{"frame_number": $f, "congestion_level": "low", "traffic_light": "red", """ +
      s""""detections": [${dets.mkString(", ")}]}"""
  }.mkString("[\n", ",\n", "\n]\n")

  test("the session sizes the codegen cache to 2,000 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
  }

  test("a warm vehicle upload recompiles at most a few generated classes") {
    val raw = tempDir("graft-cgraw")
    Files.writeString(raw.resolve("clip.json"), vehicleDoc)
    // a truncated sibling, quarantined as in a real upload
    Files.writeString(raw.resolve("clip_resent.json"), vehicleDoc.take(300))
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Console.withOut(new PrintStream(new ByteArrayOutputStream())) {
        Process.run(spark, "vehicle", s"$raw/*.json", tempDir("graft-cg").toString)
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val perUpload = Seq.fill(3)(compiles())
    info(s"classes compiled per upload: ${perUpload.mkString(", ")}")
    assert(perUpload(2) <= WarmUploadCompiles,
      s"classes compiled per upload: ${perUpload.mkString(", ")}")
  }
}
