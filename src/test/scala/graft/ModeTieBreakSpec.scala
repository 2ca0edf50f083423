package graft

import graft.normalize.Normalize
import graft.enrich.Enrich
import graft.schema.DomainConfig

/** The per-entity mode's total order — count desc, first frame seen
  * asc, value asc — on planted ties, for a string value (people
  * `gender`) and a numeric one (people `age`, whose 0 is filtered out
  * before counting). */
class ModeTieBreakSpec extends SparkSpec {

  /** One person detection: tracker, frame, gender, age. */
  private def det(t: Int, g: String, age: Int): String =
    s"""{"tracker_id": $t, "confidence": 0.5, "bbox": [0.0, 0.0, 10.0, 10.0],
       "gender": "$g", "age": $age, "carrying": "Unknown"}"""

  /** Tracker 1 ties on count and is settled by the first frame seen;
    * tracker 2 shows two values first in the same frame (a duplicate
    * detection), so only the value settles it; tracker 3's most
    * frequent value wins although it was seen later, and its three
    * age-0 rows would win if they were counted. */
  private val frames: Seq[Seq[String]] = Seq(
    Seq(det(1, "Woman", 41), det(2, "Woman", 50), det(2, "Man", 30), det(3, "Woman", 0)),
    Seq(det(1, "Man", 35), det(3, "Man", 0)),
    Seq(det(1, "Man", 35), det(3, "Man", 25)),
    Seq(det(1, "Woman", 41), det(3, "Unknown", 0)))

  private val fixture = frames.zipWithIndex.map { case (dets, f) =>
    s"""{"frame_number": $f, "timestamp": "2025-05-06 06:41:0$f",
       "detections": [${dets.mkString(", ")}]}"""
  }.mkString("""{"video_metadata": {"filename": "t.mp4"}, "frame_detections": [""", ", ", "]}")

  private lazy val byId = rowsByKey[Long](
    Enrich.people(Normalize.flatten(DomainConfig.people)(readJsonFixture(fixture))),
    "tracker_id")

  test("a count tie goes to the value seen first, string and numeric") {
    // Woman 2 (first frame 0) vs Man 2 (first frame 1); 41 vs 35 likewise
    assert(byId(1L).getAs[String]("gender") == "Woman")
    assert(byId(1L).getAs[Long]("age") == 41L)
  }

  test("a tie on count and first frame goes to the least value") {
    assert(byId(2L).getAs[String]("gender") == "Man")
    assert(byId(2L).getAs[Long]("age") == 30L)
  }

  test("the larger count wins over an earlier first frame; age 0 is not counted") {
    assert(byId(3L).getAs[String]("gender") == "Man")
    assert(byId(3L).getAs[Long]("age") == 25L)
    assert(byId(3L).getAs[String]("carrying") == "Unknown")
  }
}
