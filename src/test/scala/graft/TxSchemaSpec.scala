package graft

import org.apache.spark.sql.functions._
import graft.lake.{Lake, TxTable}

/** Round-6 tx-table hardening: the pinned-schema log (ADVICE r5 /
  * VERDICT task 7), empty-snapshot reads, the WriteSerializable
  * append-conflict rules, canonical Bloom hashing, and delete()'s
  * non-integral-key safety — each spec drives the failure the fix
  * closes. */
class TxSchemaSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def freshTable(): TxTable =
    Lake(spark, tempDir("graft-tx6").toString)
      .txTable("refine", "vehicle")

  private def kv(pairs: (Long, String)*) = pairs.toDF("k", "s")

  test("every commit pins the authoritative schema in the manifest") {
    val t = freshTable()
    t.append(kv((1L, "a")))
    val pinned = t.pinnedSchema()
    assert(pinned.isDefined)
    assert(pinned.get.fieldNames.toSeq == Seq("k", "s"))
    // carried forward by commits that don't change it
    t.compact(targetFiles = 1)
    assert(t.pinnedSchema().get.fieldNames.toSeq == Seq("k", "s"))
  }

  test("additive evolution widens the pin; reads are schema-GIVEN " +
      "(old files null-fill, no footer merging)") {
    val t = freshTable()
    t.append(kv((1L, "a")))
    t.append(Seq((2L, "b", 7.5)).toDF("k", "s", "score"))
    assert(t.pinnedSchema().get.fieldNames.toSeq == Seq("k", "s", "score"))
    val r = t.read().orderBy("k").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r(0).isNullAt(2), "pre-evolution row must null-fill the new column")
    assert(r(1).getDouble(2) == 7.5)
  }

  test("an append with an incompatible column type is rejected before commit") {
    val t = freshTable()
    val v = t.append(kv((1L, "a")))
    val bad = Seq((2L, 99)).toDF("k", "s") // s: int, table has string
    intercept[IllegalArgumentException] { t.append(bad) }
    assert(t.latest().get.version == v, "no version must have committed")
    assert(t.read().count() == 1)
    // the rejected writer's staged files were cleaned up, not orphaned
    assert(t.vacuum(java.time.Duration.ZERO) == 0)
  }

  test("a delete that empties the table leaves it READABLE (empty, pinned schema)") {
    val t = freshTable()
    t.append(kv((1L, "a"), (2L, "b")).repartition(1), statsCols = Seq("k"))
    t.delete("k", 0, 100, statsCols = Seq("k"))
    assert(t.latest().get.files.isEmpty, "delete-everything commits an empty snapshot")
    val r = t.read()
    assert(r.count() == 0)
    assert(r.columns.toSeq == Seq("k", "s"), "schema survives via the pin")
    assert(t.readWhere("k", 0, 10).count() == 0)
    assert(t.readWhereEq("k", lit(1L)).count() == 0)
    // the table is not bricked: a later append resumes normally
    t.append(kv((9L, "back")))
    assert(t.read().count() == 1)
  }

  test("delete on a non-integral column never drops rows outside the range") {
    val t = freshTable()
    val df = Seq(("alpha", 1L), ("7", 2L), ("beta", 3L)).toDF("name", "v")
    t.append(df)
    // cast('alpha' AS LONG) is NULL: the row is NOT in [5,10] and must
    // survive; '7' casts to 7 ∈ [5,10] and is deleted
    t.delete("name", 5, 10)
    val names = t.read().collect().map(_.getString(0)).toSet
    assert(names == Set("alpha", "beta"), s"got $names")
  }

  test("bloom probes hash a canonical rendering: int-width mismatch " +
      "still finds the rows (no false-negative skip)") {
    val t = freshTable()
    val rows = (1L to 200L).map(i => (i, s"r$i"))
    t.append(kv(rows: _*).repartitionByRange(4, col("k")), bloomCols = Seq("k"))
    val snap = t.latest().get
    // probe typed INT where the column is LONG — the pre-fix hash was
    // type-sensitive and every file skipped, silently missing the row
    val intProbe = lit(7) // int32
    assert(t.readWhereEq("k", intProbe).count() == 1)
    val hit = t.bloomLiveEntries(snap, "k", intProbe)
    assert(hit.nonEmpty, "bloom must admit the file holding k=7")
    assert(hit.size < snap.files.size, "other files still skip")
  }

  test("bloomBits not a multiple of 64 is rejected up front") {
    val t = freshTable()
    intercept[IllegalArgumentException] {
      t.append(kv((1L, "a")), bloomCols = Seq("k"), bloomBits = 100)
    }
  }

  test("CDC across an evolution boundary reads both sides under the wide schema") {
    val t = freshTable()
    val v0 = t.append(kv((1L, "a")))
    val v1 = t.append(Seq((2L, "b", 5.0)).toDF("k", "s", "score"))
    val d = t.changes(v0, v1).collect()
    assert(d.length == 1 && d.head.getString(3) == "insert")
    assert(d.head.getDouble(2) == 5.0)
  }
}
