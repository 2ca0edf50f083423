package graft

import org.apache.spark.sql.functions._
import graft.lake.{Lake, TxTable}
import graft.functions.ZOrder

/** Round-5 table-format features: per-file stats + data skipping,
  * copy-on-write MERGE, row-level CDC, Z-order clustering. */
class TxLakeFeaturesSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def freshTable(): TxTable =
    Lake(spark, tempDir("graft-tx5").toString)
      .txTable("refine", "vehicle")

  private def kv(pairs: (Long, String)*) = pairs.toDF("k", "s")

  test("per-file [min,max] stats are recorded and skip non-matching files") {
    val t = freshTable()
    val rows = (1L to 400L).map(i => (i, s"r$i"))
    t.append(kv(rows: _*).repartitionByRange(8, col("k")), statsCols = Seq("k"))
    val snap = t.latest().get
    assert(snap.files.forall(e => t.entryStats(e).contains("k")),
      "every staged file carries k stats")
    val hit = t.liveEntriesFor(snap, "k", 10, 20)
    assert(hit.size < snap.files.size,
      s"range-clustered read should prune: ${hit.size} of ${snap.files.size}")
    // skipping is an optimization, never a semantic
    val viaSkip = t.readWhere("k", 10, 20).select("k", "s")
    val viaFilter = t.read().filter(col("k").between(10, 20)).select("k", "s")
    assert(viaSkip.exceptAll(viaFilter).isEmpty && viaFilter.exceptAll(viaSkip).isEmpty)
  }

  test("stats-less entries (old manifests) are never skipped") {
    val t = freshTable()
    t.append(kv((1L, "a"), (500L, "z"))) // no statsCols: bare entries
    val snap = t.latest().get
    assert(snap.files.forall(e => t.entryStats(e).isEmpty))
    assert(t.liveEntriesFor(snap, "k", 1, 1).size == snap.files.size)
    assert(t.readWhere("k", 400, 600).count() == 1)
  }

  test("readWhere with an out-of-range predicate returns empty, keeps schema") {
    val t = freshTable()
    t.append(kv((1L, "a")).repartition(1), statsCols = Seq("k"))
    val r = t.readWhere("k", 1000, 2000)
    assert(r.count() == 0 && r.columns.toSeq == Seq("k", "s"))
  }

  test("merge upserts: matched keys replaced, unmatched source inserted") {
    val t = freshTable()
    t.append(kv((1L, "a"), (2L, "b"), (3L, "c"))
      .repartitionByRange(3, col("k")), statsCols = Seq("k"))
    t.merge(kv((2L, "B!"), (9L, "new")), "k", statsCols = Seq("k"))
    val got = t.read().as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B!", 3L -> "c", 9L -> "new"))
  }

  test("insert-only merge on a disjoint key range rewrites ZERO files") {
    val t = freshTable()
    t.append(kv((1L to 100L).map(i => (i, s"r$i")): _*)
      .repartitionByRange(4, col("k")), statsCols = Seq("k"))
    val before = t.latest().get.files.toSet
    t.merge(kv((5000L, "x"), (5001L, "y")), "k", statsCols = Seq("k"))
    val after = t.latest().get.files.toSet
    assert(before.subsetOf(after), "no base file should be rewritten")
    assert(t.read().count() == 102)
  }

  test("merge against concurrently-replaced files is a detected conflict") {
    val t = freshTable()
    t.append(kv((1L, "a"), (2L, "b")).repartition(1), statsCols = Seq("k"))
    intercept[java.util.ConcurrentModificationException] {
      t.merge(kv((1L, "A")), "k", statsCols = Seq("k"),
        beforeCommit = () => t.compact(targetFiles = 1))
    }
    // the conflict loser left no garbage in the committed snapshot
    assert(t.read().as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b"))
  }

  test("rows appended DURING a merge survive it (disjoint files untouched)") {
    val t = freshTable()
    t.append(kv((1L, "a")).repartition(1), statsCols = Seq("k"))
    // the concurrent append carries stats proving its keys are DISJOINT
    // from the merge range — the conflict check can rule it out
    t.merge(kv((1L, "A")), "k", statsCols = Seq("k"),
      beforeCommit = () =>
        t.append(kv((50L, "mid")).repartition(1), statsCols = Seq("k")))
    assert(t.read().as[(Long, String)].collect().toMap ==
      Map(1L -> "A", 50L -> "mid"))
  }

  test("concurrent append INTO the merge range is a detected conflict " +
      "(WriteSerializable: carried-over rows would dodge the upsert)") {
    val t = freshTable()
    t.append(kv((1L, "a"), (2L, "b")).repartition(1), statsCols = Seq("k"))
    intercept[java.util.ConcurrentModificationException] {
      t.merge(kv((2L, "B!")), "k", statsCols = Seq("k"),
        beforeCommit = () =>
          t.append(kv((2L, "dup")).repartition(1), statsCols = Seq("k")))
    }
    // the append won and the merge refused: both k=2 rows are visible —
    // the dangerous outcome was an upsert that "succeeded" while a
    // carried-over duplicate silently escaped it
    assert(t.read().filter(col("k") === 2L).count() == 2)
  }

  test("a STATS-LESS concurrent append cannot be ruled out and aborts the merge") {
    val t = freshTable()
    t.append(kv((1L, "a")).repartition(1), statsCols = Seq("k"))
    intercept[java.util.ConcurrentModificationException] {
      t.merge(kv((1L, "A")), "k", statsCols = Seq("k"),
        beforeCommit = () => t.append(kv((999L, "far")).repartition(1)))
    }
  }

  test("concurrent append into a delete's range aborts the delete") {
    val t = freshTable()
    t.append(kv((10L, "a"), (20L, "b")).repartition(1), statsCols = Seq("k"))
    intercept[java.util.ConcurrentModificationException] {
      t.delete("k", 10, 30, statsCols = Seq("k"),
        beforeCommit = () =>
          t.append(kv((25L, "in-range")).repartition(1), statsCols = Seq("k")))
    }
    // the surviving table still holds the raced append's row
    assert(t.read().filter(col("k") === 25L).count() == 1)
  }

  test("CDC: update merge yields delete+insert per key; compaction cancels out") {
    val t = freshTable()
    val v0 = t.append(kv((1L, "a"), (2L, "b"), (3L, "c"))
      .repartitionByRange(3, col("k")), statsCols = Seq("k"))
    val v1 = t.merge(kv((2L, "B!")), "k", statsCols = Seq("k"))
    val d = t.changes(v0, v1)
      .select(col("k"), col("s"), col("_change"))
      .as[(Long, String, String)].collect().toSet
    assert(d == Set((2L, "b", "delete"), (2L, "B!", "insert")),
      s"net diff wrong: $d")
    val v2 = t.compact(targetFiles = 1)
    assert(t.changes(v1, v2).count() == 0, "pure rewrite must cancel out")
  }

  test("zorder clusters BOTH dimensions: pruning works on the second") {
    val t = freshTable()
    // 32×32 grid, initially range-clustered on `a` only
    val grid = (0 until 1024)
      .map(i => (i.toLong % 32, i.toLong / 32)).toDF("a", "b")
    t.append(grid.repartitionByRange(8, col("a")),
      statsCols = Seq("a", "b"))
    val before = t.latest().get
    assert(t.liveEntriesFor(before, "b", 0, 3).size == before.files.size,
      "a-clustered files cannot prune on b")
    t.zorder("a", "b", targetFiles = 8)
    val after = t.latest().get
    val hit = t.liveEntriesFor(after, "b", 0, 3)
    assert(hit.size <= after.files.size / 2,
      s"z-ordered files must prune on b: ${hit.size} of ${after.files.size}")
    // clustering rewrites preserve content exactly
    assert(t.read().count() == 1024 &&
      t.read().distinct().count() == 1024)
  }

  test("delete rewrites only covering files; null keys and out-of-range " +
      "rows survive") {
    val t = freshTable()
    val withNull = kv((1L to 100L).map(i => (i, s"r$i")): _*)
      .union(Seq((null.asInstanceOf[java.lang.Long], "nullkey"))
        .toDF("k", "s").select(col("k").cast("long"), col("s")))
    t.append(withNull.repartitionByRange(4, col("k")), statsCols = Seq("k"))
    val before = t.latest().get
    t.delete("k", 10, 20, statsCols = Seq("k"))
    val after = t.latest().get
    // files that cannot cover [10,20] were carried over verbatim
    val carried = before.files.toSet intersect after.files.toSet
    assert(carried.nonEmpty, "disjoint files should not be rewritten")
    val ks = t.read().select("s").as[String].collect().toSet
    assert(!ks.exists(s => (10 to 20).map(i => s"r$i").contains(s)))
    assert(ks.contains("nullkey"), "NULL key must survive a range delete")
    assert(t.read().count() == 101 - 11)
  }

  test("delete outside every file's range is a no-op (zero rewrite)") {
    val t = freshTable()
    val v0 = t.append(kv((1L, "a")).repartition(1), statsCols = Seq("k"))
    assert(t.delete("k", 500, 600, statsCols = Seq("k")) == v0)
    assert(t.read().count() == 1)
  }

  test("bloom index skips files for point lookups where ranges cannot") {
    val t = freshTable()
    // keys striped across files: every file's [min,max] spans nearly
    // the whole domain, so range stats are useless for equality
    val striped = (0L until 400L).map(i => (i, s"g${i % 8}"))
      .toDF("k", "g")
    t.append(striped.repartition(8, col("g")),
      statsCols = Seq("k"), bloomCols = Seq("k"))
    val snap = t.latest().get
    assert(snap.files.forall(e => t.entryBlooms(e).contains("k")))
    // range pruning: no help
    assert(t.liveEntriesFor(snap, "k", 7, 7).size == snap.files.size)
    // bloom pruning: key 7 lives in exactly one group's file
    val hit = t.bloomLiveEntries(snap, "k", lit(7L))
    assert(hit.size < snap.files.size,
      s"bloom should prune: ${hit.size} of ${snap.files.size}")
    assert(t.readWhereEq("k", lit(7L)).select("g").as[String].collect()
      .toSeq == Seq("g7"))
    // absent key: every file pruned (k=4, m=8192, n≈50 → fp ~1e-5)
    assert(t.bloomLiveEntries(snap, "k", lit(-12345L)).isEmpty)
    assert(t.readWhereEq("k", lit(-12345L)).count() == 0)
  }

  test("schema evolution: an append may add columns; old rows null-fill") {
    val t = freshTable()
    t.append(kv((1L, "a")))
    t.append(Seq((2L, "b", 9.5)).toDF("k", "s", "score"))
    val got = t.read().orderBy("k")
    assert(got.columns.toSeq == Seq("k", "s", "score"))
    val rows = got.collect()
    assert(rows(0).isNullAt(2), "pre-evolution row must null-fill")
    assert(rows(1).getDouble(2) == 9.5)
  }

  test("interleave16 matches hand-computed Morton codes") {
    val got = spark.range(1)
      .select(
        ZOrder.interleave16(lit(0xFFFF), lit(0)).as("a_only"),
        ZOrder.interleave16(lit(0), lit(0xFFFF)).as("b_only"),
        ZOrder.interleave16(lit(3), lit(1)).as("small"),
        ZOrder.interleave16(lit(2), lit(3)).as("mixed"))
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((0x55555555L, 0xAAAAAAAAL, 7L, 14L)), s"got $got")
  }
}
