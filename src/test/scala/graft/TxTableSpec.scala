package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.{Lake, TxTable}

/** Transaction-log zone table: atomic commits, optimistic concurrency,
  * ingest-during-compaction survival (VERDICT r2 item 9's concurrent-
  * write gate), and staging: per-file stats and Bloom bitmaps come out
  * of the write job itself, and no staging output outlives a stage. */
class TxTableSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def freshTable(): TxTable =
    Lake(spark, tempDir("graft-tx").toString)
      .txTable("refine", "vehicle")

  test("append commits atomic snapshots; snapshot reads see exactly them") {
    val t = freshTable()
    assert(t.latest().isEmpty)
    val v0 = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v1 = t.append(Seq((3L, "c")).toDF("id", "s"))
    assert(v0 == 0L && v1 == 1L)
    assert(t.read().count() == 3)
    // old snapshot still readable (time travel)
    assert(t.read(Some(v0)).count() == 2)
  }

  test("rows ingested DURING compaction survive the compaction commit") {
    val t = freshTable()
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"f$i")).toDF("id", "s")))
    val before = t.latest().get
    assert(before.files.size >= 4)
    // inject an append at the worst moment: after the compactor read
    // its inputs and rewrote them, before it commits
    t.compact(targetFiles = 1, beforeCommit = () =>
      t.append(Seq((99L, "late")).toDF("id", "s")))
    val ids = t.read().collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 99L), s"lost rows: $ids")
    // the compacted snapshot = 1 rewritten file + the late file(s)
    val after = t.latest().get
    assert(after.files.size < before.files.size + 1)
  }

  test("racing appenders all commit (optimistic retry) and lose nothing") {
    val t = freshTable()
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(8)
    (1 to 8).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try t.append(Seq((i.toLong, s"w$i")).toDF("id", "s"))
          finally done.countDown()
        }
      })
    }
    start.countDown()
    assert(done.await(120, TimeUnit.SECONDS), "writers timed out")
    pool.shutdown()
    assert(t.read().collect().map(_.getLong(0)).toSet == (1L to 8L).toSet)
    assert(t.latest().get.version == 7L) // 8 commits, each its own version
  }

  test("racing idempotent batches all land: no reader sees a torn manifest") {
    val t = freshTable()
    val pool = Executors.newFixedThreadPool(4)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(4)
    (0 until 4).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until 25).foreach { i =>
            val id = w * 25L + i
            // a Bloom column makes every manifest entry ~2 KB, so a
            // manifest is written in several chunks a reader could split
            t.appendBatchIdempotent(Seq((id, s"b$id")).toDF("id", "s"), batchId = id,
              bloomCols = Seq("id"))
          } catch { case e: Throwable => failures.add(e) }
          finally done.countDown()
        }
      })
    }
    start.countDown()
    assert(done.await(600, TimeUnit.SECONDS), "writers timed out")
    pool.shutdown()
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    val lost = (0L until 100L).toSet -- t.read().collect().map(_.getLong(0))
    assert(lost.isEmpty, s"rows lost: ${lost.toSeq.sorted}")
    assert(t.read().count() == 100)
    assert(t.committedBatches() == (0L until 100L).toSet)
    assert(t.latest().get.version == 99L)
  }

  test("a stranded temp manifest is invisible to readers and vacuumed") {
    val t = freshTable()
    t.appendBatchIdempotent(Seq((1L, "a")).toDF("id", "s"), batchId = 1L)
    // a commit that died between writing its body and linking it
    val tmp = java.nio.file.Paths.get(t.root, "_log", ".pending-crashed")
    Files.writeString(tmp, "#batch=2\ndata/none.parquet")
    assert(t.latest().get.version == 0L)
    assert(t.committedBatches() == Set(1L))
    assert(t.read().count() == 1)
    assert(t.vacuum() == 0)
    assert(Files.exists(tmp), "a young temp manifest may be a live commit's")
    Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L))
    t.vacuum()
    assert(!Files.exists(tmp))
    assert(t.appendBatchIdempotent(Seq((2L, "b")).toDF("id", "s"), batchId = 2L)
      .contains(1L))
    assert(t.read().count() == 2)
  }

  test("vacuum reclaims replaced files; the live snapshot is untouched") {
    val t = freshTable()
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"f$i")).toDF("id", "s")))
    t.compact(targetFiles = 1)
    val reclaimed = t.vacuum()
    assert(reclaimed >= 3, s"expected the 3 pre-compaction files gone, got $reclaimed")
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("vacuum spares a concurrent writer's staged-not-committed file") {
    val t = freshTable()
    t.append(Seq((1L, "a")).toDF("id", "s"))
    // simulate an in-flight writer: a data file present but listed in
    // NO manifest yet (stage() has run, commit() has not)
    val dataDir = java.nio.file.Paths.get(t.root, "data")
    val staged = dataDir.resolve("in-flight.parquet")
    Files.write(staged, Array[Byte](1, 2, 3))
    assert(t.vacuum() == 0, "young unreferenced file must survive vacuum")
    assert(Files.exists(staged))
    // once older than the retention horizon it is an aborted orphan
    Files.setLastModifiedTime(staged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L))
    assert(t.vacuum() == 1)
    assert(!Files.exists(staged))
    assert(t.read().count() == 1)
  }

  test("replayed batch id loses the commit race and aborts, no duplicates") {
    val t = freshTable()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    // zombie-writer interleaving: writer 1 passes the up-front marker
    // check and stages, then writer 2 commits the SAME batch id before
    // writer 1's commit runs — the in-loop re-check must catch it
    val v1 = t.appendBatchIdempotent(batch, batchId = 7L,
      beforeCommit = () =>
        assert(t.appendBatchIdempotent(batch, batchId = 7L).isDefined))
    assert(v1.isEmpty, "loser must abort, not double-commit the batch")
    assert(t.read().count() == 2, "batch rows must appear exactly once")
    // the loser's staged files were unstaged — nothing orphaned
    assert(t.vacuum(java.time.Duration.ZERO) == 0)
  }

  test("concurrent compaction is a detected conflict, not a silent dup") {
    val t = freshTable()
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"f$i")).toDF("id", "s")))
    // the winner compacts while the loser is between read and commit;
    // the loser's inputs are gone from the snapshot, so re-basing with
    // filterNot would append a second full copy of all rows
    intercept[java.util.ConcurrentModificationException] {
      t.compact(targetFiles = 1, beforeCommit = () =>
        t.compact(targetFiles = 2))
    }
    assert(t.read().count() == 4, "loser must not duplicate rows")
    assert(t.read().collect().map(_.getLong(0)).toSet == (1L to 4L).toSet)
    // the loser's staged rewrite was unstaged
    assert(t.vacuum(java.time.Duration.ZERO) >= 4) // winner's replaced inputs only
    assert(t.read().count() == 4)
  }

  /** Spark jobs `body` starts on this thread (and threads it spawns). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.tx"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) != null))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    try {
      body
      ListenerBusDrain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Names under the table's staging directory (none once every stage
    * has ended). */
  private def stagingLeft(t: TxTable): Seq[String] = {
    val dir = Paths.get(t.root, "_staging")
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
  }

  private val bloomBits = 1024

  /** Five range partitions of 20 ids, the third emptied by the filter;
    * int, long and string keys with nulls, and an all-null column. */
  private def mixed(): DataFrame =
    spark.range(0, 100, 1, 5).filter(col("id") < 40 || col("id") >= 60).select(
      col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise((col("id") % 37).cast("int")).as("ik"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 1000003L).as("lk"),
      when(col("id") % 3 === 0, lit(null))
        .otherwise(concat(lit("s"), col("id").cast("string"))).as("sk"),
      lit(null).cast("long").as("none"))

  test("write-task stats and Bloom tokens equal a read-back of the committed files") {
    val t = freshTable()
    val statsCols = Seq("id", "none", "ik")
    val bloomCols = Seq("ik", "lk", "sk")
    t.append(mixed(), statsCols = statsCols, bloomCols = bloomCols, bloomBits = bloomBits)
    val entries = t.latest().get.files
    assert(entries.size == 4, s"the empty partition must commit no file: $entries")
    // reference: one aggregate per committed file, read back, over the
    // expressions the probe side hashes with
    def pos(c: String, seed: Int) =
      pmod(xxhash64(col(c).cast("string"), lit(seed)), lit(bloomBits.toLong))
    val seeds = 1 to 4
    val aggs = statsCols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long")))) ++
      bloomCols.flatMap(c => seeds.map(seed => collect_set(pos(c, seed))))
    val expected = t.read().groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val range = statsCols.indices.collect {
          case i if !r.isNullAt(1 + 2 * i) =>
            s"${statsCols(i)}=${r.getLong(1 + 2 * i)}..${r.getLong(2 + 2 * i)}"
        }
        val blooms = bloomCols.indices.map { i =>
          val words = new Array[Long](bloomBits / 64)
          seeds.indices.foreach { j =>
            r.getSeq[Long](1 + 2 * statsCols.size + i * seeds.size + j)
              .foreach(p => words(p.toInt / 64) |= 1L << (p.toInt % 64))
          }
          s"${bloomCols(i)}~2~" + words.map(w => f"$w%016x").mkString
        }
        r.getString(0).split('/').last + "\t" + (range ++ blooms).mkString(";")
      }
    assert(entries.toSet == expected.toSet)
    assert(entries.forall(e => !t.entryStats(e).contains("none")),
      "an all-null column records no range")
    assert(entries.forall(e => t.entryBlooms(e).keySet == bloomCols.toSet))
    // and the bitmaps serve: every present key finds its row
    assert(t.readWhereEq("sk", lit("s61")).select("id").as[Long].collect().toSeq == Seq(61L))
    assert(t.readWhereEq("lk", lit(7L * 1000003L)).count() == 1)
  }

  test("a stats+Bloom append and idempotent append each run ONE Spark job") {
    val t = freshTable()
    val df = mixed()
    assert(jobsOf(t.append(df, statsCols = Seq("id"), bloomCols = Seq("lk"))) == 1)
    assert(jobsOf(t.appendBatchIdempotent(df, batchId = 1L,
      statsCols = Seq("id"), bloomCols = Seq("lk"))) == 1)
    assert(t.read().count() == 160)
  }

  test("an all-empty frame with stats commits zero files") {
    val t = freshTable()
    val v = t.append(mixed().filter(lit(false)),
      statsCols = Seq("id"), bloomCols = Seq("sk"))
    assert(t.latest().get.version == v && t.latest().get.files.isEmpty)
    val r = t.read()
    assert(r.count() == 0 && r.columns.toSeq == Seq("id", "ik", "lk", "sk", "none"))
    assert(t.vacuum(java.time.Duration.ZERO) == 0, "no staged file was left behind")
  }

  test("no staging directory outlives an append, successful or failed") {
    val t = freshTable()
    t.append(mixed(), statsCols = Seq("id"), bloomCols = Seq("lk"))
    t.append(mixed()) // plain append: write only
    assert(stagingLeft(t).isEmpty)
    val boom = udf((id: Long) => if (id == 61L) throw new IllegalStateException("boom") else id)
    val failing = mixed().withColumn("id", boom(col("id")))
    intercept[Exception](t.append(failing, statsCols = Seq("id"), bloomCols = Seq("lk")))
    intercept[Exception](t.append(failing))
    assert(stagingLeft(t).isEmpty)
    assert(t.latest().get.version == 1L, "a failed append commits nothing")
    assert(t.vacuum(java.time.Duration.ZERO) == 0, "a failed append leaves no data file")
  }
}
