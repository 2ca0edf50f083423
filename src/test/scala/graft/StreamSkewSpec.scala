package graft

import org.apache.spark.sql.functions._

import graft.lake.TxTable
import graft.operators.TextIndex
import graft.streaming.StreamFts

/** Skew resilience of the streamed postings path (VERDICT r15 stretch
  * task 7). The streamed FTS serve merges document frequency AT READ
  * across per-commit segments, so a pathological corpus — one hot term
  * landing in EVERY micro-batch — widens the term's point read by one
  * segment per commit: the per-commit overhead is segment count, never
  * corpus size, and left unbounded it grows linearly with commits.
  * `TxTable.compact` (clusterBy tok) is the documented bound: it folds
  * every segment back to `targetFiles` while (a) the serve stays a
  * Bloom-pruned point read over the postings — the corpus is never
  * touched, (b) the merged-df answer is unchanged, and (c) the batch
  * markers survive in kept superseded manifests, so a post-compaction
  * redelivery of any already-committed batch is still a no-op. */
class StreamSkewSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("streamed FTS: hot term across many commits stays a point read; compaction bounds segment growth") {
    // an ISOLATED streamed index (fresh Scratch roots) — the standing
    // registry is never touched, so the synthetic hot-term postings
    // cannot leak into other suites' answers in this JVM
    val h = StreamFts.seed(spark, sf)
    val tx = TxTable(spark, h.postings)
    val filesSeeded = tx.latest().get.files.size

    // the skew driver: 12 micro-batch commits, each carrying the SAME
    // hot term in 50 synthetic docs (batch ids disjoint from the real
    // stream's) — the worst case for df-merge-at-read
    val hotBatches = 101L to 112L
    hotBatches.foreach { b =>
      val rows = spark.range(0, 50)
        .select(lit("hotterm").as("tok"),
          (col("id") + lit(100000L * b)).as("doc_id"),
          lit(5L).as("dl"), lit(1L).as("tf"))
      tx.appendBatchIdempotent(rows, batchId = b, bloomCols = Seq("tok"))
    }
    val filesChurned = tx.latest().get.files.size
    assert(filesChurned >= filesSeeded + hotBatches.size,
      "each hot commit should add at least one segment (the growth this spec bounds)")

    // the hot term's point read sees every segment's postings — the
    // merged df is the sum across commits, and the read is still a
    // postings point read, never a corpus scan
    assert(tx.readWhereIn("tok", Seq(lit("hotterm"))).count() ===
      50L * hotBatches.size)
    val before = TextIndex.serve(spark, h, Seq("hotterm"), 10)
    val beforeRows = before.collect().map(_.toString).toSeq.sorted
    val planBefore = before.queryExecution.executedPlan.toString
    assert(planBefore.contains(
      java.nio.file.Paths.get(h.postings).getFileName.toString),
      s"hot-term serve does not read the postings:\n$planBefore")
    assert(!planBefore.contains("documents.parquet"),
      s"hot-term serve re-scans the corpus:\n$planBefore")

    // the bound: compaction folds all segments (seed + 12 hot commits)
    // back to targetFiles, re-clustered and re-Bloomed on tok
    tx.compact(targetFiles = 2, bloomCols = Seq("tok"),
      clusterBy = Seq("tok"))
    assert(tx.latest().get.files.size <= 2,
      "compaction did not bound the segment count")

    val after = TextIndex.serve(spark, h, Seq("hotterm"), 10)
    assert(after.collect().map(_.toString).toSeq.sorted === beforeRows,
      "compaction changed the merged-df answer")
    val planAfter = after.queryExecution.executedPlan.toString
    assert(planAfter.contains(
      java.nio.file.Paths.get(h.postings).getFileName.toString) &&
      !planAfter.contains("documents.parquet"),
      s"post-compaction serve is not a postings point read:\n$planAfter")

    // batch markers survive the compaction commit: redelivering an
    // already-committed hot batch is still a no-op
    val redelivered = tx.appendBatchIdempotent(
      spark.range(0, 1).select(lit("hotterm").as("tok"),
        lit(0L).as("doc_id"), lit(5L).as("dl"), lit(1L).as("tf")),
      batchId = hotBatches.head, bloomCols = Seq("tok"))
    assert(redelivered.isEmpty,
      "redelivered hot batch committed twice after compaction")
  }
}
