package graft

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import graft.operators.{Similarity, StandingIndex, TextAnalysis, TextIndex, VectorIndex}

/** Correctness under concurrent serving (round-9 task 6): M driver
  * threads hitting the SAME standing indices through the same session
  * must each get the serial answer. The standing registries are
  * read-only after warm-up, so any divergence here would mean shared
  * mutable state leaking into the serving path — the one failure mode
  * a multi-client deployment can't tolerate. ConcurrencyBench owns the
  * latency numbers; this owns the invariant. */
class ConcurrentServeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("8 concurrent index serves all return the serial answer") {
    // warm both standing indices (read-only afterwards)
    StandingIndex.ensure(spark, sf, TextIndex.Fts)
    StandingIndex.ensure(spark, sf, VectorIndex.Sqrt)
    val serialBm25 = TextAnalysis.bm25Indexed(spark, sf).collect().toSeq
    val serialAnn = Similarity.annIndexedSqrt(spark, sf).collect().toSeq

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 8).map { _ =>
        Future {
          (TextAnalysis.bm25Indexed(spark, sf).collect().toSeq,
            Similarity.annIndexedSqrt(spark, sf).collect().toSeq)
        }
      }
      val results = Await.result(Future.sequence(fs), Duration.Inf)
      results.zipWithIndex.foreach { case ((bm, ann), i) =>
        assert(bm == serialBm25, s"thread $i: BM25 serve diverged")
        assert(ann == serialAnn, s"thread $i: ANN serve diverged")
      }
    } finally pool.shutdown()
  }

  /** The registry's get-or-build is one computeIfAbsent: two threads
    * released together on a cold dir must get the same handle, not two
    * builds that each register a different postings root. */
  private def coldEnsureOnce[I <: StandingIndex](
      family: StandingIndex.Family[I]): Unit = {
    StandingIndex.dropForTest(sf)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 2).map { _ =>
        Future { start.await(); StandingIndex.ensure(spark, sf, family) }
      }
      start.countDown()
      val Seq(a, b) = Await.result(Future.sequence(fs), Duration.Inf)
      assert(a.postings === b.postings, "two builds registered two roots")
      assert(StandingIndex.ensure(spark, sf, family) === a)
    } finally pool.shutdown()
  }

  test("concurrent ensure of a cold √N index builds once: same handle") {
    coldEnsureOnce(VectorIndex.Sqrt)
  }

  test("concurrent ensure of a cold FTS index builds once: same handle") {
    coldEnsureOnce(TextIndex.Fts)
  }

  test("concurrent ensure of a cold streamed FTS index builds once: same handle") {
    coldEnsureOnce(TextIndex.FtsStream)
  }

  test("concurrent ensure calls race to one usable index") {
    // start cold, so the four callers race a real build; get-or-build
    // must leave one index that serves the scan answer
    StandingIndex.dropForTest(sf)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 4).map { _ =>
        Future { StandingIndex.ensure(spark, sf, TextIndex.Fts) }
      }
      Await.result(Future.sequence(fs), Duration.Inf)
      val served = TextAnalysis.bm25Indexed(spark, sf).collect().toSeq
      val scanned = TextAnalysis.bm25Search(spark, sf).collect().toSeq
      assert(served == scanned, "post-race index must serve the scan answer")
    } finally pool.shutdown()
  }
}
