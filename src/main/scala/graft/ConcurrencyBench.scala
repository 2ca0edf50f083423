package graft

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Query-side concurrency smoke for the two standing-index serving
  * paths (BM25 point reads, √N-IVF ANN probes). A serving deployment
  * never runs one query at a time: M clients hit the same session and
  * the same read-only index tables. This main measures that axis —
  * aggregate wall time for M concurrent point reads vs the same reads
  * run serially — and prints one JSON line for BASELINE.md.
  *
  * Design notes:
  *  - ONE SparkSession, many driver threads: Spark's scheduler is
  *    thread-safe and jobs from different threads interleave across
  *    the executor cores (FIFO pools; fairness is not the point of a
  *    smoke, utilization is).
  *  - Both standing indexes are warmed through the registry
  *    ([[graft.operators.StandingIndex.ensure]]) BEFORE the clock
  *    starts and are read-only afterwards — the measured path holds no
  *    shared mutable state beyond Spark's own planner.
  *  - Queries are DISTINCT point reads (rotating term triples pulled
  *    from the built index's own term dictionary, rotating nprobe/k)
  *    so the measurement can't degenerate into one plan served from a
  *    cache.
  */
object ConcurrencyBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val threads =
      sys.env.get("SPARK_GRAFT_SERVE_THREADS").map(_.toInt).getOrElse(8)
    val perThread =
      sys.env.get("SPARK_GRAFT_SERVE_PER_THREAD").map(_.toInt).getOrElse(4)
    val spark =
      graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- warm-up: tables, codegen, and both standing indices -------
    val t = graft.core.Tables(spark, sfDir)
    t.documents.count(); t.embeddings.count()
    import graft.operators.{StandingIndex, TextIndex, VectorIndex}
    val fts = StandingIndex.ensure(spark, sfDir, TextIndex.Fts)
    StandingIndex.ensure(spark, sfDir, VectorIndex.Sqrt)

    // distinct term triples from the index's own term dictionary (the
    // 12 highest-df terms — guaranteed non-empty posting lists), paid
    // once at warm-up like the index build itself
    import org.apache.spark.sql.functions._
    val top = graft.lake.TxTable(spark, fts.postings).read()
      .groupBy(col("tok")).agg(max(col("df")).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(12)
      .collect().map(_.getString(0)).toSeq
    val termPool = top.grouped(3).toVector

    // the unit of work: one indexed-BM25 point read + one indexed-ANN
    // probe, parameters rotated by call index i
    def serve(i: Int): Unit = {
      graft.operators.TextAnalysis.bm25Indexed(spark, sfDir,
        terms = termPool(i % termPool.size), topK = 5 + (i % 3) * 5)
        .write.format("noop").mode("overwrite").save()
      graft.operators.Similarity.annIndexedSqrt(spark, sfDir,
        k = 5, nprobe = 2 + (i % 3))
        .write.format("noop").mode("overwrite").save()
    }
    serve(0) // one untimed pass: JIT + plan-cache warm, like Bench

    val totalCalls = threads * perThread

    // ---- serial baseline ------------------------------------------
    val s0 = System.nanoTime()
    (0 until totalCalls).foreach(serve)
    val serialSec = (System.nanoTime() - s0) / 1e9

    // ---- concurrent: M driver threads, same work ------------------
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val c0 = System.nanoTime()
    val fs = (0 until threads).map { th =>
      Future { (0 until perThread).foreach(q => serve(th * perThread + q)) }
    }
    Await.result(Future.sequence(fs), Duration.Inf)
    val concSec = (System.nanoTime() - c0) / 1e9
    pool.shutdown()

    val speedup = serialSec / concSec
    println(f"""{"metric":"concurrent_serve","threads":$threads,"calls":$totalCalls,"serial_sec":$serialSec%.2f,"concurrent_sec":$concSec%.2f,"speedup":$speedup%.2f,"per_call_ms":${concSec / totalCalls * 1000}%.0f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
