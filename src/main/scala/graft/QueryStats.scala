package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: run selected queries once (noop sink, same as Bench) and
  * report per-query JOB/STAGE/TASK counts plus shuffle read/write
  * bytes — the physical-shape evidence for multi-job operators
  * (index builds, churn lifecycles, streamed seeds) whose work happens
  * inside the query function, where a single explain() can't see it.
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.QueryStats [query ...]
  *
  * No query names select every query.
  *
  * Output: one JSON line per query on stdout:
  *   {"query":..., "jobs":n, "stages":n, "tasks":n,
  *    "shuffle_read_mb":x, "shuffle_write_mb":x, "sec":x}
  */
object QueryStats {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = graft.core.Tables(spark, sfDir)
    t.lineitem.count(); t.events.count(); t.documents.count(); t.embeddings.count()

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })

    selected.foreach { case (name, fn) =>
      // settle listener events from warmup/previous query
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0L); shufWrite.set(0L)
      spark.sparkContext.setJobDescription(s"qstats: $name")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // let straggling listener events drain before reading counts
      Thread.sleep(500)
      println(f"""{"query":"$name","jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"shuffle_read_mb":${shufRead.get / 1048576.0}%.2f,"shuffle_write_mb":${shufWrite.get / 1048576.0}%.2f,"sec":$sec%.2f}""")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
