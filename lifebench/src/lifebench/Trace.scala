package lifebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Work counted by the Spark listener for one job (sums over its tasks). */
final class Counters {
  var tasks = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outBytes = 0L
}

/** One timed call into a layer. `op` is the measured op it belongs to
  * (-1 outside ops); times are `System.nanoTime`. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Long, val start: Long) {
  var end = 0L
  def ms: Double = (end - start) / 1e6
}

/** A Spark job, attributed to the innermost span open when it was
  * submitted. `site` is the long call site of its SQL execution (or of
  * the job itself when it ran outside SQL). */
final class JobRec(val id: Int, val span: Int, val site: String,
    val start: Long) {
  var end = 0L
  val c = new Counters
  /** First `graft.` frame of the call site: the product function whose
    * action launched the job. */
  def frame: String = site.linesIterator.find(_.startsWith("graft.")).getOrElse("")
  /** First `graft.app.Process` frame: which statement of `Process.run`. */
  def processLine: String =
    site.linesIterator.find(_.startsWith("graft.app.Process")).getOrElse("")
  def method: String = frame.takeWhile(_ != '(')
  def ms: Double = (end - start) / 1e6
}

/** Spans around the benchmark's calls into each layer, plus per-job
  * Spark counters attached to the innermost open span. Tracing is
  * switched on and off per round: while off, a span is only its body
  * (no listener, no local property), so an untraced round measures the
  * program alone. */
final class Tracer(sc: SparkContext) {
  private val SpanKey = "lifebench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1L
  private var on = false

  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val execSite = mutable.HashMap.empty[Long, String]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSite(s.executionId) = s.details
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(x => execSite.get(x.toLong))
      val site = exec.getOrElse(
        if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details)
      val rec = new JobRec(j.jobId, span, site, System.nanoTime())
      jobsById(j.jobId) = rec
      j.stageIds.foreach(stageJob(_) = rec)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobsById.get(j.jobId).foreach(_.end = System.nanoTime())
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      for (rec <- stageJob.get(t.stageId); m <- Option(t.taskMetrics)) {
        val c = rec.c
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.inBytes += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
      }
  }

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  /** Counts every event so far, then detaches the listener. */
  def disable(): Unit = if (on) {
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  /** Tags spans opened by `body` with measured-op id `id`. */
  def withOp[A](id: Long)(body: => A): A = {
    op = id
    try body finally op = -1
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Span ids of `s` and all its descendants. */
  def subtree(s: Span): Set[Int] = {
    val kids = children
    def go(x: Span): Seq[Int] = x.id +: kids.getOrElse(x.id, Nil).flatMap(go)
    go(s).toSet
  }

  def jobs: Seq[JobRec] = jobsById.values.toSeq

  /** Jobs submitted while `s` (or a span inside it) was innermost. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s)
    jobs.filter(j => ids(j.span))
  }

  /** Duration of `s` minus the time its child spans cover. */
  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum

  /** The span tree with self time and the jobs' counters, one map per
    * span, for the JSON artifact. */
  def artifact(t0: Long): Seq[Map[String, Any]] = {
    val byspan = jobs.groupBy(_.span)
    spans.toSeq.map { s =>
      val js = byspan.getOrElse(s.id, Nil)
      Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> selfMs(s),
        "jobs" -> js.size,
        "tasks" -> js.map(_.c.tasks).sum,
        "executor_cpu_ms" -> js.map(_.c.cpuNs).sum / 1e6,
        "input_bytes" -> js.map(_.c.inBytes).sum,
        "shuffle_write_bytes" -> js.map(_.c.shuffleWrite).sum,
        "shuffle_read_bytes" -> js.map(_.c.shuffleRead).sum,
        "spill_bytes" -> js.map(_.c.spill).sum,
        "output_bytes" -> js.map(_.c.outBytes).sum,
        "call_sites" -> js.map(j => j.frame + " <- " + j.processLine).distinct)
    }
  }
}
