package lifebench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** State shared by one benchmark run: the session, the seed, the run's
  * private state directory, the tracer, per-op-type latency samples and
  * the output checks. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val state: File, val cores: Int) {
  val tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Samples (ms) of untraced ops, by op type. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Samples (ms) of traced ops, by op type (traced runs only). */
  val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Σ of measured op durations (ms) and their count, untraced. */
  var opMs = 0.0
  var ops = 0L

  def dir(name: String): File = {
    val d = new File(state, name)
    d.mkdirs()
    d
  }

  /** Times `body` as one sample of op type `kind`; no sample while
    * `measuring` is false (set-up and warm-up). A `part` of an op is
    * sampled but not counted again towards throughput. */
  def timed[A](kind: String, measuring: Boolean, part: Boolean = false)(body: => A): A = {
    val t = System.nanoTime()
    val a = body
    val ms = (System.nanoTime() - t) / 1e6
    if (measuring) {
      val into = if (tracer.enabled) tracedSamples else samples
      into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      if (!tracer.enabled && !part) { opMs += ms; ops += 1 }
    }
    a
  }

  /** One measured op: counted as attempted, and as failed when `body`
    * throws or any `check` inside it fails. */
  def op(id: Long)(body: => Unit): Unit = {
    attempted += 1
    val before = failures.size
    try tracer.withOp(id)(body)
    catch { case e: Exception => failures += s"op $id: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    if (failures.size > before) failed += 1
  }

  private var opSeq = 0L

  /** `body` as a measured op when `measuring`, else as plain warm-up
    * work whose failures abort the run. */
  def step(measuring: Boolean)(body: => Unit): Unit =
    if (measuring) { opSeq += 1; op(opSeq)(body) }
    else {
      val before = failures.size
      body
      require(failures.size == before, failures.lastOption.getOrElse(""))
    }

  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  /** Fails the run outright: set-up output must be right before any op
    * is worth measuring. */
  def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"set-up check failed: $what")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** JVM-wide counters: GC time and JIT compile time so far (ms). */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Waits (up to 10 s) until the JIT has compiled nothing for 0.5 s, so
    * compiler threads queued by set-up do not compete with the window. */
  def settle(): Unit = {
    val end = System.nanoTime() + 10000000000L
    var last = jitMs
    var quiet = false
    while (!quiet && System.nanoTime() < end) {
      Thread.sleep(500)
      val now = jitMs
      quiet = now == last
      last = now
    }
  }
}

/** A workload: repeated set-up, then a closed loop of fixed rotations.
  * `op1`..`op3` name the op types behind the `op1_p50_ms`..`op3_p50_ms`
  * end-to-end metrics. */
trait Workload {
  def slots: Seq[String]
  /** The set-up, from scratch; returns its component times (s), whose
    * sum is `setup_s`. */
  def setup(): Map[String, Double]
  /** Checks and references computed once after set-up, untimed. */
  def prepare(): Unit = ()
  /** Unmeasured work between set-up and the window. */
  def warmup(): Unit
  /** One fixed rotation of ops. */
  def round(measuring: Boolean): Unit
  /** Per-layer metrics read from the traced part of the run. */
  def layers(t: Tracer): Map[String, Double]
}
