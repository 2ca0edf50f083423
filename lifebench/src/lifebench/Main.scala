package lifebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.commons.io.FileUtils
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.core.Sessions

/** One benchmark run in one JVM:
  *
  *   lifebench.Main --workload upload|lake_churn --seed N --seconds S
  *     --trace 0|1 --cores C --state DIR --result FILE [--trace-out FILE]
  *
  * Set-up runs once (`setup_s` is its total: seconds of real product
  * work), then the workload's warm-up, then a closed loop of rounds for
  * S seconds with one client thread. Before the window the run waits
  * for the JIT compiler to go quiet, so compilation queued by earlier
  * work does not compete with what is timed. A round starts only if
  * half a round as long as the last one still fits in the window (the
  * first always starts), so the rounds' total time is centred on S
  * seconds whatever a round costs. A traced run alternates traced and
  * untraced rounds (the first is traced), so it can report the tracing
  * overhead from interleaved samples. The result is written to
  * `--result` as JSON. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val state = new File(opt("state"))
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", new File(state, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val start = System.nanoTime()
    def log(what: String): Unit =
      println(f"[lifebench] ${(System.nanoTime() - start) / 1e9}%7.2fs $what")
    log("session up")
    val r = new Run(spark, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", state, cores)
    val w = opt("workload") match {
      case "upload" => new Upload(r)
      case "lake_churn" => new Churn(r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log("inputs generated")
    val setup = w.setup()
    log(s"set-up: $setup")
    w.prepare()
    log("prepared")
    w.warmup()
    // a traced run compares traced with untraced rounds: start it warm
    if (r.traced) w.round(measuring = false)
    Jvm.settle()
    log(s"warm-up done, jit ${Jvm.jitMs} ms")

    val t0 = System.nanoTime()
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    val end = t0 + r.seconds * 1000000000L
    var (last, n) = (0L, 0)
    while (last == 0 || System.nanoTime() + last / 2 <= end) {
      if (r.traced && n % 2 == 0) r.tracer.enable()
      val t = System.nanoTime()
      w.round(measuring = true)
      last = System.nanoTime() - t
      r.tracer.disable()
      n += 1
    }
    val (gc, jit) = (Jvm.gcMs - gc0, Jvm.jitMs - jit0)
    log(s"window done: ${r.samples.map { case (k, v) => k -> v.map(_.round) }}, jit $jit ms")

    def p50(kind: String) = Stats.median(r.samples.getOrElse(kind, Nil).toSeq)
    val metrics: Map[String, Double] =
      if (!r.traced)
        w.slots.zipWithIndex.map { case (k, i) => s"op${i + 1}_p50_ms" -> p50(k) }.toMap ++
          Map("ops_per_s" -> Stats.ratio(r.ops, r.opMs / 1000), "setup_s" -> setup.values.sum)
      else {
        val traced = Stats.median(r.tracedSamples.getOrElse(w.slots.head, Nil).toSeq)
        w.layers(r.tracer) ++ setup ++ Map(
          "core.gc_ms_per_op" -> Stats.ratio(gc, r.attempted),
          "core.jit_ms_in_window" -> jit.toDouble,
          "trace.overhead_ms" -> (traced - p50(w.slots.head)))
      }
    implicit val formats: DefaultFormats.type = DefaultFormats
    def write(f: String, v: AnyRef): Unit =
      FileUtils.writeStringToFile(new File(f), Serialization.write(v), UTF_8)
    opt.get("trace-out").foreach(write(_, r.tracer.artifact(t0)))
    write(opt("result"), Map(
      "correct" -> (r.failures.isEmpty && r.attempted > 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> metrics,
      "slots" -> w.slots,
      "samples" -> r.samples.map { case (k, v) => k -> v.size }.toMap,
      "failures" -> r.failures.take(10).toSeq))
    // the state directory is deleted by the caller; skip the slow stop
    System.exit(0)
  }
}
