package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Fixed-cost environment calibration probe (VERDICT r11 task 1):
    * 2²⁸ rows of codegen'd integer multiply + sum through the noop
    * sink — no I/O, no shuffle, corpus-independent, so its time is a
    * pure function of the JVM + kernel + CPU state the suite ran
    * under. Timed at suite start AND end and emitted in the bench
    * JSON: a round whose calib reads far above its historical band
    * (r7, r11 were ~1.4-2× degraded rounds) is machine-detectable
    * from the artifact itself instead of costing a judge session of
    * cross-round forensics. Min-of-two, same as the queries. */
  private def calibProbe(spark: SparkSession): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 1L << 28, 1, spark.sparkContext.defaultParallelism)
        // modulo keeps the running sum < 2⁵⁷ (ANSI mode would throw on
        // a long overflow); the multiply is the probe's actual work
        .selectExpr("sum((id * 2654435761) % 1000000007) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** SHUFFLE-leg calibration (r12): the r12 sweep showed this box's
    * degradation is bursty and shuffle-correlated — same-bits x100
    * re-runs of `dedup_minhash_lsh` swung 732 → 74 s between passes
    * while the CPU probe stayed in band, so a CPU-only calibration
    * cannot certify a shuffle-heavy row. This probe forces a fixed
    * ~128 MB exchange (2²⁴ longs hash-repartitioned 64 ways) through
    * the same shuffle write/read path every real exchange uses.
    * Healthy 32-thread floor: measure once, compare per round. */
  private def shuffleProbe(spark: SparkSession, reps: Int = 2): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 1L << 24, 1, spark.sparkContext.defaultParallelism)
        .repartition(64, org.apache.spark.sql.functions.col("id"))
        .selectExpr("sum(id % 1000000007) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, parquet footer cache, executor threads)
    // so the first timed query doesn't absorb startup cost
    val t = graft.core.Tables(spark, sfDir)
    t.lineitem.count(); t.events.count(); t.documents.count(); t.embeddings.count()
    // dev knob: comma-separated query names (unset = full suite, what
    // the driver runs); lets a perf investigation time one query in
    // the same warmed-session conditions as the real bench
    val subset = sys.env.get("SPARK_GRAFT_BENCH_SUBSET")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // set-but-empty means the full suite
    // each serving query pre-builds exactly the standing index it
    // reads (IndexCatalog), so subset runs pay only the warm-ups they
    // need and no timed serving row folds its index build in. The
    // sim_*_build / text_fts_build queries own the build costs as
    // their own timed entries.
    IndexCatalog.warm(spark, sfDir,
      subset.getOrElse(IndexCatalog.byQuery.keySet))
    val selected = subset match {
      case Some(s) => SparkEntry.queries.filter { case (n, _) => s(n) }
      case None => SparkEntry.queries
    }
    // measurement protocol (BASELINE.md r9): each query runs TWICE and
    // reports the min. A single-JVM 170-query sweep manufactures 2-4x
    // singleton outliers from GC pressure and codegen-cache churn
    // (adjudicated by isolation re-runs every round, r7/r8 verdicts;
    // the churn is gone since `Sessions.builder` sizes the codegen
    // cache to 2,000 classes, so each plan compiles once per JVM);
    // min-of-two reflects the PLAN, not transient JVM state, at the
    // cost of one extra pass. The gc + settle between queries keeps one
    // query's garbage from billing the next.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(2)
    // CERTIFICATION REQUIRES runs >= 2 (r14 adjudication): the first
    // evaluation of a JIT-heavy plan times 20-120 s of one-time codegen
    // warm-up, not the plan (~6 s steady state) — a runs=1 reading of
    // such a row is not a measurement of the engine. Rather than keep a
    // known-cheap allowlist in sync, the rule is uniform: a runs=1 row
    // can never read CERTIFIED (min-of-two has been the standing
    // protocol since r9 anyway; runs=1 stays available as a quick
    // upper-bound probe).
    val runsCertifiable = runs >= 2
    // Per-QUERY certification legs (r13): the box's shuffle-burst mode
    // oscillates on minute timescales — shorter than a measurement
    // chunk — so the two chunk-boundary calib legs cannot certify the
    // rows in the middle (measured: minhash 300 s inside an accepted
    // chunk, 89 s isolated minutes later, both with in-band boundary
    // legs). With this knob set, ONE single-rep shuffle probe runs
    // after EVERY query; a row is certified iff its two ADJACENT legs
    // (before/after) are in band. ON by default (~0.9 s per query on a
    // healthy box, not billed to any query's time or the total): the
    // driver's BENCH_rN.json then self-adjudicates every row, ending
    // the per-round outlier-ledger forensics (r11 dedup_canonical, r12
    // stream_stream_join) that each cost a judge round-trip. Set
    // SPARK_GRAFT_BENCH_CALIB_EACH=0 to skip the legs.
    val calibEach = !sys.env.get("SPARK_GRAFT_BENCH_CALIB_EACH").contains("0")
    // parsed BEFORE the timed suite: a malformed gate value must fail
    // in seconds, not after hours of measurement with the full-map
    // write still ahead of it
    val gate = sys.env.getOrElse("SPARK_GRAFT_SHUF_GATE", "1.10").toDouble
    val calibStart = calibProbe(spark)
    val shufStart = shuffleProbe(spark)
    // The first query's leg_before must be methodologically identical
    // to every other leg (a single-rep probe) — seeding it from
    // shufStart (min-of-two) would give row 1 a systematically
    // lower-biased gate input (ADVICE r13).
    var legPrev = if (calibEach) shuffleProbe(spark, reps = 1) else shufStart

    // Standing per-row pin ledger (VERDICT r15 task 2): query → best
    // CERTIFIED seconds ever observed for this fixture, keyed by the
    // fixture dir's basename ("sf0.1", "x100", …). Loaded for vs_pin
    // emission + retry ordering; auto-updated at end of run when a row
    // certifies a better value. Path knob SPARK_GRAFT_BENCH_PINS
    // ("0" disables); default is the TRACKED measurements/ ledger so
    // the end-of-round snapshot commit preserves the driver run's
    // updates.
    val pinsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PINS",
      "measurements/pins.json")
    val pinsOn = pinsPath != "0" && pinsPath.nonEmpty
    val sfKey = java.nio.file.Paths.get(sfDir).getFileName.toString
    def loadAllPins(): Map[String, Map[String, Double]] = {
      val p = java.nio.file.Paths.get(pinsPath)
      if (!pinsOn || !java.nio.file.Files.exists(p)) return Map.empty
      try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)) match {
          case JObject(sfs) => sfs.map { case (sf, qs) =>
            sf -> (qs match {
              case JObject(rows) => rows.collect {
                case (q, JDouble(v)) => q -> v
                case (q, JInt(v)) => q -> v.toDouble
                case (q, JDecimal(v)) => q -> v.toDouble
              }.toMap
              case _ => Map.empty[String, Double]
            })
          }.toMap
          case _ => Map.empty
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pins unreadable at $pinsPath: ${e.getMessage}")
        Map.empty
      }
    }
    val allPins = loadAllPins()
    val pins: Map[String, Double] = allPins.getOrElse(sfKey, Map.empty)

    // One measured row: `runs` reps of the query with a single-rep
    // shuffle leg after EVERY rep (ADVICE r14: with runs > 1 a burst
    // confined to an interior rep was invisible to two row-boundary
    // legs — now a row's legs bracket each rep, so "adjacent legs
    // certify the row" holds at rep granularity). Returns (min-or-
    // sentinel, legs incl. the leading one, seed-seconds of the min
    // rep if the query recorded a BuildAudit split). `legBefore` is
    // whatever probe immediately preceded the first rep — the previous
    // row's trailing leg in the main pass, a fresh calm-window probe
    // in the retry pass — so every leg is methodologically identical.
    def measureRow(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        legBefore: Double): (Double, Seq[Double], Option[Double]) = {
      val rowLegs = scala.collection.mutable.ArrayBuffer[Double](legBefore)
      val reps = (1 to runs).map { _ =>
        // the streamed lifecycle rows record their seed half here; the
        // reset scopes the snapshot to THIS rep (one query at a time)
        graft.core.BuildAudit.reset()
        val t0 = System.nanoTime()
        // noop sink: materializes EVERY output column (count() would
        // let Catalyst prune computed expressions and understate work)
        val t = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0 // sentinel: a failed query must not look like a fast one
        }
        spark.catalog.clearCache()
        if (calibEach) rowLegs += shuffleProbe(spark, reps = 1)
        (t, graft.core.BuildAudit.snapshot().get(name))
      }
      System.gc()
      Thread.sleep(50)
      // any failed run fails the query; otherwise the min of the runs
      // — the seed split travels with the SAME rep the min came from,
      // so seed_sec + serve_sec always decompose the reported time
      if (reps.exists(_._1 < 0)) (-1.0, rowLegs.toSeq, None)
      else { val best = reps.minBy(_._1); (best._1, rowLegs.toSeq, best._2) }
    }
    // a row is CERTIFIED iff it succeeded, ran min-of-two or better,
    // and EVERY leg around its reps read at or under the gate
    def certified(sec: Double, rowLegs: Seq[Double]): Boolean =
      runsCertifiable && sec > 0 && rowLegs.nonEmpty && rowLegs.forall(_ <= gate)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val legs = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // with calibEach off the legs were never taken, so no row gets a
    // verdict at all — an all-false cert map would make the summary
    // read "everything flagged" when nothing was CHECKED (ADVICE r15)
    val cert = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    val retried = scala.collection.mutable.LinkedHashMap[String, Int]()
    val seedSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (sec, rowLegs, seed) = measureRow(name, fn, legPrev)
      if (calibEach) {
        legs(name) = rowLegs; legPrev = rowLegs.last
        cert(name) = certified(sec, rowLegs)
      }
      results(name) = sec
      seed.foreach(seedSec(name) = _)
    }

    // End-of-suite auto-retry of flagged rows (VERDICT r14 task 1,
    // reordered per VERDICT r15 task 1): the box's shuffle-burst mode
    // oscillates on minute timescales, so a single pass leaves most
    // rows flagged even on a mostly-calm box and adjudication fell
    // back to side artifacts. The r15 pass spent its whole budget
    // cheapest-first and retried 84 sub-second rows while the 8 most
    // expensive flagged rows (~45 s of recoverable headline time)
    // went untouched — 281 of 319 headline seconds stayed upper-bound.
    // The budget is now SPLIT: the first half retries
    // highest-recovery-first (descending sec − pin where a certified
    // pin exists — a row far above its own best certified reading is
    // the most likely burst artifact — else descending sec), the
    // second half cheapest-first to keep the certified-count win.
    // Each attempt is preceded by a calm-window wait (probe; if over
    // gate, sleep and re-probe rather than burn a rerun inside a
    // burst) and is only STARTED if the remaining budget can plausibly
    // absorb it (~runs reps at the row's current reading — ADVICE r15:
    // the old pass could begin a multi-minute x100 row with ~0 s
    // left). A certified attempt replaces the row's time and legs; an
    // uncertified one only lowers the upper bound. Default ON (the
    // driver runs the full suite with no knobs).
    val retryOn = calibEach && runsCertifiable &&
      !sys.env.get("SPARK_GRAFT_BENCH_RETRY").contains("0")
    val retryK = sys.env.get("SPARK_GRAFT_BENCH_RETRY_K").map(_.toInt).getOrElse(2)
    val retryBudget = sys.env.get("SPARK_GRAFT_BENCH_RETRY_BUDGET")
      .map(_.toDouble).getOrElse(1200.0)
    if (retryOn) {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // a failed row's rerun cost is unknowable from its sentinel —
      // budget a calm-box guess so failures still get their retry
      def attemptCost(name: String): Double = {
        val s = results(name)
        if (s > 0) runs * s + 5.0 else 30.0
      }
      def retryPass(order: Seq[String], stopAt: Double): Unit =
        for (name <- order if elapsed < stopAt) {
          var attempt = 0
          while (!cert(name) && attempt < retryK &&
              stopAt - elapsed > attemptCost(name)) {
            attempt += 1
            retried(name) = retried.getOrElse(name, 0) + 1
            var lead = shuffleProbe(spark, reps = 1)
            var waits = 0
            while (lead > gate && waits < 5 && elapsed < stopAt) {
              Thread.sleep(3000); lead = shuffleProbe(spark, reps = 1); waits += 1
            }
            val (sec, rowLegs, seed) = measureRow(name, SparkEntry.queries(name), lead)
            def adopt(): Unit = {
              results(name) = sec; legs(name) = rowLegs
              seed match {
                case Some(s) => seedSec(name) = s
                case None => seedSec.remove(name)
              }
            }
            if (certified(sec, rowLegs)) { adopt(); cert(name) = true }
            else if (sec > 0 && (results(name) <= 0 || sec < results(name)))
              adopt() // tighter upper bound
          }
        }
      def flaggedNow = results.toSeq.filter { case (q, _) => !cert(q) }
      // recovery potential: how far the row reads above its own best
      // certified pin (absolute seconds — that is what the headline
      // total stands to recover); unpinned rows fall back to their
      // full reading, failed rows retry at the end of the phase
      retryPass(flaggedNow.sortBy { case (q, s) =>
        if (s <= 0) 0.0 else -(pins.get(q).map(s - _).getOrElse(s))
      }.map(_._1), retryBudget / 2)
      retryPass(flaggedNow.sortBy { case (_, s) =>
        if (s > 0) s else Double.MaxValue
      }.map(_._1), retryBudget)
    }

    val calibEnd = calibProbe(spark)
    val shufEnd = shuffleProbe(spark)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // headline total aggregates SUCCESSFUL rows only — summing the
    // -1.0 failure sentinels would silently understate it (ADVICE r14);
    // failures are counted separately and each row stays flagged
    val nFail = results.values.count(_ <= 0)
    val total = results.values.filter(_ > 0).sum
    val nCert = cert.values.count(identity)
    val nFlag = cert.size - nCert
    val nRetried = retried.values.sum
    // Per-row certification verdict folded INTO the artifact (VERDICT
    // r13 task 2): CERTIFIED = succeeded (sec > 0), min-of-two or
    // better (runs >= 2 — a runs=1 reading of a JIT-heavy plan times
    // warm-up, not the plan), and every adjacent shuffle leg (one
    // around each rep) at or under the gate. The gate (default 1.10 s,
    // same constant tools/certified_pin.sh uses), the historical
    // healthy band [0.83, 1.06], and the runs/retry protocol ride in
    // the JSON so any consumer can adjudicate rows without repo
    // context.
    val legsJson = if (!calibEach) "" else
      legs.map { case (k, v) => s"\"" + k + "\":" + v.mkString("[", ",", "]") }
        .mkString(",\"calib_each\":{", ",", "}") +
      cert.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(",\"cert\":{", ",", "}") +
      (if (retried.isEmpty) "" else
        retried.map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString(",\"retried\":{", ",", "}")) +
      s""","gate":$gate,"band":[0.83,1.06],"certified":$nCert,"flagged":$nFlag"""
    // seed/serve split for the streamed lifecycle rows (VERDICT r15
    // task 5): both halves come from the SAME rep the row's reported
    // min came from, so they decompose it exactly — a flagged
    // lifecycle row self-attributes (seed burst vs serve burst)
    // without a side run
    val splitJson = if (seedSec.isEmpty) "" else
      seedSec.map { case (k, s) =>
        val serve = math.max(results(k) - s, 0.0)
        s"\"" + k + "\":{\"seed_sec\":" + s + ",\"serve_sec\":" + serve + "}"
      }.mkString(",\"build_split\":{", ",", "}")
    // vs_pin (VERDICT r15 task 2): ratio of this run's reading to the
    // best CERTIFIED reading ever recorded for this fixture — a
    // flagged row at 4× its pin is machine-readably burst noise, a
    // CERTIFIED row at 2× its pin is a real regression
    val vsPinJson = if (pins.isEmpty) "" else {
      val rows = results.toSeq.collect {
        case (q, s) if s > 0 && pins.get(q).exists(_ > 0) =>
          s"\"" + q + "\":" + (s / pins(q))
      }
      if (rows.isEmpty) "" else rows.mkString(",\"vs_pin\":{", ",", "}")
    }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$splitJson$vsPinJson,"calib":{"start":$calibStart,"end":$calibEnd,"shuffle_start":$shufStart,"shuffle_end":$shufEnd$legsJson},"runs":$runs,"failed":$nFail,"sf":"$sfDir"}"""
    println(json)
    // the stdout line gets tail-truncated in the round record (the r13
    // tail carried ONLY calib-leg pairs — zero query times), so the
    // FULL query→seconds map is written to a file AND a short summary
    // line is printed LAST: the 2000-char tail window then always
    // carries the headline total + the self-adjudication verdict, and
    // the driver's JSON parse of the last line succeeds (VERDICT r13
    // task 1). Default full-map path is at the REPO ROOT (not the
    // gitignored target/) so the end-of-round snapshot commit
    // preserves the driver run's map.
    val full = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json"))
    if (full.getParent != null) java.nio.file.Files.createDirectories(full.getParent)
    java.nio.file.Files.write(full,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Pin ledger auto-update: a row that CERTIFIED below its standing
    // pin (or has none) becomes the new pin for this fixture. Written
    // atomically (temp + move) so a crash mid-write never tears the
    // ledger; other fixtures' sections are preserved.
    if (pinsOn && calibEach && runsCertifiable) {
      val better = cert.collect {
        case (q, true) if results(q) > 0 &&
            pins.get(q).forall(results(q) < _) => q -> results(q)
      }
      if (better.nonEmpty) {
        val merged = allPins.updated(sfKey, pins ++ better)
        val body = merged.toSeq.sortBy(_._1).map { case (sf, qs) =>
          "  \"" + sf + "\": {\n" + qs.toSeq.sortBy(_._1).map {
            case (q, v) => "    \"" + q + "\": " + v
          }.mkString(",\n") + "\n  }"
        }.mkString("{\n", ",\n", "\n}\n")
        val p = java.nio.file.Paths.get(pinsPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        System.err.println(s"[bench] pins: ${better.size} rows improved in $pinsPath ($sfKey)")
      }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"certified":$nCert,"flagged":$nFlag,"failed":$nFail,"runs":$runs,"retries":$nRetried,"gate":$gate,"band":[0.83,1.06],"calib":{"start":$calibStart,"end":$calibEnd,"shuffle_start":$shufStart,"shuffle_end":$shufEnd},"full":"${full.toString}","sf":"$sfDir"}""")
    spark.stop()
  }
}
