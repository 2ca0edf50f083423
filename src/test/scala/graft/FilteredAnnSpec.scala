package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, StandingIndex, VectorIndex}

/** Filtered-ANN recall under a selectivity sweep (round-10 task 7):
  * the declared `sim_ann_filtered_recall` query measures the default
  * predicate (label odd, ~50% selectivity); this spec drives the
  * predicate down to ~10% and checks the two facts a deployment
  * needs: (1) recall under a selective filter at the default nprobe
  * is a VALID number (ground truth carries the same predicate — no
  * starvation masked by comparing against unfiltered truth), and
  * (2) widening nprobe monotonically restores recall — the standard
  * production mitigation when a filter starves the probed cells'
  * candidate lists. The candidate set grows monotonically in nprobe,
  * so the restoration claim is a law, not a tuning anecdote. */
class FilteredAnnSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  private def sqrtIndex: VectorIndex =
    StandingIndex.ensure(spark, sf, VectorIndex.Sqrt)

  /** Mean recall@5 of the filtered serve, graded against the exact
    * top-5 among the predicate's survivors. */
  private def meanRecall(nprobe: Int,
      pred: org.apache.spark.sql.Column): Double =
    Similarity.recallOf(spark, sf,
      VectorIndex.serve(spark, sf, sqrtIndex, 5, nprobe, pred = Some(pred)),
      5, Some(pred))
      .agg(avg(col("recall_e6"))).head().getDouble(0) / 1e6

  test("widening nprobe monotonically restores recall under a selective filter") {
    val selective = col("label") === 1 // ~10% of members survive
    val narrow = meanRecall(3, selective)
    val wide = meanRecall(8, selective)
    info(f"selective-filter recall@5: nprobe=3 -> $narrow%.2f, nprobe=8 -> $wide%.2f")
    assert(wide >= narrow,
      s"monotonicity violated: nprobe=8 recall $wide < nprobe=3 recall $narrow")
    assert(wide > 0.0, "widened probe found no true neighbors at all")
  }

  test("adaptive nprobe widens with 1/selectivity and caps, never below base") {
    // the widening rule itself (r11 task 6): ~10% selectivity must
    // saturate at the cap, ~50% must widen but stay under it, and a
    // predicate keeping everything must stay at the base width
    val stats = sqrtIndex.labelStats
    val atTen = Similarity.adaptiveNprobe(spark, sf, stats, 3, 8, col("label") === 1)
    val atHalf = Similarity.adaptiveNprobe(spark, sf, stats, 3, 8,
      pmod(col("label"), lit(2)) === 1)
    val atAll = Similarity.adaptiveNprobe(spark, sf, stats, 3, 8, lit(true))
    info(s"adaptive nprobe: sel~10% -> $atTen, sel~50% -> $atHalf, sel=1 -> $atAll")
    assert(atTen == 8, s"~10% selectivity should cap at 8, got $atTen")
    assert(atHalf > 3 && atHalf < 8,
      s"~50% selectivity should widen above base without hitting the cap, got $atHalf")
    assert(atAll == 3, s"permissive predicate must stay at base 3, got $atAll")
  }

  test("adaptive serve matches the fixed-cap recall at ~10% selectivity") {
    val selective = col("label") === 1
    val fixedCap = meanRecall(8, selective)
    val adaptive = Similarity.recallOf(spark, sf,
        Similarity.annFilteredAdaptive(spark, sf, sqrtIndex, 5, 3, 8, selective),
        5, Some(selective))
      .agg(avg(col("recall_e6"))).head().getDouble(0) / 1e6
    info(f"recall@5 at ~10%% selectivity: fixed nprobe=8 $fixedCap%.2f, adaptive $adaptive%.2f")
    // the rule saturates at the cap here, so the serves are identical
    assert(adaptive == fixedCap,
      s"adaptive recall $adaptive != fixed-cap recall $fixedCap")
  }

  test("half-selectivity recall at default nprobe stays in family with unfiltered") {
    val half = meanRecall(3, pmod(col("label"), lit(2)) === 1)
    val unfiltered = SparkEntry.queries("sim_ann_recall_sqrt")(spark, sf)
      .agg(avg(col("recall_e6"))).head().getDouble(0) / 1e6
    info(f"recall@5: filtered(1/2) $half%.2f vs unfiltered $unfiltered%.2f")
    // a mild filter removes competitors as often as true neighbors;
    // collapse here would mean the serve post-filters (the classic
    // filtered-ANN bug) instead of pre-filtering inside probed cells
    assert(half >= unfiltered * 0.5,
      s"half-selectivity recall $half collapsed vs unfiltered $unfiltered")
  }
}
