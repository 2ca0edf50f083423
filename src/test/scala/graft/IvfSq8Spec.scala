package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, StandingIndex, VectorIndex}

/** The composed IVF-SQ8 standing index (round-9 task 1): √N Lloyd
  * cells carrying SQ8 codes in the postings, candK-survivor exact
  * rerank. The DuckDB oracle checks cross-engine parity; these check
  * the composition's SEMANTICS against in-JVM twins. */
class IvfSq8Spec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("dot_q matches an interpreted integer dot product") {
    val df = spark.sql(
      """SELECT dot_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
                dot_q(array(255L, 255L), array(255L, 255L)) AS mx,
                dot_q(array(7L), array(2L, 9L)) AS trunc""")
      .head()
    assert(df.getLong(0) == 4 + 10 + 18)
    assert(df.getLong(1) == 2L * 255 * 255)
    assert(df.getLong(2) == 14, "length mismatch scores the common prefix")
  }

  test("ivf-sq8 with a wide-open candidate cut equals the uncompressed " +
      "sqrt-cell serving path") {
    // candK >= every probed cell's population makes the SQ8 filter
    // lossless: the exact rerank then ranks ALL probed members, which
    // is exactly what annIvfSqrtK computes without codes. Any
    // disagreement means the codes or the probe list drifted.
    val n = graft.core.Tables(spark, sf).embeddings.count().toInt
    val wide = VectorIndex.serve(spark, sf,
        StandingIndex.ensure(spark, sf, VectorIndex.Sq8Sqrt), k = 5, candK = Some(n))
      .select(col("qid"), col("nid"), col("cos_e6"), col("rn"))
      .collect().toSeq
    val plain = Similarity.annIvfSqrtK(spark, sf, k = 5)
      .select(col("qid"), col("nid"), col("cos_e6"), col("rn"))
      .collect().toSeq
    assert(wide == plain,
      "lossless-cut IVF-SQ8 must equal the exact sqrt-cell ANN")
  }

  test("build audit pins the global code range and the sqrt cell count") {
    val row = VectorIndex.buildAudit(spark, sf, VectorIndex.Sq8Sqrt).head()
    val t = graft.core.Tables(spark, sf)
    val nVecs = t.embeddings.count()
    val kExpected = math.ceil(math.sqrt(nVecs.toDouble)).toInt
    assert(row.getAs[Long]("n_vecs") == nVecs, "every vector is posted once")
    assert(row.getAs[Long]("n_cells") <= kExpected,
      "at most ceil(sqrt(N)) cells (empty cells may vanish)")
    assert(row.getAs[Long]("mn") < row.getAs[Long]("mx"),
      "a degenerate range would collapse every code to 0")
    // the audit's range is the true corpus-wide quantized min/max
    val q = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(expr("CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)")
        .as("q"))
      .agg(min(col("q")).as("mn"), max(col("q")).as("mx")).head()
    assert(row.getAs[Long]("mn") == q.getAs[Long]("mn"))
    assert(row.getAs[Long]("mx") == q.getAs[Long]("mx"))
  }

  test("serving from the standing index is deterministic across calls") {
    val a = SparkEntry.queries("sim_ann_ivfsq8")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("sim_ann_ivfsq8")(spark, sf).collect().toSeq
    assert(a == b, "standing-index serving must be a pure read")
    assert(a.nonEmpty && a.forall(_.getAs[Long]("rn") <= 5))
  }
}
