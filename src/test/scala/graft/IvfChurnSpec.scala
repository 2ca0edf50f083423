package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Vector-side standing-index churn (the IVF twin of FtsChurnSpec) and
  * the filtered-ANN serve. The DuckDB oracle checks the served
  * neighbors; these check the LAYOUT and the FILTER semantics. */
class IvfChurnSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("compaction bounds the postings file count and restores the " +
      "cell-clustered Bloom layout") {
    val (posts, ct, _) = Similarity.ivfChurnTables(spark, sf,
      slices = 10, targetFiles = 8,
      graft.core.Scratch.fresh("tx_ivf_churn_spec"),
      graft.core.Scratch.fresh("tx_ivf_churn_spec_cents"))
    val snap = posts.latest().get
    assert(snap.files.size <= 8,
      s"post-compaction snapshot holds ${snap.files.size} files")
    assert(snap.files.forall(e => posts.entryBlooms(e).contains("cell")),
      "compaction must re-record the cell Bloom bitmaps")
    // a cell point read must touch a strict subset of the files
    val aCell = posts.read().select(col("cell")).head().get(0)
    val live = posts.bloomLiveEntries(snap, "cell", lit(aCell))
    assert(live.nonEmpty && live.size < snap.files.size,
      s"point read touches ${live.size}/${snap.files.size} files — no pruning")
    assert(ct.latest().get.files.nonEmpty, "centroid table must be pinned")
    // conservation: every vector lives in exactly one cell, churn or not
    assert(posts.read().count() ===
      graft.core.Tables(spark, sf).embeddings.count())
  }

  test("the churned index serves the one-shot standing index's exact " +
      "result") {
    val churned = Similarity.ivfChurn(spark, sf).collect().toSeq
    val oneShot = Similarity.annIndexedSqrt(spark, sf).collect().toSeq
    assert(churned == oneShot,
      "append→fragment→compact→serve must never change an answer")
  }

  test("filtered ANN returns only matching members and the unfiltered " +
      "ranking's matching prefix dominates it") {
    val t = graft.core.Tables(spark, sf)
    val odd = t.embeddings.filter(pmod(col("label"), lit(2)) === 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val rows = Similarity.annFilteredSqrt(spark, sf).collect()
    assert(rows.nonEmpty, "the filtered serve must still find neighbors")
    // every served neighbor satisfies the predicate
    assert(rows.forall(r => odd(r.getAs[Long]("nid"))),
      "a served neighbor violates the metadata predicate")
    // pre-filter semantics: for each query, the filtered list is
    // exactly the odd-labeled members of the probed cells ranked by
    // cosine — i.e. the odd subsequence of the unfiltered FULL ranking
    // (k = corpus) — so the filtered top-1 must score no worse than
    // any odd-labeled row in the unfiltered top-k list
    val unf = Similarity.annIndexedSqrt(spark, sf, k = 1000).collect()
      .filter(r => odd(r.getAs[Long]("nid")))
      .groupBy(_.getAs[Long]("qid"))
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, served) =>
      val expect = unf.getOrElse(qid, Array.empty)
        .sortBy(r => (-r.getAs[Long]("cos_e6"), r.getAs[Long]("nid")))
        .take(served.length).map(_.getAs[Long]("nid")).toSeq
      val got = served.sortBy(_.getAs[Long]("rn"))
        .map(_.getAs[Long]("nid")).toSeq
      assert(got === expect,
        s"query $qid: filtered list is not the odd subsequence of the " +
          "unfiltered ranking")
    }
  }
}
