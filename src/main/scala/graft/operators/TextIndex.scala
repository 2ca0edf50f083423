package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.lake.TxTable

/** A standing full-text index: a term-clustered postings table
  * (tok, doc_id, dl, tf) in tx-table format with a per-file Bloom bitmap
  * on `tok`, the corpus-stats table (n_docs, t_toks) beside it, and the
  * two corpus scalars PINNED when the handle is made (the ES semantic —
  * index-wide statistics live with the index and serve from memory;
  * queries never re-aggregate the corpus). The scalars are the sum of the
  * stats rows: one row for a batch build, one per commit for a streamed
  * one — commit-count work, paid once per handle, never per query. */
final case class TextIndex(family: TextIndex.Family, postings: String,
    stats: String, nDocs: Long, tToks: Long) extends StandingIndex

/** The two text families and their serve. [[Fts]] is built in one pass
  * with `df` denormalized onto each posting; [[FtsStream]]
  * (`graft.streaming.StreamFts`) is seeded, then grown by micro-batch
  * commits, and keeps per-segment postings whose `df` merges at read. */
object TextIndex {

  sealed abstract class Family(val name: String)
      extends StandingIndex.Family[TextIndex] {
    private[graft] def fromManifest(spark: SparkSession, root: String,
        m: Map[String, String]): TextIndex =
      at(spark, this, root, StandingIndex.manifestKey(m, root, "stats"))
  }

  /** One pass over the corpus into the standing postings + stats
    * tables: (tok, doc_id, dl, tf, df) term-range-partitioned with a
    * Bloom bitmap on `tok` per file, and the one-row (n_docs, Σdl)
    * stats table. `df` is the term-dictionary statistic denormalized
    * onto each posting at build (what Lucene keeps per term) so a
    * query reads its postings ONCE — no second per-query pass to
    * re-count document frequency. The window that computes it runs on
    * the same range partitioning the layout needs anyway (range on
    * `tok` satisfies the window's clustering), so it costs a sort, not
    * a shuffle. */
  case object Fts extends Family("fts") {
    private[graft] def build(spark: SparkSession, dir: String): TextIndex = {
      // spread: the build's corpus tokenize+explode is the whole cost —
      // split-bound at x100 it ran on 1 core of 32 (documentsSpread)
      val pDir = Scratch.fresh("tx_fts")
      TxTable(spark, pDir).append(
        TextAnalysis.postingsOf(TextAnalysis.tokenized(Tables(spark, dir).documentsSpread))
          .repartitionByRange(8, col("tok"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok")))),
        bloomCols = Seq("tok"))
      val sDir = Scratch.fresh("tx_fts_stats")
      // r16 (guide §1.2): the stats row derives from the JUST-WRITTEN
      // postings — a column-pruned read of (doc_id, dl) — instead of a
      // second full corpus scan + tokenize. Exact: dl is functionally
      // dependent on doc_id and every doc has >= 1 posting (split of ""
      // is [""]), so distinct (doc_id, dl) is one row per document.
      TxTable(spark, sDir).append(TextAnalysis.corpusStats(
        TxTable(spark, pDir).read().select(col("doc_id"), col("dl")).distinct()))
      pin(spark, this, pDir, sDir)
    }
  }

  case object FtsStream extends Family("fts#stream") {
    private[graft] def build(spark: SparkSession, dir: String): TextIndex =
      graft.streaming.StreamFts.seed(spark, dir)
  }

  /** The handle over committed `postings` + `stats`: sums the stats rows
    * into the two corpus scalars (one small collect). */
  private[graft] def at(spark: SparkSession, family: Family, postings: String,
      stats: String): TextIndex = {
    val rows = TxTable(spark, stats).read()
      .select(col("n_docs"), col("t_toks")).collect()
    def total(i: Int): Long = rows.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    TextIndex(family, postings, stats, total(0), total(1))
  }

  /** Write the manifest naming the stats root beside committed postings,
    * so a session that holds only the postings root can load the handle;
    * returns the handle unregistered. */
  private[graft] def pin(spark: SparkSession, family: Family, postings: String,
      stats: String): TextIndex = {
    StandingIndex.writeIndexManifest(postings, "family" -> family.name,
      "stats" -> stats)
    at(spark, family, postings, stats)
  }

  /** BM25 from a standing index: ONE Bloom-pruned multi-term point read
    * — the posting lists of all query terms in a single index access —
    * then the exact-integer scoring tail with the pinned corpus scalars.
    * [[Fts]] postings carry `df`, so serving is a single pass. Every
    * other layout (streamed, churned) holds one segment per commit, and
    * `df` merges at read by a count over the point-read postings, never
    * the corpus — Lucene's per-segment term stats.
    *
    * Skew note: the df-merge is over the POINT-READ rows, so a hot term
    * appearing in every micro-batch widens the read by one segment per
    * commit — the per-commit overhead is segment count, not corpus size,
    * and `TxTable.compact` (clusterBy tok) is the bound: it folds all
    * segments back to `targetFiles` while the batch markers survive in
    * kept superseded manifests, so redelivery stays a no-op
    * (`StreamSkewSpec` drives a hot term through many commits and pins
    * both properties). */
  private[graft] def serve(spark: SparkSession, idx: TextIndex,
      terms: Seq[String], topK: Int): DataFrame = {
    val posts = TxTable(spark, idx.postings).readWhereIn("tok", terms.map(lit(_)))
    val withDf =
      if (idx.family == Fts) posts
      else posts.join(broadcast(posts.groupBy(col("tok")).agg(count(lit(1)).as("df"))),
        Seq("tok"))
    TextAnalysis.bm25TopK(TextAnalysis.bm25TermScores(withDf
      .withColumn("n_docs", lit(idx.nDocs))
      .withColumn("t_toks", lit(idx.tToks))), topK)
  }
}
