package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.lake.TxTable
import graft.operators.{StandingIndex, TextIndex}
import graft.operators.TextAnalysis.{corpusStats, corpusStatsCols, postingsOf, tokenized}

/** End-to-end streamed-index pipeline — the composition of the two
  * verified halves (`StreamZoneSpec`'s idempotent micro-batch index
  * maintenance and `bm25Indexed`'s Bloom point-read serving) into ONE
  * query the oracle checks: a standing postings index is seeded from
  * the base corpus, late documents arrive as AvailableNow micro-batches
  * whose postings + corpus-stats deltas commit idempotently into the
  * same index (batch markers make redelivery a no-op), and BM25 serves
  * from the merged snapshot.
  *
  * Index semantics under increments: `df` merges across segments at
  * read (each commit's postings are per-segment; document frequency is
  * the count over the merged point-read — Lucene's per-segment term
  * stats), and the corpus stats are the SUM of the per-commit stats
  * rows — work proportional to the number of commits, never the
  * corpus. Scores are byte-equal to the full-corpus scan
  * (`text_bm25_search`'s oracle verifies this query too): an index is
  * an optimization, never a semantic.
  *
  * Reference parity: micro-batch-per-uploaded-file ingestion is the
  * reference's transport (`Send_Data_To_DataLake/main.py:64`); here
  * each uploaded batch ALSO maintains the serving index instead of
  * waiting for a rebuild.
  *
  * Lifecycle/serve split (VERDICT r14 task 3, the SQ8/PQ pattern):
  * `stream_fts_serve` owns the whole seed+stream+serve lifecycle;
  * the `stream_fts_serve_only` registry row declares the `FtsStream`
  * family and serves against the get-or-streamed standing snapshot,
  * so the streamed transport's per-query serving cost is its own row —
  * directly comparable to the batch-built `text_bm25_indexed`.
  */
object StreamFts {

  /** Seed + stream the postings index; returns the `fts#stream` handle
    * unregistered (`StandingIndex.ensure` installs it via
    * computeIfAbsent, whose mapping function must not touch the map). */
  private[graft] def seed(spark: SparkSession, dir: String): TextIndex = {
    // base seed = 90% of the corpus through a tokenize+explode —
    // spread so the build stage owns its parallelism (the x100
    // single-split lesson); the late 10% streams through micro-batch
    // files and needs no spread
    val base = Tables(spark, dir).documentsSpread
      .select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val late = Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(10)) === 0)

    // seed commit: the base corpus, term-range-clustered with Bloom
    // bitmaps — identical layout to the batch `TextIndex.Fts` build
    val idx = TxTable(spark, Scratch.fresh("tx_fts_stream"))
    val st = TxTable(spark, Scratch.fresh("tx_fts_stream_stats"))
    // r16 (guide §1.2): one tokenize pass — the seed stats row derives
    // from the JUST-WRITTEN seed postings (a column-pruned (doc_id,
    // dl) read; dl is functionally dependent on doc_id and every doc
    // has >= 1 posting) instead of a second scan+tokenize of the base
    idx.append(postingsOf(tokenized(base)).repartitionByRange(8, col("tok")),
      bloomCols = Seq("tok"))
    st.append(corpusStats(idx.read().select(col("doc_id"), col("dl")).distinct()))

    // the late documents land as JSON files; each micro-batch commits
    // postings + stats deltas under its batch marker
    StandingIndex.tail(spark, "fts", late, "json", 2,
      "doc_id LONG, text STRING")(commitLate(idx, st))
    TextIndex.pin(spark, TextIndex.FtsStream, idx.root, st.root)
  }

  /** One late micro-batch's postings and stats deltas, both from one
    * read and tokenize of the batch: the stats are observed on the
    * tokenized rows the postings write reads, then committed from a
    * local row. They count the tokenized rows, not the postings'
    * documents: an empty late text has no posting but still counts in
    * n_docs. */
  private[graft] def commitLate(idx: TxTable, st: TxTable)(batch: DataFrame, id: Long): Unit = {
    val obs = Observation()
    var wrote = false
    idx.appendBatchIdempotent(
      postingsOf(tokenized(batch).observe(obs, corpusStatsCols.head, corpusStatsCols.tail: _*)),
      id, beforeCommit = () => wrote = true, bloomCols = Seq("tok"))
    // a redelivered batch whose postings already committed wrote
    // nothing, and a batch the optimizer proved empty reports no
    // metrics: their stats, if still missing, read the batch
    val fresh = corpusStats(tokenized(batch))
    val m = if (wrote) obs.get else Map.empty[String, Any]
    val stats =
      if (!fresh.columns.forall(m.contains)) fresh
      else batch.sparkSession.createDataFrame(
        java.util.List.of(Row.fromSeq(fresh.columns.toSeq.map(m))), fresh.schema)
    st.appendBatchIdempotent(stats, id)
  }

  /** The full lifecycle as one timed query: seed commit + late
    * micro-batch commits + merged-snapshot serving. Refreshes the
    * standing registry (last build wins). */
  def streamFtsServe(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "join", "vector"),
      topK: Int = 10): DataFrame = {
    // seed+stream timed into the audit registry so Bench can report
    // the row's seed_sec/serve_sec split (VERDICT r15 task 5)
    val idx = graft.core.BuildAudit.timed("stream_fts_serve")(
      StandingIndex.rebuild(spark, dir, TextIndex.FtsStream))
    TextIndex.serve(spark, idx, terms, topK)
  }
}
