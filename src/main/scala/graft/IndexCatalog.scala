package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{TextAnalysis, VectorIndex}
import graft.operators.VectorIndex._

/** Which standing index each serving query reads — the one map `Bench`
  * and `PlanDump` warm from, so a timed serving row (or a dumped
  * serving plan) is the point-read path, not a build folded into the
  * serve. Each query pre-builds EXACTLY the index it reads: a subset
  * run pays only the warm-ups it needs. The `*_build` queries and the
  * streamed full-lifecycle `stream_*_serve` rows own their builds and
  * are absent; `IndexCatalogSpec` checks every key is a registered
  * query, so a renamed query cannot silently lose its warm-up. */
object IndexCatalog {

  private def vector(family: Family): (SparkSession, String) => Any =
    VectorIndex.ensure(_, _, family)

  /** Serving query → the get-or-build of the standing index it reads. */
  val byQuery: Map[String, (SparkSession, String) => Any] = Map(
    "text_bm25_indexed" -> TextAnalysis.ensureFts _,
    "sim_ann_indexed" -> vector(Ivf),
    "sim_ann_indexed_sqrt" -> vector(Sqrt),
    "sim_ann_filtered" -> vector(Sqrt),
    "sim_ann_filtered_recall" -> vector(Sqrt),
    "sim_ann_filtered_adaptive" -> vector(Sqrt),
    "sim_ann_filtered_adaptive_recall" -> vector(Sqrt),
    "sim_ann_ivfsq8" -> vector(Sq8Sqrt),
    "sim_ann_ivfsq8_recall" -> vector(Sq8Sqrt),
    "sim_ann_indexed_sample" -> vector(Sample),
    "sim_ann_recall_sample" -> vector(Sample),
    "sim_ann_ivfsq8_sample" -> vector(Sq8Sample),
    "sim_ann_ivfsq8_sample_recall" -> vector(Sq8Sample),
    "sim_ann_ivfpq" -> vector(PqSqrt),
    "sim_ann_ivfpq_recall" -> vector(PqSqrt),
    "sim_ann_ivfpq_sample" -> vector(PqSample),
    "sim_ann_ivfpq_sample_recall" -> vector(PqSample),
    "stream_ivf_serve_only" -> vector(IvfStream),
    "stream_ivfsq8_serve_only" -> vector(Sq8Stream),
    "stream_ivfpq_serve_only" -> vector(PqStream),
    "stream_fts_serve_only" -> graft.streaming.StreamFts.ensureStreamed _)

  /** Get-or-build each index `queries` read (a second query over the
    * same index finds it registered). */
  def warm(spark: SparkSession, dir: String, queries: Iterable[String]): Unit =
    queries.flatMap(byQuery.get).foreach(_(spark, dir))
}
