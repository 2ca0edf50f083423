package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{StandingIndex, TextIndex}
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

  private def index[I <: StandingIndex](family: StandingIndex.Family[I])
      : (SparkSession, String) => Any =
    StandingIndex.ensure(_, _, family)

  /** Serving query → the get-or-build of the standing index it reads. */
  val byQuery: Map[String, (SparkSession, String) => Any] = Map(
    "text_bm25_indexed" -> index(TextIndex.Fts),
    "sim_ann_indexed" -> index(Ivf),
    "sim_ann_indexed_sqrt" -> index(Sqrt),
    "sim_ann_filtered" -> index(Sqrt),
    "sim_ann_filtered_recall" -> index(Sqrt),
    "sim_ann_filtered_adaptive" -> index(Sqrt),
    "sim_ann_filtered_adaptive_recall" -> index(Sqrt),
    "sim_ann_ivfsq8" -> index(Sq8Sqrt),
    "sim_ann_ivfsq8_recall" -> index(Sq8Sqrt),
    "sim_ann_indexed_sample" -> index(Sample),
    "sim_ann_recall_sample" -> index(Sample),
    "sim_ann_ivfsq8_sample" -> index(Sq8Sample),
    "sim_ann_ivfsq8_sample_recall" -> index(Sq8Sample),
    "sim_ann_ivfpq" -> index(PqSqrt),
    "sim_ann_ivfpq_recall" -> index(PqSqrt),
    "sim_ann_ivfpq_sample" -> index(PqSample),
    "sim_ann_ivfpq_sample_recall" -> index(PqSample),
    "stream_ivf_serve_only" -> index(IvfStream),
    "stream_ivfsq8_serve_only" -> index(Sq8Stream),
    "stream_ivfpq_serve_only" -> index(PqStream),
    "stream_fts_serve_only" -> index(TextIndex.FtsStream))

  /** Get-or-build each index `queries` read (a second query over the
    * same index finds it registered). */
  def warm(spark: SparkSession, dir: String, queries: Iterable[String]): Unit =
    queries.flatMap(byQuery.get).foreach(_(spark, dir))
}
