package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, max, pmod}
import graft.operators._
import graft.operators.StandingIndex.Served
import graft.registry.RegShared._

/** Similarity/vector slice of the driver contract: brute-force cosine, IVF (label, trained, √N, sampled), SQ8, PQ, recall measurements, and index lifecycles with oracles.
  *
  * Split out of SparkEntry (r11): entries and oracle SQL move verbatim;
  * SparkEntry concatenates the family maps. Column names stay identical
  * between `queries` and `oracleSql` (the driver sorts columns by name
  * before hashing).
  */
object SimReg {

  private[graft] val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_sq8_rerank" -> ((s: SparkSession, dir: String) =>
      Similarity.sq8Rerank(s, dir)),
    "sim_cosine_topk" -> Similarity.cosineTopk _,
    "sim_ann_ivf" -> Similarity.annIvf _,
    "sim_ivf_assign" -> Similarity.ivfAssign _,
    "sim_ivf_kmeans" -> ((s: SparkSession, dir: String) =>
      Similarity.kmeansAssign(s, dir, k = 8)),
    "view_kmeans_det" -> ((s: SparkSession, dir: String) =>
      Similarity.viewKmeansDet(s, dir)),
    "sim_ann_ivf_true" -> ((s: SparkSession, dir: String) =>
      Similarity.annIvfTrue(s, dir)),
    "sim_ann_recall" -> ((s: SparkSession, dir: String) =>
      Similarity.recallOf(s, dir, Similarity.annIvfTrue(s, dir), 5)),
    "sim_ann_multiprobe" -> ((s: SparkSession, dir: String) =>
      Similarity.annIvfMultiprobe(s, dir)),
    "sim_ann_recall_mp" -> ((s: SparkSession, dir: String) =>
      Similarity.recallOf(s, dir, Similarity.annIvfMultiprobe(s, dir), 5)),
    "sim_ivf_build" -> ((s: SparkSession, dir: String) =>
      VectorIndex.buildAudit(s, dir, VectorIndex.Ivf)),
    "sim_ann_indexed" -> served(VectorIndex.Ivf),
    "sim_ivf_append" -> ((s: SparkSession, dir: String) =>
      Similarity.ivfAppendServe(s, dir)),
    "sim_ann_sqrtk" -> ((s: SparkSession, dir: String) =>
      Similarity.annIvfSqrtK(s, dir)),
    "sim_ivf_build_sqrt" -> ((s: SparkSession, dir: String) =>
      Similarity.ivfBuildSqrt(s, dir)),
    "sim_ann_indexed_sqrt" -> served(VectorIndex.Sqrt),
    // vector search with a WHERE clause: top-5 among the odd-labelled
    // members, the predicate applied to the postings rows of the probed
    // cells before the distance kernel
    "sim_ann_filtered" -> Served(VectorIndex.Sqrt)(VectorIndex.serve(_, _, _,
      pred = Some(pmod(col("label"), lit(2)) === 1))),
    "sim_ivf_churn" -> ((s: SparkSession, dir: String) =>
      Similarity.ivfChurn(s, dir)),
    "sim_ivfsq8_build" -> ((s: SparkSession, dir: String) =>
      VectorIndex.buildAudit(s, dir, VectorIndex.Sq8Sqrt)),
    "sim_ann_ivfsq8" -> served(VectorIndex.Sq8Sqrt),
    "sim_ann_ivfsq8_recall" -> servedRecall(VectorIndex.Sq8Sqrt),
    "sim_ann_recall_sqrt" -> ((s: SparkSession, dir: String) =>
      Similarity.recallOf(s, dir, Similarity.annIvfSqrtK(s, dir), 5)),
    "sim_ivf_build_sample" -> ((s: SparkSession, dir: String) =>
      VectorIndex.buildAudit(s, dir, VectorIndex.Sample)),
    "sim_ann_indexed_sample" -> served(VectorIndex.Sample),
    "sim_ann_recall_sample" -> servedRecall(VectorIndex.Sample),
    "sim_ivfsq8_build_sample" -> ((s: SparkSession, dir: String) =>
      VectorIndex.buildAudit(s, dir, VectorIndex.Sq8Sample)),
    "sim_ann_ivfsq8_sample" -> served(VectorIndex.Sq8Sample),
    "sim_ann_ivfsq8_sample_recall" -> servedRecall(VectorIndex.Sq8Sample),
    // graded against the exact top-5 among the predicate's survivors
    "sim_ann_filtered_recall" -> Served(VectorIndex.Sqrt) { (s, dir, idx) =>
      val odd = pmod(col("label"), lit(2)) === 1
      Similarity.recallOf(s, dir, VectorIndex.serve(s, dir, idx, pred = Some(odd)),
        5, Some(odd))
    },
    "sim_ann_filtered_adaptive" -> Served(VectorIndex.Sqrt)(
      Similarity.annFilteredAdaptive(_, _, _)),
    "sim_ann_filtered_adaptive_recall" -> Served(VectorIndex.Sqrt)((s, dir, idx) =>
      Similarity.recallOf(s, dir, Similarity.annFilteredAdaptive(s, dir, idx),
        5, Some(col("label") === 1))),
    "sim_centroids" -> Similarity.centroids _,
    "sim_knn_classify" -> Similarity.knnClassify _,
    "sim_pq_adc" -> ((s: SparkSession, dir: String) =>
      Similarity.pqAdc(s, dir)),
    "sim_ivfpq_build" -> ((s: SparkSession, dir: String) =>
      VectorIndex.buildAudit(s, dir, VectorIndex.PqSqrt)),
    "sim_ann_ivfpq" -> served(VectorIndex.PqSqrt),
    "sim_ann_ivfpq_recall" -> servedRecall(VectorIndex.PqSqrt),
    "sim_ivfpq_build_sample" -> ((s: SparkSession, dir: String) =>
      VectorIndex.buildAudit(s, dir, VectorIndex.PqSample)),
    "sim_ann_ivfpq_sample" -> served(VectorIndex.PqSample),
    "sim_ann_ivfpq_sample_recall" -> servedRecall(VectorIndex.PqSample),
  )

  /** Shared IVF-assignment CTEs (mirror `Similarity.ivfAssign`):
    * quantized dims → half-up integer centroids → exact squared
    * distances → argmin cell. `centsWhere` restricts the centroid
    * TRAINING subset (e.g. the pinned-quantizer append lifecycle) —
    * assignment always covers every vector. */
  private[graft] def ivfAssignCtesWhere(centsWhere: String): String =
    s"""qe AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
         FROM (SELECT vec_id, label, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
       cents AS (SELECT label AS cell, dim,
           CAST(floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
         FROM qe $centsWhere GROUP BY 1, 2),
       dists AS (SELECT qe.vec_id, cents.cell,
           CAST(sum((qe.q - cents.c) * (qe.q - cents.c)) AS BIGINT) AS dist2
         FROM qe JOIN cents ON qe.dim = cents.dim GROUP BY 1, 2),
       asg AS (SELECT vec_id, cell, dist2, row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist2, cell) AS arn
               FROM dists)"""

  private[graft] val ivfAssignCtes: String = ivfAssignCtesWhere("")

  private[graft] val ivfAssignOracle: String =
    s"""WITH $ivfAssignCtes
        SELECT vec_id, cell, dist2 FROM asg WHERE arn = 1 ORDER BY vec_id"""

  /** Mirror of `Similarity.lloyd` + the final `Similarity.assign`: the
    * hash-seeded fixed-iteration (2 rounds) Lloyd k-means, unrolled as
    * per-iteration CTEs (aggregates are not allowed in recursive
    * terms). `kSql` is the cell-count expression (a literal, or a
    * scalar subquery for the ⌈√N⌉ rule); `dimFilter` restricts the
    * coordinate space (the 2-D view twin). Ends in `asgk(vec_id, cell,
    * dist2, arn)` — arn = 1 is the final assignment. */
  private[graft] def lloydCtes(kSql: String, dimFilter: String = "",
      sampleGate: String = ""): String = {
    // `trainSrc` is the coordinate table the ITERATIONS read: the full
    // qe normally, the hash-gated sample `tq` when a gate is given —
    // mirroring Similarity.sampleQuantizer, which runs `lloyd` on the
    // gated sample, so only the final `assign` (kd3/asgk) touches the
    // whole corpus
    val trainSrc = if (sampleGate.isEmpty) "qe" else "tq"
    def dist(src: String, cents: String, out: String) =
      s"""$out AS (SELECT $src.vec_id, $cents.cell,
            CAST(sum(($src.q - $cents.c) * ($src.q - $cents.c)) AS BIGINT) AS dist2
          FROM $src JOIN $cents ON $src.dim = $cents.dim GROUP BY 1, 2)"""
    def argmin(dists: String, out: String) =
      s"""$out AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
          FROM $dists) WHERE rn = 1)"""
    def means(asg: String, out: String) =
      s"""$out AS (SELECT $asg.cell, qe.dim,
            CAST(floor(CAST(sum(qe.q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
          FROM qe JOIN $asg ON qe.vec_id = $asg.vec_id GROUP BY 1, 2)"""
    val tqCte = if (sampleGate.isEmpty) ""
      else s"""tq AS (SELECT * FROM qe WHERE $sampleGate),
       """
    val seedWhere = if (sampleGate.isEmpty) "" else s"WHERE $sampleGate "
    s"""qe AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
         FROM (SELECT vec_id, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)
         $dimFilter),
       ${tqCte}seeds AS (SELECT vec_id, cell FROM (
           SELECT vec_id, CAST(row_number() OVER (ORDER BY
               ${phashSql("CAST(vec_id AS VARCHAR)", 11)}, vec_id) - 1 AS BIGINT)
             AS cell
           FROM embeddings $seedWhere) WHERE cell < ($kSql)),
       c0 AS (SELECT seeds.cell, qe.dim, qe.q AS c
              FROM qe JOIN seeds ON qe.vec_id = seeds.vec_id),
       ${dist(trainSrc, "c0", "kd1")}, ${argmin("kd1", "ka1")}, ${means("ka1", "kc1")},
       ${dist(trainSrc, "kc1", "kd2")}, ${argmin("kd2", "ka2")}, ${means("ka2", "kc2")},
       ${dist("qe", "kc2", "kd3")},
       asgk AS (SELECT vec_id, cell, dist2, row_number() OVER (
                  PARTITION BY vec_id ORDER BY dist2, cell) AS arn
                FROM kd3)"""
  }

  /** The oracle's twin of `Similarity.sampleGate`: keep
    * the vectors whose portable salted hash of vec_id is ≡ 0 modulo
    * max(1, ⌊N/(8·⌈√N⌉)⌋) — an expected 8·⌈√N⌉ training vectors. */
  private[graft] val sampleGateSql: String =
    s"""${phashSql("CAST(vec_id AS VARCHAR)", 7)} %
        greatest(1, (SELECT count(*) // (8 * CAST(ceil(sqrt(count(*))) AS BIGINT))
                     FROM embeddings)) = 0"""

  private[graft] val simIvfKmeansOracle: String =
    s"""WITH ${lloydCtes("8")}
        SELECT vec_id, cell, dist2 FROM asgk WHERE arn = 1 ORDER BY vec_id"""

  private[graft] val viewKmeansDetOracle: String =
    s"""WITH ${lloydCtes("4", "WHERE i <= 2")},
        fin AS (SELECT vec_id, cell FROM asgk WHERE arn = 1),
        bydim AS (SELECT fin.cell, qe.dim, count(*) AS n,
                    CAST(sum(qe.q) AS BIGINT) AS s
                  FROM qe JOIN fin ON qe.vec_id = fin.vec_id GROUP BY 1, 2)
        SELECT cell, max(n) AS n,
               sum(CASE WHEN dim = 0 THEN CAST(s AS DOUBLE) / n ELSE 0.0 END) AS cx_e4,
               sum(CASE WHEN dim = 1 THEN CAST(s AS DOUBLE) / n ELSE 0.0 END) AS cy_e4
        FROM bydim GROUP BY cell ORDER BY cell"""

  /** Shared CTE block for IVF ANN oracles: members live in their
    * argmin cell; the query probes its `nprobe` nearest cells. */
  private[graft] def annIvfCtes(nprobe: Int, centsWhere: String = ""): String =
    s"""${ivfAssignCtesWhere(centsWhere)},
        cellof AS (SELECT vec_id, cell FROM asg WHERE arn = 1),
        qvs AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
                FROM embeddings),
        nn AS (SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT) AS nrm
               FROM qvs),
        qs AS (SELECT vec_id AS qid, cell FROM asg
               WHERE arn <= $nprobe AND vec_id < 5),
        scored AS (SELECT qs.qid, m.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                             CAST(b.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM qs
          JOIN cellof m ON m.cell = qs.cell AND m.vec_id != qs.qid
          JOIN nn a ON a.vec_id = qs.qid
          JOIN nn b ON b.vec_id = m.vec_id),
        ranked AS (SELECT qid, nid, cos_e6, row_number() OVER (
                     PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn
                   FROM scored)"""

  private[graft] def annIvfOracle(nprobe: Int): String =
    s"""WITH ${annIvfCtes(nprobe)}
        SELECT qid, nid, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Pinned-quantizer append/stream oracle: centroids train on the
    * base subset only (vec_id % 10 != 9); every vector — base and
    * delta — is assigned against them. Shared by `sim_ivf_append` and
    * the stream-maintained `stream_ivf_serve` (r12): an index
    * maintenance transport can never change an answer. */
  private[graft] val ivfAppendOracle: String =
    s"""WITH ${annIvfCtes(3, "WHERE vec_id % 10 != 9")}
        SELECT qid, nid, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** k = ⌈√N⌉ as a scalar subquery — the SemDeDup/IVF scale rule,
    * feeding [[lloydCtes]] so the oracle trains the same √N-cell
    * quantizer the engine does. */
  private[graft] val sqrtKSql = "SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings"

  /** CTE block for the √N-quantizer ANN oracles: [[lloydCtes]]'s
    * ranked assignment `asgk` (hash-seeded deterministic Lloyd,
    * k=⌈√N⌉) plays the role [[annIvfCtes]]'s label-seeded `asg` plays
    * for the fixed-k family — members at arn=1, probes at
    * arn ≤ nprobe, exact-cosine scoring identical. */
  private[graft] def annSqrtCtes(nprobe: Int, memberWhere: String = "",
      sampleGate: String = ""): String =
    annSqrtCtesNp(nprobe.toString, memberWhere, sampleGate)

  /** [[annSqrtCtes]] with the probe bound as a SQL EXPRESSION — the
    * adaptive-nprobe oracle passes the selectivity-widening scalar
    * subquery where the fixed-width family passes a literal. */
  private[graft] def annSqrtCtesNp(nprobe: String, memberWhere: String = "",
      sampleGate: String = ""): String =
    s"""${lloydCtes(sqrtKSql, "", sampleGate)},
        cellof AS (SELECT vec_id, cell FROM asgk WHERE arn = 1),
        qvs AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
                FROM embeddings),
        nn AS (SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT) AS nrm
               FROM qvs),
        qs AS (SELECT vec_id AS qid, cell FROM asgk
               WHERE arn <= $nprobe AND vec_id < 5),
        scored AS (SELECT qs.qid, m.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                             CAST(b.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM qs
          JOIN cellof m ON m.cell = qs.cell AND m.vec_id != qs.qid
          $memberWhere
          JOIN nn a ON a.vec_id = qs.qid
          JOIN nn b ON b.vec_id = m.vec_id),
        ranked AS (SELECT qid, nid, cos_e6, row_number() OVER (
                     PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn
                   FROM scored)"""

  private[graft] def annSqrtOracle(nprobe: Int): String =
    s"""WITH ${annSqrtCtes(nprobe)}
        SELECT qid, nid, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Mirror of the `sim_ann_indexed_sample` serve: the √N-cell serve under
    * the SAMPLE-trained quantizer — iterations read only the
    * hash-gated training sample, the final assignment the full
    * corpus. A different training set means a different cell alphabet,
    * so the sample family owns these oracles instead of sharing the
    * full-trained ones. */
  private[graft] val annSampleOracle: String =
    s"""WITH ${annSqrtCtes(3, "", sampleGateSql)}
        SELECT qid, nid, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Recall@5 of the sample-trained serve vs the brute-force exact
    * top-5 — the centroid-quality price of training on 8·⌈√N⌉ vectors
    * instead of N, read against [[annSqrtRecallOracle]]'s ceiling. */
  private[graft] val annSampleRecallOracle: String =
    s"""WITH ${annSqrtCtes(3, "", sampleGateSql)},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Mirror of the `sim_ann_filtered` serve: the same √N-quantizer
    * probe, with the metadata predicate applied to MEMBERS before the
    * per-query ranking — the pre-filter semantics (top-k among
    * matches), not a post-filter of an unfiltered top-k. */
  private[graft] val annSqrtFilteredOracle: String =
    s"""WITH ${annSqrtCtes(3,
          "JOIN embeddings e ON e.vec_id = m.vec_id AND (e.label % 2) = 1")}
        SELECT qid, nid, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Mirror of `sim_ann_filtered_recall`: the filtered serve's
    * recall against the brute-force top-5 AMONG the predicate's
    * survivors — the ground truth carries the same filter, so the
    * number isolates probe starvation rather than punishing the serve
    * for rows the predicate excluded. */
  private[graft] val annFilteredRecallOracle: String =
    s"""WITH ${annSqrtCtes(3,
          "JOIN embeddings e ON e.vec_id = m.vec_id AND (e.label % 2) = 1")},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          JOIN embeddings te ON te.vec_id = t.vec_id AND (te.label % 2) = 1
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** SQL twin of `Similarity.adaptiveNprobe` (base 3, cap 8, predicate
    * label = 1): exact-integer ceiling of base·N/n_match, the
    * selectivity-widening rule. */
  private[graft] val adaptiveNprobeSql: String =
    """(SELECT least(8, (3 * count(*)
          + greatest(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END), 1) - 1)
          // greatest(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END), 1))
        FROM embeddings)"""

  /** Mirror of `Similarity.annFilteredAdaptive`: the filtered √N serve
    * with the probe bound computed from the predicate's measured
    * selectivity instead of hard-coded — at the ~10%-selective
    * `label = 1` the rule saturates at the cap, so recall equals the
    * fixed nprobe=8 serve by construction. */
  private[graft] val annFilteredAdaptiveOracle: String =
    s"""WITH ${annSqrtCtesNp(adaptiveNprobeSql,
          "JOIN embeddings e ON e.vec_id = m.vec_id AND e.label = 1")}
        SELECT qid, nid, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Recall@5 of the adaptive filtered serve vs the exact top-5 among
    * the predicate's survivors. */
  private[graft] val annFilteredAdaptiveRecallOracle: String =
    s"""WITH ${annSqrtCtesNp(adaptiveNprobeSql,
          "JOIN embeddings e ON e.vec_id = m.vec_id AND e.label = 1")},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          JOIN embeddings te ON te.vec_id = t.vec_id AND te.label = 1
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Mirror of the `sim_ann_ivfsq8` serve — the composed IVF-SQ8 serving
    * stack: √N Lloyd cell membership/probes ([[lloydCtes]]'s `asgk`),
    * SQ8 candidate scoring by exact integer code dot against the
    * global [mn,mx] range, candK=20 survivors, exact cosine rerank.
    * Every stage is exact integer arithmetic, so candidate sets match
    * the engine bit-for-bit. */
  private[graft] val annIvfSq8Ctes: String = annIvfSq8CtesGate("")

  /** [[annIvfSq8Ctes]] with the quantizer-training gate as a parameter
    * — `sampleGate` restricts the Lloyd ITERATIONS to the hash-gated
    * sample (the r11 sample-trained composed index); the SQ8 range,
    * the codes, and the final assignment always cover the corpus,
    * exactly as in the engine. */
  private[graft] def annIvfSq8CtesGate(sampleGate: String): String =
    s"""${lloydCtes(sqrtKSql, "", sampleGate)},
        cellof AS (SELECT vec_id, cell FROM asgk WHERE arn = 1),
        rng AS (SELECT min(q) AS mn, max(q) AS mx FROM qe),
        cd AS (SELECT vec_id, dim,
                 (q - mn) * 255 // greatest(mx - mn, 1) AS code
               FROM qe CROSS JOIN rng),
        qs AS (SELECT vec_id AS qid, cell FROM asgk
               WHERE arn <= 3 AND vec_id < 5),
        cand AS (SELECT qs.qid, m.vec_id AS nid,
                   CAST(greatest(mx - mn, 1) * greatest(mx - mn, 1)
                          * sum(c.code * qc.code)
                      + 255 * mn * greatest(mx - mn, 1)
                          * (sum(c.code) + sum(qc.code))
                      + count(*) * (255 * mn) * (255 * mn)
                     AS BIGINT) AS sq8_dot
                 FROM qs
                 JOIN cellof m ON m.cell = qs.cell AND m.vec_id != qs.qid
                 JOIN cd c ON c.vec_id = m.vec_id
                 JOIN cd qc ON qc.vec_id = qs.qid AND qc.dim = c.dim
                 CROSS JOIN rng
                 GROUP BY qs.qid, m.vec_id, mn, mx),
        surv AS (SELECT qid, nid, sq8_dot FROM (
                   SELECT qid, nid, sq8_dot, row_number() OVER (
                     PARTITION BY qid ORDER BY sq8_dot DESC, nid) AS crn
                   FROM cand) WHERE crn <= 20),
        qvs AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
                FROM embeddings),
        nn AS (SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT) AS nrm
               FROM qvs),
        rer AS (SELECT surv.qid, surv.nid, surv.sq8_dot,
            CAST(floor(CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                             CAST(b.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM surv
          JOIN nn a ON a.vec_id = surv.qid
          JOIN nn b ON b.vec_id = surv.nid),
        ranked AS (SELECT qid, nid, sq8_dot, cos_e6, row_number() OVER (
                     PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn
                   FROM rer)"""

  private[graft] val annIvfSq8Oracle: String =
    s"""WITH $annIvfSq8Ctes
        SELECT qid, nid, sq8_dot, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Mirror of the `sim_ann_ivfsq8_sample` serve: the composed SQ8 serve
    * over the SAMPLE-trained cell alphabet — only the Lloyd training
    * input changes; range, codes, candidates, and rerank are the
    * full-corpus algebra. */
  private[graft] val annIvfSq8SampleOracle: String =
    s"""WITH ${annIvfSq8CtesGate(sampleGateSql)}
        SELECT qid, nid, sq8_dot, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Recall@5 of the sample-trained composed serve vs the brute-force
    * exact top-5 — [[annIvfSq8RecallOracle]] with the gated training. */
  private[graft] val annIvfSq8SampleRecallOracle: String =
    s"""WITH ${annIvfSq8CtesGate(sampleGateSql)},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Recall@5 of the COMPOSED IVF-SQ8 serving path vs the brute-force
    * exact top-5 — the quality number that prices the composed
    * index's two approximations (probed-cell candidate loss + SQ8
    * code-ranking loss before the exact rerank) together, the same
    * way [[annRecallOracleFor]] prices the plain IVF probe. */
  private[graft] val annIvfSq8RecallOracle: String =
    s"""WITH $annIvfSq8Ctes,
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Mirror of the `sim_ann_ivfpq` serve — the composed IVF-PQ serving
    * stack: √N Lloyd cell membership/probes ([[lloydCtes]]'s `asgk`),
    * per-(subspace, label) codebook ([[pqAdcOracle]]'s construction),
    * every vector encoded as its 8 argmin sub-centroids, ADC candidate
    * scoring (sum of the query's 8 exact table distances over the
    * candidate's codes) restricted to probed-cell members, candK=100
    * survivors (the r12 frontier default — zero ADC loss at the probe
    * ceiling), exact cosine rerank. Exact integers end-to-end. */
  private[graft] val annIvfPqCtes: String = annIvfPqCtesGate("")

  /** [[annIvfPqCtes]] with the coarse-quantizer training gate as a
    * parameter — `sampleGate` restricts the Lloyd ITERATIONS to the
    * hash-gated sample (the r12 sample-trained PQ index); the PQ
    * codebook, the codes, and the final assignment always cover the
    * corpus, exactly as in the engine. */
  private[graft] def annIvfPqCtesGate(sampleGate: String): String =
    s"""${lloydCtes(sqrtKSql, "", sampleGate)},
        cellof AS (SELECT vec_id, cell FROM asgk WHERE arn = 1),
        qel AS (SELECT qe.vec_id, e.label, qe.dim,
                  qe.dim // 8 AS sub, qe.q
                FROM qe JOIN embeddings e USING (vec_id)),
        cb AS (SELECT sub, label AS code, dim,
            CAST(floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
          FROM qel GROUP BY 1, 2, 3),
        sd AS (SELECT qel.vec_id, qel.sub, cb.code,
            CAST(sum((qel.q - cb.c) * (qel.q - cb.c)) AS BIGINT) AS d2
          FROM qel JOIN cb ON qel.sub = cb.sub AND qel.dim = cb.dim
          GROUP BY 1, 2, 3),
        pcodes AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d2, code) AS ern FROM sd)
          WHERE ern = 1),
        qs AS (SELECT vec_id AS qid, cell FROM asgk
               WHERE arn <= 3 AND vec_id < 5),
        qd AS (SELECT vec_id AS qid, sub, code, d2 FROM sd
               WHERE vec_id < 5),
        adc AS (SELECT qs.qid, m.vec_id AS nid,
            CAST(sum(qd.d2) AS BIGINT) AS adc_dist2
          FROM qs
          JOIN cellof m ON m.cell = qs.cell AND m.vec_id != qs.qid
          JOIN pcodes c ON c.vec_id = m.vec_id
          JOIN qd ON qd.qid = qs.qid AND qd.sub = c.sub AND qd.code = c.code
          GROUP BY 1, 2),
        surv AS (SELECT qid, nid, adc_dist2 FROM (
            SELECT qid, nid, adc_dist2, row_number() OVER (
              PARTITION BY qid ORDER BY adc_dist2, nid) AS crn
            FROM adc) WHERE crn <= 100),
        qvs AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
                FROM embeddings),
        nn AS (SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT) AS nrm
               FROM qvs),
        rer AS (SELECT surv.qid, surv.nid, surv.adc_dist2,
            CAST(floor(CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                             CAST(b.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM surv
          JOIN nn a ON a.vec_id = surv.qid
          JOIN nn b ON b.vec_id = surv.nid),
        ranked AS (SELECT qid, nid, adc_dist2, cos_e6, row_number() OVER (
                     PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn
                   FROM rer)"""

  private[graft] val annIvfPqOracle: String =
    s"""WITH $annIvfPqCtes
        SELECT qid, nid, adc_dist2, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Mirror of the `sim_ann_ivfpq_sample` serve: the ADC serve over the
    * SAMPLE-trained coarse alphabet — only the Lloyd training input
    * changes; codebook, codes, ADC, and rerank are the full-corpus
    * algebra. */
  private[graft] val annIvfPqSampleOracle: String =
    s"""WITH ${annIvfPqCtesGate(sampleGateSql)}
        SELECT qid, nid, adc_dist2, cos_e6, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""

  /** Recall@5 of the sample-trained PQ serve vs the brute-force exact
    * top-5 — [[annIvfPqRecallOracle]] with the gated training. */
  private[graft] val annIvfPqSampleRecallOracle: String =
    s"""WITH ${annIvfPqCtesGate(sampleGateSql)},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Recall@5 of the IVF-PQ serve vs the brute-force exact top-5. */
  private[graft] val annIvfPqRecallOracle: String =
    s"""WITH $annIvfPqCtes,
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Recall@5 of the EXACT √N-cell probe path — the probe-limited
    * ceiling: [[annIvfSq8RecallOracle]]'s composed number minus this
    * one is the 8-bit ranking loss (0 after the decoded-dot fix). */
  private[graft] val annSqrtRecallOracle: String =
    s"""WITH ${annSqrtCtes(3)},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  private[graft] val annIvfTrueOracle: String = annIvfOracle(1)

  /** Recall@5 of an IVF ANN path vs the brute-force top-5: the approx
    * side is `annIvfCtes(nprobe)`'s ranked result, the ground truth
    * the label-free exact ranking over the same `nn` norms. */
  private[graft] def annRecallOracleFor(nprobe: Int): String =
    s"""WITH ${annIvfCtes(nprobe)},
        approx AS (SELECT qid, nid FROM ranked WHERE rn <= 5),
        bf AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
            CAST(floor(CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                                             CAST(t.qv AS DOUBLE[])) AS DOUBLE)
              / (sqrt(q.nrm) * sqrt(t.nrm)) * 1000000) AS BIGINT) AS cos_e6
          FROM nn q JOIN nn t ON t.vec_id != q.vec_id
          WHERE q.vec_id < 5),
        bfr AS (SELECT qid, nid, row_number() OVER (
                  PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM bf),
        gt AS (SELECT qid, nid FROM bfr WHERE rn <= 5),
        hits AS (SELECT a.qid, CAST(count(b.nid) AS BIGINT) AS n_hits
                 FROM approx a LEFT JOIN gt b
                   ON a.qid = b.qid AND a.nid = b.nid
                 GROUP BY 1)
        SELECT q.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               (1000000 * COALESCE(h.n_hits, 0)) // 5 AS recall_e6
        FROM (SELECT DISTINCT qid FROM gt) q
        LEFT JOIN hits h USING (qid) ORDER BY qid"""

  /** Mirror of `Similarity.pqAdc`: per-subspace codebooks → nearest-
    * code encoding → query lookup tables → summed ADC distances. All
    * integer-exact (quantized dims, half-up centroid means). */
  private[graft] val pqAdcOracle: String =
    """WITH qe AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
           CAST((i - 1) // 8 AS BIGINT) AS sub,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
         FROM (SELECT vec_id, label, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
       cb AS (SELECT sub, label AS code, dim,
           CAST(floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
         FROM qe GROUP BY 1, 2, 3),
       sd AS (SELECT qe.vec_id, qe.sub, cb.code,
           CAST(sum((qe.q - cb.c) * (qe.q - cb.c)) AS BIGINT) AS d2
         FROM qe JOIN cb ON qe.sub = cb.sub AND qe.dim = cb.dim
         GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, sub, code FROM (
           SELECT vec_id, sub, code, row_number() OVER (
             PARTITION BY vec_id, sub ORDER BY d2, code) AS ern FROM sd)
         WHERE ern = 1),
       qd AS (SELECT vec_id AS qid, sub, code, d2 FROM sd WHERE vec_id < 5),
       adc AS (SELECT qd.qid, codes.vec_id AS nid,
           CAST(sum(qd.d2) AS BIGINT) AS adc_dist2
         FROM codes JOIN qd ON codes.sub = qd.sub AND codes.code = qd.code
         WHERE codes.vec_id != qd.qid GROUP BY 1, 2),
       r AS (SELECT qid, nid, adc_dist2, row_number() OVER (
               PARTITION BY qid ORDER BY adc_dist2, nid) AS rn FROM adc)
       SELECT qid, nid, adc_dist2, CAST(rn AS BIGINT) AS rn
       FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  private[graft] def simOracle(k: Int, sameLabel: Boolean): String = {
    val labelCond = if (sameLabel) "AND t.label = q.label" else ""
    s"""WITH e AS (SELECT vec_id, label,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
        n AS (SELECT vec_id, label, qv,
                     CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT) AS nrm FROM e),
        p AS (SELECT q.vec_id AS qid, t.vec_id AS nid, q.nrm AS qn, t.nrm AS tn,
                     CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(t.qv AS DOUBLE[])) AS BIGINT) AS dot
              FROM n q JOIN n t ON t.vec_id != q.vec_id $labelCond
              WHERE q.vec_id < 5),
        s AS (SELECT qid, nid, CAST(floor(CAST(dot AS DOUBLE)
                / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(tn AS DOUBLE))) * 1000000.0) AS BIGINT) AS cos_e6
              FROM p),
        r AS (SELECT qid, nid, cos_e6,
                     row_number() OVER (PARTITION BY qid ORDER BY cos_e6 DESC, nid) AS rn FROM s)
        SELECT qid, nid, cos_e6, rn FROM r WHERE rn <= $k ORDER BY qid, rn"""
  }

  private[graft] val oracleSql: Map[String, String] = Map(
    // SQ8: codes are exact integers ((q-mn)*255 // (mx-mn) over e4
    // inputs, all non-negative so // == div), so candidate sets match
    // bit-for-bit; the exact rerank reuses simOracle's cosine algebra
    "sim_sq8_rerank" ->
      """WITH e AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         r AS (SELECT min(u) AS mn, max(u) AS mx
               FROM (SELECT unnest(qv) AS u FROM e)),
         c AS (SELECT vec_id,
                 list_transform(qv, u -> (u - mn) * 255 // greatest(mx - mn, 1)) AS code
               FROM e CROSS JOIN r),
         d AS (SELECT q.vec_id AS qid, t.vec_id AS nid,
                 CAST(greatest(mx - mn, 1) * greatest(mx - mn, 1)
                        * CAST(list_dot_product(CAST(q.code AS DOUBLE[]),
                            CAST(t.code AS DOUBLE[])) AS BIGINT)
                    + 255 * mn * greatest(mx - mn, 1)
                        * (CAST(list_sum(q.code) AS BIGINT)
                           + CAST(list_sum(t.code) AS BIGINT))
                    + len(q.code) * (255 * mn) * (255 * mn)
                   AS BIGINT) AS sq8_dot
               FROM c q JOIN c t ON t.vec_id != q.vec_id CROSS JOIN r
               WHERE q.vec_id < 5),
         top AS (SELECT qid, nid, sq8_dot,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY sq8_dot DESC, nid) AS crn FROM d),
         n AS (SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT) AS nrm
               FROM e),
         p AS (SELECT top.qid, top.nid, top.sq8_dot,
                 CAST(list_dot_product(CAST(nq.qv AS DOUBLE[]),
                   CAST(nt.qv AS DOUBLE[])) AS BIGINT) AS dot,
                 nq.nrm AS qn, nt.nrm AS tn
               FROM top
               JOIN n nq ON nq.vec_id = top.qid
               JOIN n nt ON nt.vec_id = top.nid
               WHERE top.crn <= 20),
         s AS (SELECT qid, nid, sq8_dot,
                 CAST(floor(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(tn AS DOUBLE)))
                   * 1000000.0) AS BIGINT) AS cos_e6 FROM p),
         rr AS (SELECT qid, nid, sq8_dot, cos_e6,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cos_e6 DESC, nid) AS rn FROM s)
         SELECT qid, nid, sq8_dot, cos_e6, CAST(rn AS BIGINT) AS rn
         FROM rr WHERE rn <= 5 ORDER BY qid, rn""",
    "sim_cosine_topk" -> simOracle(10, sameLabel = false),
    "sim_ann_ivf" -> simOracle(5, sameLabel = true),
    "sim_ivf_assign" -> ivfAssignOracle,
    "sim_ivf_kmeans" -> simIvfKmeansOracle,
    "view_kmeans_det" -> viewKmeansDetOracle,
    "sim_ann_ivf_true" -> annIvfTrueOracle,
    "sim_ann_recall" -> annRecallOracleFor(1),
    "sim_ann_multiprobe" -> annIvfOracle(3),
    "sim_ann_recall_mp" -> annRecallOracleFor(3),
    // the standing IVF index never changes the answer: serving shares
    // the re-clustering path's oracle verbatim
    "sim_ann_indexed" -> annIvfOracle(3),
    // pinned-quantizer append: centroids train on the base subset
    // only; every vector (base + delta) is assigned against them —
    // a re-training append would drift from this and fail
    "sim_ivf_append" -> ivfAppendOracle,
    // build summary: cell-population audit of the argmin assignment
    "sim_ivf_build" ->
      s"""WITH $ivfAssignCtes,
          pop AS (SELECT cell, count(*) AS n FROM asg
                  WHERE arn = 1 GROUP BY 1)
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop
          FROM pop""",
    // √N-quantizer family: re-clustering path and standing-index
    // serving share one oracle (an index never changes the answer)
    "sim_ann_sqrtk" -> annSqrtOracle(3),
    "sim_ann_indexed_sqrt" -> annSqrtOracle(3),
    "sim_ann_filtered" -> annSqrtFilteredOracle,
    // churn shares the one-shot build's oracle: pinned quantizer +
    // deterministic assignment means neither incremental commits nor
    // compaction may ever change an answer
    "sim_ivf_churn" -> annSqrtOracle(3),
    // build summary: cell-population audit under the √N quantizer —
    // n_cells grows as ⌈√N⌉ with the corpus, the scale rule itself
    "sim_ivf_build_sqrt" ->
      s"""WITH ${lloydCtes(sqrtKSql)},
          pop AS (SELECT cell, count(*) AS n FROM asgk
                  WHERE arn = 1 GROUP BY 1)
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop
          FROM pop""",
    // composed IVF-SQ8 build: the √N cell-population audit plus the
    // pinned global SQ8 range — the two build-time decisions a
    // deployment monitors for drift
    "sim_ivfsq8_build" ->
      s"""WITH ${lloydCtes(sqrtKSql)},
          pop AS (SELECT cell, count(*) AS n FROM asgk
                  WHERE arn = 1 GROUP BY 1),
          rng AS (SELECT min(q) AS mn, max(q) AS mx FROM qe)
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop,
                 CAST(min(mn) AS BIGINT) AS mn,
                 CAST(max(mx) AS BIGINT) AS mx
          FROM pop CROSS JOIN rng""",
    // composed IVF-SQ8 serve: √N Lloyd cells (members at arn=1,
    // probes at arn<=3) generate candidates by exact-integer SQ8 code
    // dot against the pinned global range; only the candK=20
    // survivors get the exact cosine rerank — the index and the codes
    // never change the answer's algebra, so this oracle IS the
    // unindexed computation
    "sim_ann_ivfsq8" -> annIvfSq8Oracle,
    // recall@5 of the composed index: both approximations priced
    // together against the brute-force exact top-5
    "sim_ann_ivfsq8_recall" -> annIvfSq8RecallOracle,
    "sim_ann_recall_sqrt" -> annSqrtRecallOracle,
    // sample-trained √N family: training iterations read only the
    // hash-gated 8·⌈√N⌉ sample (the linear-cost build), the final
    // assignment the full corpus; n_sample in the build audit is the
    // measured witness that the N^1.5 training term was capped
    "sim_ivf_build_sample" ->
      s"""WITH ${lloydCtes(sqrtKSql, "", sampleGateSql)},
          pop AS (SELECT cell, count(*) AS n FROM asgk
                  WHERE arn = 1 GROUP BY 1),
          smp AS (SELECT CAST(count(*) AS BIGINT) AS n_sample
                  FROM embeddings WHERE $sampleGateSql)
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop,
                 CAST(max(n_sample) AS BIGINT) AS n_sample
          FROM pop CROSS JOIN smp""",
    "sim_ann_indexed_sample" -> annSampleOracle,
    "sim_ann_recall_sample" -> annSampleRecallOracle,
    // sample-trained composed index (r11): gate-sampled Lloyd + pinned
    // global range + direct SQ8 encode, same 3-commit layout; the
    // build audit carries cell populations + pinned range + n_sample
    "sim_ivfsq8_build_sample" ->
      s"""WITH ${lloydCtes(sqrtKSql, "", sampleGateSql)},
          pop AS (SELECT cell, count(*) AS n FROM asgk
                  WHERE arn = 1 GROUP BY 1),
          rng AS (SELECT min(q) AS mn, max(q) AS mx FROM qe),
          smp AS (SELECT CAST(count(*) AS BIGINT) AS n_sample
                  FROM embeddings WHERE $sampleGateSql)
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop,
                 CAST(min(mn) AS BIGINT) AS mn,
                 CAST(max(mx) AS BIGINT) AS mx,
                 CAST(max(n_sample) AS BIGINT) AS n_sample
          FROM pop CROSS JOIN rng CROSS JOIN smp""",
    "sim_ann_ivfsq8_sample" -> annIvfSq8SampleOracle,
    "sim_ann_ivfsq8_sample_recall" -> annIvfSq8SampleRecallOracle,
    // filtered-ANN recall: approx and ground truth BOTH under the
    // member predicate — isolates probe starvation (VERDICT r9 #7)
    "sim_ann_filtered_recall" -> annFilteredRecallOracle,
    // adaptive probe width (r11): nprobe widens with 1/selectivity,
    // capped — the coded fix for the probe-starvation law
    "sim_ann_filtered_adaptive" -> annFilteredAdaptiveOracle,
    "sim_ann_filtered_adaptive_recall" -> annFilteredAdaptiveRecallOracle,
    "sim_centroids" ->
      """WITH q AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
           FROM (SELECT label, embedding,
                   unnest(range(1, len(embedding) + 1)) AS i FROM embeddings))
         SELECT label, dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
                CAST(sum(q) AS DOUBLE) / count(*) AS centroid_e4
         FROM q GROUP BY 1, 2 ORDER BY 1, 2""",
    "sim_knn_classify" -> {
      val topk = simOracle(10, sameLabel = false)
      s"""WITH topk AS ($topk),
          lab AS (SELECT vec_id, label FROM embeddings),
          v AS (SELECT t.qid, l.label AS nlabel, count(*) AS votes,
                       min(t.rn) AS best_rn
                FROM topk t JOIN lab l ON l.vec_id = t.nid
                GROUP BY 1, 2),
          r AS (SELECT qid, nlabel, votes,
                       row_number() OVER (PARTITION BY qid
                         ORDER BY votes DESC, best_rn, nlabel) AS vr FROM v)
          SELECT r.qid, r.nlabel AS predicted_label, r.votes,
                 q.label AS true_label,
                 (r.nlabel = q.label) AS correct
          FROM r JOIN lab q ON q.vec_id = r.qid
          WHERE r.vr = 1 ORDER BY r.qid"""
    },
    "sim_pq_adc" -> pqAdcOracle,
    // IVF-PQ standing index (r11 stretch): the higher-compression
    // point on the composed-index curve — PQ codes in the postings,
    // ADC candidate scoring, exact rerank; cb_rows in the build audit
    // pins the pinned codebook's size
    "sim_ivfpq_build" ->
      s"""WITH ${lloydCtes(sqrtKSql)},
          pop AS (SELECT cell, count(*) AS n FROM asgk
                  WHERE arn = 1 GROUP BY 1),
          qel AS (SELECT qe.vec_id, e.label, qe.dim,
                    qe.dim // 8 AS sub, qe.q
                  FROM qe JOIN embeddings e USING (vec_id)),
          cbn AS (SELECT CAST(count(*) AS BIGINT) AS cb_rows FROM (
                    SELECT sub, label, dim FROM qel GROUP BY 1, 2, 3))
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop,
                 CAST(max(cb_rows) AS BIGINT) AS cb_rows
          FROM pop CROSS JOIN cbn""",
    "sim_ann_ivfpq" -> annIvfPqOracle,
    "sim_ann_ivfpq_recall" -> annIvfPqRecallOracle,
    // sample-trained PQ (r12): gate-sampled coarse Lloyd under the
    // unchanged PQ machinery — codebook, encode, ADC, rerank are the
    // full-corpus algebra; the audit carries n_sample as the witness
    // that the N^1.5 coarse-training term was capped
    "sim_ivfpq_build_sample" ->
      s"""WITH ${lloydCtes(sqrtKSql, "", sampleGateSql)},
          pop AS (SELECT cell, count(*) AS n FROM asgk
                  WHERE arn = 1 GROUP BY 1),
          qel AS (SELECT qe.vec_id, e.label, qe.dim,
                    qe.dim // 8 AS sub, qe.q
                  FROM qe JOIN embeddings e USING (vec_id)),
          cbn AS (SELECT CAST(count(*) AS BIGINT) AS cb_rows FROM (
                    SELECT sub, label, dim FROM qel GROUP BY 1, 2, 3)),
          smp AS (SELECT CAST(count(*) AS BIGINT) AS n_sample
                  FROM embeddings WHERE $sampleGateSql)
          SELECT CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(n) AS BIGINT) AS n_vecs,
                 CAST(min(n) AS BIGINT) AS min_cell_pop,
                 CAST(max(n) AS BIGINT) AS max_cell_pop,
                 CAST(max(cb_rows) AS BIGINT) AS cb_rows,
                 CAST(max(n_sample) AS BIGINT) AS n_sample
          FROM pop CROSS JOIN cbn CROSS JOIN smp""",
    "sim_ann_ivfpq_sample" -> annIvfPqSampleOracle,
    "sim_ann_ivfpq_sample_recall" -> annIvfPqSampleRecallOracle,
  )
}
