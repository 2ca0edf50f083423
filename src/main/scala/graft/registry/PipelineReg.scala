package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, max}
import graft.operators._
import graft.operators.StandingIndex.Served
import graft.registry.RegShared._
import graft.streaming.StreamVector

/** Pipeline slice of the driver contract: sampling, packing, lake ops, data-quality, streaming, multimodal, and format round-trips with their DuckDB oracles.
  *
  * Split out of SparkEntry (r11): entries and oracle SQL move verbatim;
  * SparkEntry concatenates the family maps. Column names stay identical
  * between `queries` and `oracleSql` (the driver sorts columns by name
  * before hashing).
  */
object PipelineReg {

  /** The byte near-dup FIXTURE: the spread documents as binary assets
    * plus deterministically planted near-twins (every doc_id ≡ 0 mod
    * 37 copied with its first 5 bytes replaced, asset_id + 10⁶) so the
    * two dedup queries demonstrate their own recall end to end. The
    * planting lives HERE, in the query body, not in the operator
    * (VERDICT r12 item 2) — a real caller hands
    * [[graft.multimodal.Multimodal.byteNearDup]] a clean corpus; the
    * oracle embeds the same planted rows. */
  private[graft] def mmPlantedAssets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables(s, dir).documentsSpread
      .select(col("doc_id"), col("text"))
    val base = docs.select(col("doc_id").as("asset_id"),
      encode(col("text"), "UTF-8").as("content"))
    val planted = docs.filter(pmod(col("doc_id"), lit(37L)) === 0)
      .select((col("doc_id") + 1000000L).as("asset_id"),
        encode(concat(lit("XXXXX"), expr("substring(text, 6)")), "UTF-8")
          .as("content"))
    base.unionByName(planted)
  }

  private[graft] val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_json_roundtrip" -> Coverage.s1JsonRoundtrip _,
    "mm_byte_metrics" -> Coverage.mmByteMetrics _,
    // documentsSpread: segmentation explodes ~4 segments/doc of
    // substring+md5 CPU — session-parallel, not split-bound (the x100
    // single-split lesson; measured 25.9 -> 4.3 s at x100)
    "mm_dedup_signature" -> ((s: SparkSession, dir: String) =>
      graft.multimodal.Multimodal.byteNearDup(mmPlantedAssets(s, dir))),
    // exact-collapse → near-dup composition: byte-identical copies
    // fold to one canonical rep (+ multiplicity) BEFORE the banded
    // LSH, so the replica-clique candidate blowup the x10 fixture
    // exposed (O(N·dup²)) collapses to O(U·near-dup-rate)
    "mm_dedup_collapsed" -> ((s: SparkSession, dir: String) =>
      graft.multimodal.Multimodal.byteNearDupCollapsed(
        mmPlantedAssets(s, dir))),
    // incremental form: standing corpus signed once into tx tables,
    // the new batch (hash bucket 4 of 5) verified against it —
    // per-batch cost |batch|-proportional
    "mm_dedup_incremental" -> ((s: SparkSession, dir: String) => {
      val a = mmPlantedAssets(s, dir)
        .withColumn("bkt", org.apache.spark.sql.functions.pmod(
          graft.functions.PortableHash.phash(
            col("asset_id").cast("string"), 21), lit(5L)))
      graft.multimodal.Multimodal.byteNearDupIncremental(s,
        a.filter(col("bkt") < 4).drop("bkt"),
        a.filter(col("bkt") === 4).drop("bkt"))
    }),
    "mm_segments" -> ((s: SparkSession, dir: String) =>
      graft.multimodal.Multimodal.segments(
        graft.core.Tables(s, dir).documentsSpread.select(
          org.apache.spark.sql.functions.col("doc_id").as("asset_id"),
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("text"), "UTF-8")
            .as("content")))),
    "stream_sessionize" -> graft.streaming.StreamSessionize.streamSessionize _,
    "stream_state_sessionize" ->
      graft.streaming.StreamStateSessionize.streamStateSessionize _,
    "s2_csv_roundtrip" -> graft.sources.Roundtrip.s2CsvRoundtrip _,
    "s3_partitioned_prune" -> graft.sources.Roundtrip.s3PartitionedPrune _,
    "sample_split" -> Sampling.sampleSplit _,
    "sample_temperature" -> ((s: SparkSession, dir: String) =>
      Sampling.sampleTemperature(s, dir)),
    "sample_quality_tiers" -> Sampling.sampleQualityTiers _,
    "dq_winsorize" -> DataQuality.dqWinsorize _,
    "sample_balanced" -> ((s: SparkSession, dir: String) =>
      Sampling.sampleBalanced(s, dir)),
    "stream_static_join" -> graft.streaming.StreamStaticJoin.streamStaticJoin _,
    "stream_stream_join" -> graft.streaming.StreamStreamJoin.streamStreamJoin _,
    "pipeline_curate" -> Pipelines.curate _,
    "pipeline_pack" -> ((s: SparkSession, dir: String) =>
      Pipelines.packSequences(s, dir)),
    "mm_chunk_sample" -> ((s: SparkSession, dir: String) =>
      Pipelines.mmChunkSample(s, dir)),
    "stream_dedup" -> graft.streaming.StreamDedup.streamDedup _,
    "stream_fts_serve" -> ((s: SparkSession, dir: String) =>
      graft.streaming.StreamFts.streamFtsServe(s, dir)),
    "stream_ivf_serve" -> ((s: SparkSession, dir: String) =>
      StreamVector.serve(s, dir, VectorIndex.IvfStream)),
    "stream_ivfsq8_serve" -> ((s: SparkSession, dir: String) =>
      StreamVector.serve(s, dir, VectorIndex.Sq8Stream)),
    "stream_ivfpq_serve" -> ((s: SparkSession, dir: String) =>
      StreamVector.serve(s, dir, VectorIndex.PqStream)),
    // the SERVE half alone, against the get-or-streamed standing
    // snapshot: each row declares its streamed family, so Bench warms
    // the seed+stream before timing and these rows time what a
    // deployment pays per query on a stream-maintained index — the
    // *_serve rows keep owning the whole lifecycle
    "stream_ivfsq8_serve_only" -> served(VectorIndex.Sq8Stream),
    "stream_ivfpq_serve_only" -> served(VectorIndex.PqStream),
    "stream_fts_serve_only" -> Served(TextIndex.FtsStream)((s, _, idx) =>
      TextIndex.serve(s, idx, Seq("spark", "join", "vector"), 10)),
    "stream_ivf_serve_only" -> served(VectorIndex.IvfStream),
    "sample_mixture" -> Sampling.sampleMixture _,
    "sample_shuffle" -> Sampling.sampleShuffle _,
    "sample_token_budget" -> Sampling.sampleTokenBudget _,
    "sample_leakage_safe" -> Sampling.sampleLeakageSafe _,
    "s4_orc_roundtrip" -> graft.sources.Roundtrip.s4OrcRoundtrip _,
    "lake_merge_upsert" -> graft.lake.LakeOps.lakeMergeUpsert _,
    "lake_cdc_diff" -> graft.lake.LakeOps.lakeCdcDiff _,
    "lake_skip_read" -> graft.lake.LakeOps.lakeSkipRead _,
    "lake_delete" -> graft.lake.LakeOps.lakeDelete _,
    "lake_time_travel" -> graft.lake.LakeOps.lakeTimeTravel _,
    "lake_point_read" -> graft.lake.LakeOps.lakePointRead _,
    "f_zorder" -> FunctionSuites.fZorder _,
    "dq_profile" -> DataQuality.dqProfile _,
    "dq_expectations" -> DataQuality.dqExpectations _,
    "dq_drift" -> ((s: SparkSession, dir: String) =>
      DataQuality.dqDrift(s, dir)),
    // NOTE: the spark.ml KMeans view (Views.kmeansCenters) is a LIBRARY
    // CROSS-CHECK covered by ViewsSpec, not a declared query — its hash-
    // verified twin is `view_kmeans_det` (COVERAGE.md D11 policy), so
    // every declared query carries a DuckDB oracle.,
  )

  private[graft] val oracleSql: Map[String, String] = Map(
    "s1_json_roundtrip" ->
      """WITH j AS (SELECT to_json(struct_pack(doc_id := doc_id, lang := lang)) AS j
                    FROM documents)
         SELECT json_extract_string(j, '$.lang') AS back_lang, count(*) AS n,
                CAST(sum(CAST(json_extract_string(j, '$.doc_id') AS BIGINT)) AS BIGINT)
                  AS sum_ids
         FROM j GROUP BY 1 ORDER BY 1""",
    // byte-level multimodal near-dup (r12): MinHash-LSH over DISTINCT
    // 24-byte shingles (stride 4) of the hex byte view — 4 single-hash
    // bands, exact shingle-Jaccard verify on candidates only; planted
    // twins (doc_id % 37 = 0, first 5 bytes replaced) demonstrate
    // recall end to end
    "mm_dedup_signature" -> {
      import graft.functions.PortableHash.phashWindowSql
      s"""WITH a0 AS (SELECT doc_id AS asset_id, text AS txt FROM documents
              UNION ALL
              SELECT doc_id + 1000000, 'XXXXX' || substring(text, 6)
              FROM documents WHERE doc_id % 37 = 0),
          a AS (SELECT asset_id, upper(hex(encode(txt))) AS hx,
                       octet_length(encode(txt)) AS nb
                FROM a0 WHERE octet_length(encode(txt)) >= 24),
          g0 AS (SELECT asset_id,
                        substring(hx, CAST(8 * j + 1 AS INTEGER), 48) AS gram
                 FROM (SELECT asset_id, hx,
                         unnest(range(0, (nb - 24) // 4 + 1)) AS j FROM a)),
          sh AS (SELECT DISTINCT asset_id, md5(gram) AS m FROM g0),
          sig AS (SELECT asset_id,
                         min(${phashWindowSql("m", 0)}) AS mh1,
                         min(${phashWindowSql("m", 1)}) AS mh2,
                         min(${phashWindowSql("m", 2)}) AS mh3,
                         min(${phashWindowSql("m", 3)}) AS mh4,
                         count(*) AS n_sh
                  FROM sh GROUP BY asset_id),
          bands AS (SELECT asset_id, n_sh,
                           unnest(['1_' || CAST(mh1 AS VARCHAR),
                                   '2_' || CAST(mh2 AS VARCHAR),
                                   '3_' || CAST(mh3 AS VARCHAR),
                                   '4_' || CAST(mh4 AS VARCHAR)]) AS bk
                    FROM sig),
          cand AS (SELECT DISTINCT l.asset_id AS a, r.asset_id AS b,
                          l.n_sh AS na, r.n_sh AS nb
                   FROM bands l JOIN bands r
                     ON l.bk = r.bk AND l.asset_id < r.asset_id),
          i AS (SELECT cand.a, cand.b, count(*) AS inter
                FROM cand
                JOIN sh x ON x.asset_id = cand.a
                JOIN sh y ON y.asset_id = cand.b AND y.m = x.m
                GROUP BY 1, 2),
          p AS (SELECT cand.a, cand.b,
                       COALESCE(i.inter, 0) AS inter,
                       cand.na + cand.nb - COALESCE(i.inter, 0) AS union_n
                FROM cand LEFT JOIN i ON i.a = cand.a AND i.b = cand.b)
          SELECT a, b, CAST(inter AS BIGINT) AS inter,
                 CAST(union_n AS BIGINT) AS union_n,
                 (20000 * inter + union_n) // (2 * union_n) AS jaccard_e4
          FROM p WHERE (20000 * inter + union_n) // (2 * union_n) >= 4000
          ORDER BY a, b"""
    },
    // collapsed form: byte-identical copies fold to the min-id rep
    // (grouping by the text itself — DuckDB's view of "same content
    // fingerprint"; Spark groups by md5(content), the same partition
    // of rows) before the identical shingle/band/verify algebra, with
    // each surviving rep pair carrying its copies_a·copies_b
    // multiplicity
    "mm_dedup_collapsed" -> {
      import graft.functions.PortableHash.phashWindowSql
      s"""WITH a0 AS (SELECT doc_id AS asset_id, text AS txt FROM documents
              UNION ALL
              SELECT doc_id + 1000000, 'XXXXX' || substring(text, 6)
              FROM documents WHERE doc_id % 37 = 0),
          rep AS (SELECT min(asset_id) AS asset_id, txt,
                         count(*) AS n_copies
                  FROM a0 GROUP BY txt),
          a AS (SELECT asset_id, upper(hex(encode(txt))) AS hx,
                       octet_length(encode(txt)) AS nb
                FROM rep WHERE octet_length(encode(txt)) >= 24),
          g0 AS (SELECT asset_id,
                        substring(hx, CAST(8 * j + 1 AS INTEGER), 48) AS gram
                 FROM (SELECT asset_id, hx,
                         unnest(range(0, (nb - 24) // 4 + 1)) AS j FROM a)),
          sh AS (SELECT DISTINCT asset_id, md5(gram) AS m FROM g0),
          sig AS (SELECT asset_id,
                         min(${phashWindowSql("m", 0)}) AS mh1,
                         min(${phashWindowSql("m", 1)}) AS mh2,
                         min(${phashWindowSql("m", 2)}) AS mh3,
                         min(${phashWindowSql("m", 3)}) AS mh4,
                         count(*) AS n_sh
                  FROM sh GROUP BY asset_id),
          bands AS (SELECT asset_id, n_sh,
                           unnest(['1_' || CAST(mh1 AS VARCHAR),
                                   '2_' || CAST(mh2 AS VARCHAR),
                                   '3_' || CAST(mh3 AS VARCHAR),
                                   '4_' || CAST(mh4 AS VARCHAR)]) AS bk
                    FROM sig),
          cand AS (SELECT DISTINCT l.asset_id AS a, r.asset_id AS b,
                          l.n_sh AS na, r.n_sh AS nb
                   FROM bands l JOIN bands r
                     ON l.bk = r.bk AND l.asset_id < r.asset_id),
          i AS (SELECT cand.a, cand.b, count(*) AS inter
                FROM cand
                JOIN sh x ON x.asset_id = cand.a
                JOIN sh y ON y.asset_id = cand.b AND y.m = x.m
                GROUP BY 1, 2),
          p AS (SELECT cand.a, cand.b,
                       COALESCE(i.inter, 0) AS inter,
                       cand.na + cand.nb - COALESCE(i.inter, 0) AS union_n
                FROM cand LEFT JOIN i ON i.a = cand.a AND i.b = cand.b)
          SELECT p.a, p.b, CAST(p.inter AS BIGINT) AS inter,
                 CAST(p.union_n AS BIGINT) AS union_n,
                 (20000 * p.inter + p.union_n) // (2 * p.union_n)
                   AS jaccard_e4,
                 CAST(ra.n_copies AS BIGINT) AS copies_a,
                 CAST(rb.n_copies AS BIGINT) AS copies_b
          FROM p JOIN rep ra ON ra.asset_id = p.a
                 JOIN rep rb ON rb.asset_id = p.b
          WHERE (20000 * p.inter + p.union_n) // (2 * p.union_n) >= 4000
          ORDER BY a, b"""
    },
    // incremental byte near-dup: same shingle/band/verify algebra with
    // the corpus hash-split (phash salt 21, buckets 0-3 standing /
    // 4 incoming) and candidates restricted to standing × new — the
    // tx-table transport cancels out of the oracle, like the lake ops
    "mm_dedup_incremental" -> {
      import graft.functions.PortableHash.phashWindowSql
      val bkt = phashSql("CAST(asset_id AS VARCHAR)", 21)
      s"""WITH a0 AS (SELECT doc_id AS asset_id, text AS txt FROM documents
              UNION ALL
              SELECT doc_id + 1000000, 'XXXXX' || substring(text, 6)
              FROM documents WHERE doc_id % 37 = 0),
          a AS (SELECT asset_id, upper(hex(encode(txt))) AS hx,
                       octet_length(encode(txt)) AS nb,
                       $bkt % 5 AS bkt
                FROM a0 WHERE octet_length(encode(txt)) >= 24),
          g0 AS (SELECT asset_id,
                        substring(hx, CAST(8 * j + 1 AS INTEGER), 48) AS gram
                 FROM (SELECT asset_id, hx,
                         unnest(range(0, (nb - 24) // 4 + 1)) AS j FROM a)),
          sh AS (SELECT DISTINCT asset_id, md5(gram) AS m FROM g0),
          sig AS (SELECT asset_id,
                         min(${phashWindowSql("m", 0)}) AS mh1,
                         min(${phashWindowSql("m", 1)}) AS mh2,
                         min(${phashWindowSql("m", 2)}) AS mh3,
                         min(${phashWindowSql("m", 3)}) AS mh4,
                         count(*) AS n_sh
                  FROM sh GROUP BY asset_id),
          bands AS (SELECT asset_id, n_sh,
                           unnest(['1_' || CAST(mh1 AS VARCHAR),
                                   '2_' || CAST(mh2 AS VARCHAR),
                                   '3_' || CAST(mh3 AS VARCHAR),
                                   '4_' || CAST(mh4 AS VARCHAR)]) AS bk
                    FROM sig),
          cand AS (SELECT DISTINCT l.asset_id AS a, r.asset_id AS b,
                          l.n_sh AS na, r.n_sh AS nb
                   FROM bands l JOIN bands r ON l.bk = r.bk
                   JOIN a la ON la.asset_id = l.asset_id
                   JOIN a ra ON ra.asset_id = r.asset_id
                   WHERE la.bkt < 4 AND ra.bkt = 4),
          i AS (SELECT cand.a, cand.b, count(*) AS inter
                FROM cand
                JOIN sh x ON x.asset_id = cand.a
                JOIN sh y ON y.asset_id = cand.b AND y.m = x.m
                GROUP BY 1, 2),
          p AS (SELECT cand.a, cand.b,
                       COALESCE(i.inter, 0) AS inter,
                       cand.na + cand.nb - COALESCE(i.inter, 0) AS union_n
                FROM cand LEFT JOIN i ON i.a = cand.a AND i.b = cand.b)
          SELECT a, b, CAST(inter AS BIGINT) AS inter,
                 CAST(union_n AS BIGINT) AS union_n,
                 (20000 * inter + union_n) // (2 * union_n) AS jaccard_e4
          FROM p WHERE (20000 * inter + union_n) // (2 * union_n) >= 4000
          ORDER BY a, b"""
    },
    "mm_segments" ->
      """WITH a AS (SELECT doc_id AS asset_id, text AS txt,
                    len(text) AS l FROM documents),
         s AS (SELECT asset_id, txt, (l - 100) // 60 + 1 AS n
               FROM a WHERE l >= 100),
         e AS (SELECT asset_id, txt, unnest(range(0, n)) AS i FROM s)
         SELECT asset_id, CAST(i AS BIGINT) AS seg_id,
                CAST(i * 60 AS BIGINT) AS seg_start,
                md5(substring(txt, CAST(i * 60 + 1 AS INTEGER), 100)) AS seg_md5
         FROM e ORDER BY asset_id, seg_id""",
    "mm_byte_metrics" ->
      """SELECT doc_id AS asset_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                CAST((octet_length(encode(text)) - 1) // 256 + 1 AS BIGINT) AS n_chunks,
                md5(text) AS content_md5
         FROM documents ORDER BY asset_id""",
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         w AS (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id
                 ORDER BY us) AS prev_us FROM e),
         f AS (SELECT user_id, us,
                      CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                           THEN 1 ELSE 0 END AS new_sess FROM w),
         g AS (SELECT user_id, us, sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f)
         SELECT user_id, CAST(min(us) AS BIGINT) AS sess_start_us,
                CAST(max(us) + 1800000000 AS BIGINT) AS sess_end_us,
                count(*) AS n_events
         FROM g GROUP BY user_id, sid
         -- Spark tracks watermarks in whole MILLISECONDS: the cut is the
         -- ms-floored global max event time, not the raw microsecond max
         HAVING max(us) + 1800000000 <= (SELECT (max(us) // 1000) * 1000 FROM e)
         ORDER BY user_id, sess_start_us""",
    "stream_state_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         w AS (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id
                 ORDER BY us) AS prev_us FROM e),
         f AS (SELECT user_id, us,
                      CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                           THEN 1 ELSE 0 END AS new_sess FROM w),
         g AS (SELECT user_id, us, sum(new_sess) OVER (PARTITION BY user_id
                 ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f),
         s AS (SELECT user_id, sid, CAST(min(us) AS BIGINT) AS sess_start_us,
                      CAST(max(us) AS BIGINT) AS sess_last_us,
                      count(*) AS n_events FROM g GROUP BY 1, 2),
         m AS (SELECT user_id, max(sid) AS max_sid FROM s GROUP BY 1)
         SELECT s.user_id, s.sess_start_us, s.sess_last_us, s.n_events
         FROM s JOIN m ON s.user_id = m.user_id AND s.sid < m.max_sid
         ORDER BY s.user_id, s.sess_start_us""",
    "sample_split" ->
      s"""WITH b AS (SELECT lang, $splitBucketSql AS bucket FROM documents)
          SELECT lang, $splitCaseSql AS split, count(*) AS n_docs
          FROM b GROUP BY 1, 2 ORDER BY 1, 2""",
    "sample_balanced" -> {
      val h = phashSql("CAST(doc_id AS VARCHAR)", 12)
      s"""WITH h AS (SELECT lang, doc_id, $h AS h FROM documents),
          r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
                  ORDER BY h, doc_id) AS rn FROM h)
          SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id
          FROM r WHERE rn <= 50 ORDER BY lang, rn"""
    },
    "stream_stream_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
               WHERE event_type = 'purchase')
         SELECT c.user_id, c.c_us, p.p_us
         FROM c JOIN p ON c.user_id = p.user_id
           AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 3600000000
         ORDER BY 1, 2, 3""",
    "stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "pipeline_curate" -> {
      s"""WITH q AS (SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
           FROM documents),
          qq AS (SELECT * FROM q
                 WHERE n_tokens >= 30 AND n_distinct * 2 >= n_tokens),
          k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5($normSql))
                  AS keep_id FROM qq),
          b AS (SELECT lang, n_tokens, $splitBucketSql AS bucket
                FROM k WHERE doc_id = keep_id)
          SELECT lang, $splitCaseSql AS split,
                 count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
          FROM b GROUP BY 1, 2 ORDER BY 1, 2"""
    },
    "pipeline_pack" ->
      """WITH d AS (SELECT lang, doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         w AS (SELECT lang, doc_id, n_tokens,
                      sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
         SELECT lang, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "mm_chunk_sample" ->
      """WITH m AS (SELECT doc_id,
                    (greatest(octet_length(encode(text)), 1) - 1) // 256
                      AS max_chunk
                    FROM documents),
         c AS (SELECT doc_id, unnest(range(0, max_chunk + 1)) AS chunk_idx
               FROM m)
         SELECT doc_id, count(*) AS n_sampled,
                CAST(max(chunk_idx) AS BIGINT) AS last_sampled
         FROM c WHERE chunk_idx % 10 = 0 GROUP BY 1 ORDER BY 1""",
    "s2_csv_roundtrip" ->
      """SELECT coalesce(lang, 'unknown') AS lang,
                coalesce(source, 'unknown') AS source,
                count(*) AS n_docs,
                CAST(sum(length(text)) AS BIGINT) AS sum_len
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    "s3_partitioned_prune" ->
      """SELECT coalesce(lang, 'unknown') AS lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE coalesce(lang, 'unknown') = 'en'
         GROUP BY 1 ORDER BY 1""",
    "s4_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                  AS qty_cents
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    // the tx-table machinery cancels out of the oracle: MERGE == the
    // upsert FULL OUTER JOIN over the same inputs
    "lake_merge_upsert" ->
      """WITH base AS (SELECT c_custkey AS k,
                CAST(round(c_acctbal * 100) AS BIGINT) AS val_cents,
                c_mktsegment AS seg FROM customer),
         upd AS (SELECT o_custkey AS k,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS val_cents,
                'updated' AS seg FROM orders GROUP BY 1),
         ins AS (SELECT 20000000 + s_suppkey AS k,
                CAST(round(s_acctbal * 100) AS BIGINT) AS val_cents,
                'inserted' AS seg FROM supplier),
         src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         SELECT coalesce(s.k, b.k) AS k,
                coalesce(s.val_cents, b.val_cents) AS val_cents,
                coalesce(s.seg, b.seg) AS seg
         FROM base b FULL OUTER JOIN src s ON b.k = s.k
         ORDER BY k""",
    // net row changes of an update-only merge: each updated key's old
    // row (delete) + new row (insert); untouched/rewritten rows cancel
    "lake_cdc_diff" ->
      """WITH base AS (SELECT c_custkey AS k,
                CAST(round(c_acctbal * 100) AS BIGINT) AS val_cents,
                c_mktsegment AS seg FROM customer),
         upd AS (SELECT o_custkey AS k,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS val_cents,
                'updated' AS seg FROM orders
                WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
         SELECT b.k, b.val_cents, b.seg, 'delete' AS _change
         FROM base b WHERE b.k IN (SELECT k FROM upd)
         UNION ALL
         SELECT k, val_cents, seg, 'insert' AS _change FROM upd
         ORDER BY _change, k""",
    // file skipping is an optimization, never a semantic: the pruned
    // read must equal the plain range filter
    "lake_skip_read" ->
      """WITH b AS (SELECT min(o_orderkey) AS mn,
                min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 8
                  AS hi
           FROM orders)
         SELECT o_orderpriority AS prio, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM orders, b WHERE o_orderkey BETWEEN b.mn AND b.hi
         GROUP BY 1 ORDER BY 1""",
    // ... and so must the STREAM-MAINTAINED index (seed commit + late
    // micro-batch commits + merged-snapshot serving) — the full-corpus
    // scan oracle verifies the whole pipeline end to end
    "stream_fts_serve" -> TextReg.bm25Oracle,
    // the stream-maintained VECTOR index (r12): pinned base-trained
    // quantizer + per-micro-batch idempotent delta commits + merged
    // serve — shares sim_ivf_append's re-clustering oracle verbatim,
    // because neither the transport nor redelivery may change answers
    "stream_ivf_serve" -> SimReg.ivfAppendOracle,
    // the stream-maintained COMPOSED index (r13): pinned sample-trained
    // centroids + pinned SQ8 range + per-micro-batch idempotent delta
    // commits + merged code-scan serve — shares the sample-trained
    // batch build's oracle verbatim, because the transport is
    // answer-neutral by construction (same pinned artifacts, same
    // exact-integer assignment and encode)
    "stream_ivfsq8_serve" -> SimReg.annIvfSq8SampleOracle,
    // ... and the PRODUCT-quantized one (r13): pinned sample-trained
    // centroids + pinned per-(sub, code) codebook + per-micro-batch
    // idempotent delta commits + merged ADC serve — shares the
    // sample-trained PQ batch build's oracle verbatim for the same
    // reason (per-vector exact-integer encode against pinned
    // artifacts: slicing the corpus cannot move a code)
    "stream_ivfpq_serve" -> SimReg.annIvfPqSampleOracle,
    // serve-only twins (r14): same merged snapshot, same pinned
    // artifacts, same serve implementation — so the same oracles
    "stream_ivfsq8_serve_only" -> SimReg.annIvfSq8SampleOracle,
    "stream_ivfpq_serve_only" -> SimReg.annIvfPqSampleOracle,
    // the FTS serve-only twin (r15): same merged snapshot, same pinned
    // stats, same scoring tail — the full-corpus BM25 scan oracle
    // verifies it verbatim, like stream_fts_serve and text_bm25_indexed
    "stream_fts_serve_only" -> TextReg.bm25Oracle,
    // ... and the exact-IVF serve-only twin, completing the matrix:
    // shares the re-clustering oracle with the lifecycle row
    "stream_ivf_serve_only" -> SimReg.ivfAppendOracle,
    "sample_mixture" -> {
      val h = phashSql("CAST(doc_id AS VARCHAR)",
        graft.operators.Sampling.mixtureSalt)
      val rateCase = graft.operators.Sampling.mixtureRatesE3
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", " ELSE 0 END")
      s"""WITH r AS (SELECT doc_id, lang, $rateCase AS rate_e3,
              $h % 1000 AS hb
            FROM documents),
         c AS (SELECT lang, doc_id, rate_e3 // 1000 +
                 CASE WHEN hb < rate_e3 % 1000 THEN 1 ELSE 0 END AS copies
               FROM r)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(copies) AS BIGINT) AS n_rows,
                CAST(sum(doc_id * copies) AS BIGINT) AS id_checksum
         FROM c WHERE copies > 0 GROUP BY 1 ORDER BY 1"""
    },
    "sample_quality_tiers" -> {
      val h = phashSql("CAST(doc_id AS VARCHAR)",
        graft.operators.Sampling.tierSalt)
      val rateCase = graft.operators.Sampling.tierRatesE3
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE tier ", " ", " ELSE 0 END")
      s"""WITH q AS (SELECT doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_distinct
              FROM documents),
         d AS (SELECT doc_id,
                 (20000 * n_distinct + n_tokens) // (2 * n_tokens) AS dv
               FROM q),
         tr AS (SELECT doc_id,
                  CASE WHEN dv < 5000 THEN 't1_low'
                       WHEN dv < 6500 THEN 't2_mid'
                       WHEN dv < 8000 THEN 't3_good'
                       ELSE 't4_best' END AS tier
                FROM d),
         k AS (SELECT doc_id, tier, $rateCase AS p_e3,
                      ($h % 1000 < $rateCase) AS kept
               FROM tr)
         SELECT tier, CAST(min(p_e3) AS BIGINT) AS p_e3,
                count(*) AS n_total,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT)
                  AS id_checksum
         FROM k GROUP BY 1 ORDER BY 1"""
    },
    "dq_winsorize" ->
      """WITH c AS (SELECT event_type,
                CAST(round(value * 100) AS BIGINT) AS c, event_id
              FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY c, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n FROM c),
         t AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                 max(CASE WHEN rn = (n + 99) // 100 THEN c END) AS p01_c,
                 max(CASE WHEN rn = (99 * n + 99) // 100 THEN c END) AS p99_c
               FROM r GROUP BY 1)
         SELECT c.event_type, CAST(max(t.n) AS BIGINT) AS n,
                CAST(max(p01_c) AS BIGINT) AS p01_c,
                CAST(max(p99_c) AS BIGINT) AS p99_c,
                CAST(sum(c.c) AS BIGINT) AS sum_raw_c,
                CAST(sum(greatest(p01_c, least(p99_c, c.c))) AS BIGINT)
                  AS sum_clip_c,
                CAST(sum(CASE WHEN c.c < p01_c THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_lo,
                CAST(sum(CASE WHEN c.c > p99_c THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hi
         FROM c JOIN t USING (event_type)
         GROUP BY 1 ORDER BY 1""",
    "sample_temperature" -> {
      val h = phashSql("CAST(doc_id AS VARCHAR)",
        graft.operators.Sampling.temperatureSalt)
      // √ is correctly rounded (IEEE-754) in both engines, so
      // s_l = floor(sqrt(n)·1e6) is deterministic; everything after
      // is integer division (HUGEINT = Spark DECIMAL(38,0))
      s"""WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
         s AS (SELECT lang, n_total,
                 CAST(floor(sqrt(CAST(n_total AS DOUBLE)) * 1e6) AS BIGINT)
                   AS s_l FROM c),
         tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS corpus_n,
                        CAST(sum(s_l) AS BIGINT) AS s_sum FROM s),
         r AS (SELECT lang, n_total,
                 least(1000,
                   (CAST(1000 AS HUGEINT) * ((corpus_n * 400) // 1000) * s_l)
                   // (CAST(s_sum AS HUGEINT) * n_total)) AS p_e3
               FROM s, tot),
         m AS (SELECT d.lang, d.doc_id, r.n_total, r.p_e3
               FROM documents d JOIN r USING (lang)
               WHERE $h % 1000 < r.p_e3)
         SELECT lang, CAST(min(n_total) AS BIGINT) AS n_total,
                CAST(min(p_e3) AS BIGINT) AS p_e3,
                count(*) AS n_sampled,
                CAST(sum(doc_id) AS BIGINT) AS id_checksum
         FROM m GROUP BY 1 ORDER BY 1"""
    },
    // deterministic shuffle: the engine's sharded-rank position is
    // exactly this single global window by construction
    "sample_shuffle" -> {
      val h = phashSql("CAST(doc_id AS VARCHAR)",
        graft.operators.Sampling.shuffleSalt)
      s"""WITH h AS (SELECT doc_id, $h AS h FROM documents),
          s AS (SELECT doc_id, h,
                  h % ${graft.operators.Sampling.shuffleShards} AS shard
                FROM h)
          SELECT CAST(row_number() OVER (ORDER BY shard, h, doc_id)
                   AS BIGINT) AS pos, doc_id, h
          FROM s ORDER BY pos"""
    },
    // token-budget cut: the engine's sharded running total is exactly
    // this single per-lang window by construction
    "sample_token_budget" -> {
      val h = phashSql("CAST(doc_id AS VARCHAR)",
        graft.operators.Sampling.budgetSalt)
      val shards = graft.operators.Sampling.shuffleShards
      val pm = graft.operators.Sampling.budgetPermille
      s"""WITH d AS (SELECT lang, doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                $h AS h
              FROM documents),
          s AS (SELECT lang, doc_id, n_toks, h, h % $shards AS shard FROM d),
          b AS (SELECT lang,
                  CAST((sum(n_toks) * $pm) // 1000 AS BIGINT) AS budget_toks
                FROM d GROUP BY 1),
          c AS (SELECT lang, doc_id, n_toks,
                  sum(n_toks) OVER (PARTITION BY lang
                    ORDER BY shard, h, doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM s),
          k AS (SELECT c.lang, c.doc_id, c.n_toks, b.budget_toks
                FROM c JOIN b USING (lang) WHERE c.cum <= b.budget_toks)
          SELECT lang, CAST(min(budget_toks) AS BIGINT) AS budget_toks,
                 count(*) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS toks_kept,
                 CAST(sum(doc_id) AS BIGINT) AS id_checksum
          FROM k GROUP BY 1 ORDER BY 1"""
    },
    // leakage-safe split: same recursive CC as dedup_cc, split stamped
    // on the component label — purity holds by construction
    "sample_leakage_safe" -> {
      val mh = DedupReg.minhashOracle
      val hb = phashSql("CAST(component AS VARCHAR)",
        graft.operators.Sampling.splitSalt)
      s"""WITH RECURSIVE mh AS (SELECT a, b FROM ($mh)),
          ed AS (SELECT a AS src, b AS dst FROM mh
                 UNION SELECT b AS src, a AS dst FROM mh),
          v AS (SELECT DISTINCT src AS id FROM ed),
          walk(id, label) AS (
            SELECT id, id FROM v
            UNION
            SELECT ed.dst, walk.label FROM walk JOIN ed ON ed.src = walk.id),
          cc AS (SELECT id, min(label) AS component FROM walk GROUP BY 1),
          lab AS (SELECT d.doc_id,
                    coalesce(cc.component, d.doc_id) AS component
                  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
          sp AS (SELECT doc_id, component,
                   CASE WHEN bucket < 8 THEN 'train'
                        WHEN bucket = 8 THEN 'dev'
                        ELSE 'test' END AS split
                 FROM (SELECT doc_id, component, $hb % 10 AS bucket FROM lab))
          SELECT split, count(*) AS n_docs,
                 CAST(count(DISTINCT component) AS BIGINT) AS n_components,
                 CAST(sum(doc_id) AS BIGINT) AS id_checksum
          FROM sp GROUP BY 1 ORDER BY 1"""
    },
    // bloom-indexed point lookup == the plain IN-list filter
    "lake_point_read" ->
      """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx
              FROM documents),
         ids AS (SELECT mn AS id FROM b
                 UNION ALL SELECT mn + (mx - mn) // 3 FROM b
                 UNION ALL SELECT mn + 2 * ((mx - mn) // 3) FROM b)
         SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
         FROM documents WHERE doc_id IN (SELECT id FROM ids)
         ORDER BY doc_id""",
    // copy-on-write DELETE == the plain NOT-BETWEEN filter
    "lake_delete" ->
      """WITH b AS (SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 8 + 1 AS lo,
                min(o_orderkey) + 2 * ((max(o_orderkey) - min(o_orderkey)) // 8)
                  AS hi
           FROM orders)
         SELECT o_orderpriority AS prio, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM orders, b WHERE o_orderkey NOT BETWEEN b.lo AND b.hi
         GROUP BY 1 ORDER BY 1""",
    // time travel: three committed states recomputed relationally —
    // v0 base customers, v1 after the urgent-order upsert, v2 after
    // the disjoint-key supplier insert
    "lake_time_travel" ->
      """WITH base AS (SELECT c_custkey AS k,
                CAST(round(c_acctbal * 100) AS BIGINT) AS val_cents
              FROM customer),
         upd AS (SELECT o_custkey AS k,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS val_cents
                 FROM orders WHERE o_orderpriority = '1-URGENT'
                 GROUP BY 1),
         v1 AS (SELECT base.k,
                  COALESCE(upd.val_cents, base.val_cents) AS val_cents,
                  CASE WHEN upd.k IS NOT NULL THEN 1 ELSE 0 END AS updated
                FROM base LEFT JOIN upd USING (k)),
         ins AS (SELECT 20000000 + s_suppkey AS k,
                   CAST(round(s_acctbal * 100) AS BIGINT) AS val_cents
                 FROM supplier),
         v2 AS (SELECT k, val_cents, updated FROM v1
                UNION ALL SELECT k, val_cents, 0 FROM ins)
         SELECT 'v0' AS state, count(*) AS n_rows,
                CAST(sum(val_cents) AS BIGINT) AS sum_cents,
                CAST(0 AS BIGINT) AS n_updated
         FROM base
         UNION ALL
         SELECT 'v1', count(*), CAST(sum(val_cents) AS BIGINT),
                CAST(sum(updated) AS BIGINT)
         FROM v1
         UNION ALL
         SELECT 'v2', count(*), CAST(sum(val_cents) AS BIGINT),
                CAST(sum(updated) AS BIGINT)
         FROM v2
         ORDER BY state""",
    // identical magic-mask bit-spreading pipeline as ZOrder.spread16
    "f_zorder" ->
      """WITH t AS (SELECT o_custkey % 1024 AS a, o_orderkey % 1024 AS b
              FROM orders),
         s0 AS (SELECT a & 65535 AS xa, b & 65535 AS xb FROM t),
         s1 AS (SELECT (xa | (xa << 8)) & 16711935 AS xa,
                       (xb | (xb << 8)) & 16711935 AS xb FROM s0),
         s2 AS (SELECT (xa | (xa << 4)) & 252645135 AS xa,
                       (xb | (xb << 4)) & 252645135 AS xb FROM s1),
         s3 AS (SELECT (xa | (xa << 2)) & 858993459 AS xa,
                       (xb | (xb << 2)) & 858993459 AS xb FROM s2),
         s4 AS (SELECT (xa | (xa << 1)) & 1431655765 AS xa,
                       (xb | (xb << 1)) & 1431655765 AS xb FROM s3),
         z AS (SELECT xa | (xb << 1) AS z FROM s4)
         SELECT z // 65536 AS z_seg, count(*) AS n,
                CAST(sum(z) AS BIGINT) AS sum_z
         FROM z GROUP BY 1 ORDER BY 1""",
    "dq_profile" ->
      """SELECT coalesce(lang, 'unknown') AS lang, count(*) AS n_docs,
                CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(min(n_chars) AS BIGINT) AS min_chars,
                CAST(max(n_chars) AS BIGINT) AS max_chars,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                (20000 * CAST(sum(n_chars) AS BIGINT) + count(*))
                  // (2 * count(*)) / 10000.0 AS avg_chars_4dp
         FROM documents GROUP BY 1 ORDER BY 1""",
    "dq_expectations" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_ids,
                CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_ids,
                CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_lang,
                CAST(sum(CASE WHEN lang IS NOT NULL
                              AND NOT regexp_matches(lang, '^[a-z]{2}$')
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
                CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_text,
                CAST(sum(CASE WHEN text IS NOT NULL AND n_chars IS NOT NULL
                              AND n_chars <> length(text)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch
         FROM documents""",
    // drift audit: one scan, shares in exact e6, totals via window
    // over the per-lang aggregate (integer sums promote to HUGEINT in
    // DuckDB, hence the output CASTs)
    "dq_drift" ->
      """WITH a AS (SELECT coalesce(lang, 'unknown') AS lang,
                count(*) AS n_all,
                sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS n_gated
              FROM documents GROUP BY 1)
         SELECT lang, CAST(n_all AS BIGINT) AS n_all,
                CAST(n_gated AS BIGINT) AS n_gated,
                CAST((1000000 * n_all) // (sum(n_all) OVER ())
                  AS BIGINT) AS share_all_e6,
                CAST((1000000 * n_gated) // (sum(n_gated) OVER ())
                  AS BIGINT) AS share_gated_e6,
                CAST(abs((1000000 * n_all) // (sum(n_all) OVER ())
                  - (1000000 * n_gated) // (sum(n_gated) OVER ()))
                  AS BIGINT) AS drift_e6
         FROM a ORDER BY lang""",
  )
}
