package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, max}
import graft.operators._
import graft.operators.StandingIndex.Served
import graft.registry.RegShared._

/** Text-analysis/search slice of the driver contract: quality, langid, BM25/FTS, phrase/bool search, TF-IDF, chunking, contamination, and hybrid retrieval with DuckDB oracles.
  *
  * Split out of SparkEntry (r11): entries and oracle SQL move verbatim;
  * SparkEntry concatenates the family maps. Column names stay identical
  * between `queries` and `oracleSql` (the driver sorts columns by name
  * before hashing).
  */
object TextReg {

  private[graft] val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_langid" -> TextAnalysis.langId _,
    "text_fuzzy_search" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.fuzzySearch(s, dir)),
    "text_quality" -> TextAnalysis.quality _,
    "text_token_counts" -> TextAnalysis.tokenCounts _,
    "text_fingerprint" -> TextAnalysis.fingerprint _,
    "text_tfidf" -> TextAnalysis.tfidf _,
    "text_redact_pii" -> TextAnalysis.textRedactPii _,
    "text_contamination" -> TextAnalysis.textContamination _,
    "text_chunk" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.chunk(s, dir)),
    "text_lm_score" -> TextAnalysis.lmScore _,
    "text_repetition" -> TextAnalysis.repetition _,
    "text_boilerplate" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.boilerplate(s, dir)),
    "text_bm25_search" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.bm25Search(s, dir)),
    "text_match_phrase" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.matchPhrase(s, dir)),
    "text_significant_terms" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.significantTerms(s, dir)),
    "text_bool_search" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.boolSearch(s, dir)),
    "text_bm25_indexed" -> Served(TextIndex.Fts)((s, _, idx) =>
      TextIndex.serve(s, idx, Seq("spark", "join", "vector"), 10)),
    "text_fts_build" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.ftsBuild(s, dir)),
    "text_fts_churn" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.ftsChurn(s, dir)),
    "search_hybrid_rrf" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.hybridRrf(s, dir)),
    "search_eval" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.searchEval(s, dir)),
  )

  /** Exact-integer BM25 over the corpus — shared by the scan-path and
    * indexed-path queries (the index never changes the answer). */
  private[graft] val bm25Oracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
       dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS t_toks FROM dl),
       tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
       tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              FROM tok WHERE tok IN ('spark', 'join', 'vector')
              GROUP BY 1, 2),
       dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
               FROM tf GROUP BY 1),
       s AS (SELECT tf.doc_id, tf.tf,
               (10000 * st.n_docs) // dfc.df AS idf_e4,
               (1000 * dl.dl * st.n_docs) // st.t_toks AS dlr_e3
             FROM tf JOIN dl USING (doc_id) JOIN dfc USING (tok)
             CROSS JOIN st),
       sc AS (SELECT doc_id,
               sum(idf_e4 * ((tf * 2200 * 10000)
                 // (tf * 10000 + 12 * (250 + (750 * dlr_e3) // 1000))))
                 AS score_e7,
               count(*) AS n_terms
              FROM s GROUP BY 1),
       r AS (SELECT row_number() OVER (ORDER BY score_e7 DESC, doc_id)
               AS rank, doc_id, score_e7, n_terms FROM sc)
       SELECT CAST(rank AS BIGINT) AS rank, doc_id,
              CAST(score_e7 AS BIGINT) AS score_e7,
              CAST(n_terms AS BIGINT) AS n_terms
       FROM r WHERE rank <= 10 ORDER BY rank"""

  private[graft] val langidOracle: String = {
    val scores = graft.operators.TextAnalysis.profiles.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), x -> x IN ($inList))) AS s_$l"
    }.mkString(", ")
    val langs = graft.operators.TextAnalysis.profiles.map(_._1)
    val cases = langs.map { l =>
      val cond = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"""WITH s AS (SELECT doc_id, lang, $scores FROM documents)
        SELECT lang, CASE $cases ELSE 'und' END AS predicted, count(*) AS n_docs
        FROM s GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  private[graft] val oracleSql: Map[String, String] = Map(
    "text_langid" -> langidOracle,
    "text_quality" ->
      """WITH q AS (SELECT doc_id, length(text) AS n_chars,
                    len(string_split(text, ' ')) AS n_tokens,
                    len(list_distinct(string_split(text, ' '))) AS n_distinct
                    FROM documents)
         SELECT doc_id, n_chars, n_tokens, n_distinct,
                CAST((20000 * n_distinct + n_tokens) // (2 * n_tokens) AS BIGINT)
                  AS diversity_e4,
                (n_tokens >= 30 AND n_distinct * 2 >= n_tokens) AS is_quality
         FROM q ORDER BY doc_id""",
    "text_token_counts" ->
      """SELECT lang,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
                CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
                  AS bpe_tokens,
                count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY 1""",
    "text_fingerprint" ->
      s"""SELECT doc_id, substr(md5($normSql), 1, 8) AS fp8,
                 ${phashSql(normSql, 7)} % 64 AS shard
         FROM documents ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
                      (10000 * (SELECT count(*) FROM documents)) // dfc.df AS idf_e4
               FROM tf JOIN dfc USING (tok)),
         r AS (SELECT doc_id, tok, tf, df, tf * idf_e4 AS score,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY tf * idf_e4 DESC, tok) AS rn FROM s)
         SELECT doc_id, CAST(rn AS BIGINT) AS rn, tok, CAST(tf AS BIGINT) AS tf,
                CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
         FROM r WHERE rn <= 3 ORDER BY doc_id, rn""",
    "text_redact_pii" ->
      """WITH r AS (SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com or ref 90210' || CAST(doc_id % 100 AS VARCHAR)
               AS raw
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                  AS n_emails,
                md5(regexp_replace(regexp_replace(raw,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{7,}', '<NUM>', 'g')) AS redacted_md5
         FROM r ORDER BY doc_id""",
    "text_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tk AS (SELECT doc_id, t FROM tok WHERE len(t) >= 3),
         sh0 AS (SELECT doc_id, t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2] AS shingle
                 FROM (SELECT doc_id, t,
                         unnest(range(1, greatest(len(t)-1, 1))) AS pos FROM tk)),
         sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
         corpus AS (SELECT * FROM sh WHERE doc_id % 97 != 0)
         SELECT c.doc_id, count(*) AS n_contaminated_shingles
         FROM corpus c JOIN bench b ON c.shingle = b.shingle
         GROUP BY 1 ORDER BY 1""",
    "text_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
         c AS (SELECT doc_id, toks,
                 unnest(range(0, CASE WHEN n <= 20 THEN 1
                                      ELSE 1 + (n - 20 + 14) // 15 END))
                   AS chunk_id
               FROM d),
         s AS (SELECT doc_id, chunk_id,
                 toks[chunk_id * 15 + 1 : chunk_id * 15 + 20] AS chunk
               FROM c)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
                md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_id""",
    "text_lm_score" ->
      """WITH ch AS (SELECT doc_id, substr(lt, CAST(i AS INTEGER), 2) AS bg
              FROM (SELECT doc_id, lower(text) AS lt,
                      unnest(range(1, length(lower(text)))) AS i
                    FROM documents WHERE length(lower(text)) >= 2)),
         bt2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM ch GROUP BY 1),
         bt AS (SELECT bg, c2,
                  CAST(sum(c2) OVER (PARTITION BY substr(bg, 1, 1)) AS BIGINT)
                    AS c1
                FROM bt2),
         dc AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS m
                FROM ch GROUP BY 1, 2),
         sc AS (SELECT dc.doc_id, CAST(sum(dc.m) AS BIGINT) AS n_bigrams,
                  CAST(sum(dc.m * ((1000000 * bt.c2) // bt.c1)) AS BIGINT) AS s
                FROM dc JOIN bt USING (bg) GROUP BY 1)
         SELECT doc_id, n_bigrams, s // n_bigrams AS lm_score_e6
         FROM sc ORDER BY doc_id""",
    // word-trigram duplication ratio, exact e6 rational
    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents),
         p AS (SELECT doc_id, tk, unnest(range(1, CAST(n - 1 AS INTEGER)))
                 AS i
               FROM d WHERE n >= 3),
         t AS (SELECT doc_id,
                 tk[CAST(i AS INTEGER)] || ' ' ||
                 tk[CAST(i + 1 AS INTEGER)] || ' ' ||
                 tk[CAST(i + 2 AS INTEGER)] AS tri
               FROM p),
         g AS (SELECT doc_id, tri, CAST(count(*) AS BIGINT) AS c
               FROM t GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
                CAST(count(*) AS BIGINT) AS n_distinct_tri,
                CAST(max(c) AS BIGINT) AS max_tri_count,
                (1000000 * (CAST(sum(c) AS BIGINT) - count(*)))
                  // CAST(sum(c) AS BIGINT) AS rep_e6
         FROM g GROUP BY 1 ORDER BY 1""",
    // segment-level boilerplate removal: df over md5(seg), kept
    // segments reassembled in position order, content pinned by md5
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents),
         seg AS (SELECT doc_id, CAST(s AS BIGINT) AS seg_id,
                   array_to_string(t[(s*10+1):(s*10+10)], ' ') AS seg
                 FROM (SELECT doc_id, t,
                         unnest(range((len(t)+9)//10)) AS s FROM d)),
         sh AS (SELECT doc_id, seg_id, seg, md5(seg) AS seg_h FROM seg),
         df AS (SELECT seg_h, count(DISTINCT doc_id) AS docfreq
                FROM sh GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_segments,
                CAST(sum(CASE WHEN df.docfreq >= 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler,
                md5(coalesce(string_agg(
                  CASE WHEN df.docfreq < 3 THEN g.seg END, ' '
                  ORDER BY g.seg_id), '')) AS clean_md5
         FROM sh g JOIN df USING (seg_h)
         GROUP BY g.doc_id ORDER BY g.doc_id""",
    "text_bm25_search" -> bm25Oracle,
    // the indexed variant must return byte-identical results — an
    // index is an optimization, never a semantic
    "text_bm25_indexed" -> bm25Oracle,
    "text_fuzzy_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_toks FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         q AS (SELECT unnest(['spak', 'joinn', 'vectr']) AS qt),
         ex AS (SELECT q.qt, v.tok
                FROM (SELECT DISTINCT tok FROM tok) v, q
                WHERE levenshtein(q.qt, v.tok) <= 1),
         tf AS (SELECT t.doc_id, e.qt, e.tok, CAST(count(*) AS BIGINT) AS tf
                FROM tok t JOIN ex e USING (tok) GROUP BY 1, 2, 3),
         dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM (SELECT DISTINCT doc_id, tok FROM tf) GROUP BY 1),
         s AS (SELECT tf.doc_id, tf.qt, tf.tok, tf.tf,
                 (10000 * st.n_docs) // dfc.df AS idf_e4,
                 (1000 * dl.dl * st.n_docs) // st.t_toks AS dlr_e3
               FROM tf JOIN dl USING (doc_id) JOIN dfc USING (tok)
               CROSS JOIN st),
         ts AS (SELECT doc_id, qt, tok,
                  idf_e4 * ((tf * 2200 * 10000)
                    // (tf * 10000 + 12 * (250 + (750 * dlr_e3) // 1000)))
                    AS term_score
                FROM s),
         best AS (SELECT doc_id, qt, term_score,
                    row_number() OVER (PARTITION BY doc_id, qt
                      ORDER BY term_score DESC, tok) AS rn
                  FROM ts),
         sc AS (SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e7,
                  count(*) AS n_terms
                FROM best WHERE rn = 1 GROUP BY 1),
         r AS (SELECT row_number() OVER (ORDER BY score_e7 DESC, doc_id)
                 AS rank, doc_id, score_e7, n_terms FROM sc)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id, score_e7,
                CAST(n_terms AS BIGINT) AS n_terms
         FROM r WHERE rank <= 10 ORDER BY rank""",
    // churn lifecycle (append→fragment→compact→serve): neither
    // incremental commits nor compaction may change an answer, so the
    // compacted index serves the full-corpus scan's exact result
    "text_fts_churn" -> bm25Oracle,
    // hybrid RRF: BM25 top-20 ∪ exact-cosine top-20 for query vector 0,
    // fused as Σ 1000000 // (60 + rank) — rank 0 sentinel = absent arm
    "search_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_toks FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM tok WHERE tok IN ('spark', 'join', 'vector')
                GROUP BY 1, 2),
         dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY 1),
         sbm AS (SELECT tf.doc_id, tf.tf,
                  (10000 * st.n_docs) // dfc.df AS idf_e4,
                  (1000 * dl.dl * st.n_docs) // st.t_toks AS dlr_e3
                FROM tf JOIN dl USING (doc_id) JOIN dfc USING (tok)
                CROSS JOIN st),
         sc AS (SELECT doc_id,
                  sum(idf_e4 * ((tf * 2200 * 10000)
                    // (tf * 10000 + 12 * (250 + (750 * dlr_e3) // 1000))))
                    AS score_e7
                FROM sbm GROUP BY 1),
         lex AS (SELECT doc_id, row_number() OVER (
                   ORDER BY score_e7 DESC, doc_id) AS lex_rank
                 FROM sc QUALIFY lex_rank <= 20),
         e AS (SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
               FROM embeddings),
         n AS (SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, u -> u * u)) AS BIGINT)
                   AS nrm FROM e),
         p AS (SELECT t.vec_id AS nid, q.nrm AS qn, t.nrm AS tn,
                 CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
                   CAST(t.qv AS DOUBLE[])) AS BIGINT) AS dot
               FROM n q JOIN n t ON t.vec_id != q.vec_id
               WHERE q.vec_id = 0),
         s2 AS (SELECT nid, CAST(floor(CAST(dot AS DOUBLE)
                  / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(tn AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS cos_e6
                FROM p),
         sem AS (SELECT nid AS doc_id, row_number() OVER (
                   ORDER BY cos_e6 DESC, nid) AS sem_rank
                 FROM s2 QUALIFY sem_rank <= 20),
         f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                 coalesce(1000000 // (60 + lex_rank), 0)
                   + coalesce(1000000 // (60 + sem_rank), 0) AS rrf_e6,
                 coalesce(lex_rank, 0) AS lex_rank,
                 coalesce(sem_rank, 0) AS sem_rank
               FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
         o AS (SELECT row_number() OVER (ORDER BY rrf_e6 DESC, doc_id)
                 AS rank, f.* FROM f)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id,
                CAST(rrf_e6 AS BIGINT) AS rrf_e6,
                CAST(lex_rank AS BIGINT) AS lex_rank,
                CAST(sem_rank AS BIGINT) AS sem_rank
         FROM o WHERE rank <= 10 ORDER BY rank""",
    // retrieval-quality eval: BM25 top-10 per query vs term-containment
    // graded relevance; harmonic-discount NDCG + full-match MRR, all
    // exact-integer (floor per rank term, e6 ratio)
    "search_eval" ->
      """WITH q AS (SELECT CAST(qid AS BIGINT) AS qid, tok FROM (VALUES
              (0,'spark'),(0,'join'),(0,'vector'),
              (1,'stream'),(1,'window'),
              (2,'hash'),(2,'merge'),(2,'batch'),(2,'scan')) t(qid, tok)),
         nq AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_q
                FROM q GROUP BY 1),
         d AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_toks FROM dl),
         tokt AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         tf AS (SELECT q.qid, tokt.doc_id, q.tok,
                  CAST(count(*) AS BIGINT) AS tf
                FROM tokt JOIN q USING (tok) GROUP BY 1, 2, 3),
         dfc AS (SELECT qid, tok, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY 1, 2),
         sbm AS (SELECT tf.qid, tf.doc_id, tf.tf,
                  (10000 * st.n_docs) // dfc.df AS idf_e4,
                  (1000 * dl.dl * st.n_docs) // st.t_toks AS dlr_e3
                FROM tf JOIN dl USING (doc_id)
                JOIN dfc ON dfc.qid = tf.qid AND dfc.tok = tf.tok
                CROSS JOIN st),
         sc AS (SELECT qid, doc_id,
                  CAST(sum(idf_e4 * ((tf * 2200 * 10000)
                    // (tf * 10000 + 12 * (250 + (750 * dlr_e3) // 1000))))
                    AS BIGINT) AS score_e7
                FROM sbm GROUP BY 1, 2),
         rk AS (SELECT qid, doc_id, row_number() OVER (
                  PARTITION BY qid ORDER BY score_e7 DESC, doc_id) AS rank
                FROM sc QUALIFY rank <= 10),
         rel AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS rel
                 FROM tf GROUP BY 1, 2),
         dcg AS (SELECT rk.qid,
                   CAST(sum((1000000 * rel.rel) // (rk.rank + 1)) AS BIGINT)
                     AS dcg_e6
                 FROM rk JOIN rel ON rel.qid = rk.qid
                   AND rel.doc_id = rk.doc_id
                 GROUP BY 1),
         irk AS (SELECT qid, doc_id, rel, row_number() OVER (
                   PARTITION BY qid ORDER BY rel DESC, doc_id) AS irank
                 FROM rel QUALIFY irank <= 10),
         idcg AS (SELECT qid,
                    CAST(sum((1000000 * rel) // (irank + 1)) AS BIGINT)
                      AS idcg_e6
                  FROM irk GROUP BY 1),
         mrr AS (SELECT rk.qid, 1000000 // min(rk.rank) AS mrr_e6
                 FROM rk JOIN rel ON rel.qid = rk.qid
                   AND rel.doc_id = rk.doc_id
                 JOIN nq ON nq.qid = rk.qid
                 WHERE rel.rel = nq.n_q GROUP BY 1),
         nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel
                  FROM rel GROUP BY 1)
         SELECT nq.qid, CAST(COALESCE(nrel.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(COALESCE(mrr.mrr_e6, 0) AS BIGINT) AS mrr_e6,
                CAST(COALESCE(dcg.dcg_e6, 0) AS BIGINT) AS dcg_e6,
                CAST(COALESCE(idcg.idcg_e6, 0) AS BIGINT) AS idcg_e6,
                CAST(CASE WHEN COALESCE(idcg.idcg_e6, 0) > 0
                     THEN (1000000 * COALESCE(dcg.dcg_e6, 0)) // idcg.idcg_e6
                     ELSE 0 END AS BIGINT) AS ndcg_e6
         FROM nq LEFT JOIN nrel USING (qid) LEFT JOIN dcg USING (qid)
         LEFT JOIN idcg USING (qid) LEFT JOIN mrr USING (qid)
         ORDER BY qid""",
    // the index BUILD summary: postings cardinality, vocabulary size,
    // corpus stats — the two tx commits text_bm25_indexed serves from
    "text_fts_build" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         p AS (SELECT tok, doc_id FROM tok GROUP BY 1, 2)
         SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_postings,
                CAST((SELECT count(DISTINCT tok) FROM p) AS BIGINT)
                  AS n_terms,
                CAST((SELECT count(*) FROM dl) AS BIGINT) AS n_docs,
                CAST((SELECT sum(dl) FROM dl) AS BIGINT) AS t_toks""",
    // 1-based generate_subscripts vs Spark's 0-based posexplode: −1
    "text_match_phrase" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS pos FROM d)
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_phrase,
                CAST(min(a.pos) - 1 AS BIGINT) AS first_pos
         FROM tok a JOIN tok b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          AND a.tok = 'spark' AND b.tok = 'join'
         GROUP BY 1 ORDER BY 1""",
    // ES bool query: filter context + scored match; df/N/Σdl stay
    // INDEX-WIDE (a filter never changes term statistics in ES)
    "text_bool_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
         dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_toks FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM tok WHERE tok IN ('spark', 'join', 'vector')
                GROUP BY 1, 2),
         dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY 1),
         cand AS (SELECT doc_id FROM documents
                  WHERE lang = 'en' AND n_chars >= 300),
         s AS (SELECT tf.doc_id, tf.tf,
                 (10000 * st.n_docs) // dfc.df AS idf_e4,
                 (1000 * dl.dl * st.n_docs) // st.t_toks AS dlr_e3
               FROM tf JOIN cand USING (doc_id) JOIN dl USING (doc_id)
               JOIN dfc USING (tok) CROSS JOIN st),
         sc AS (SELECT doc_id,
                 sum(idf_e4 * ((tf * 2200 * 10000)
                   // (tf * 10000 + 12 * (250 + (750 * dlr_e3) // 1000))))
                   AS score_e7,
                 count(*) AS n_terms
                FROM s GROUP BY 1),
         r AS (SELECT row_number() OVER (ORDER BY score_e7 DESC, doc_id)
                 AS rank, doc_id, score_e7, n_terms FROM sc)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id,
                CAST(score_e7 AS BIGINT) AS score_e7,
                CAST(n_terms AS BIGINT) AS n_terms
         FROM r WHERE rank <= 10 ORDER BY rank""",
    // ES significant_terms, JLH lift in exact e6 integers
    "text_significant_terms" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
              FROM documents),
         fg AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS f
                FROM tok GROUP BY 1, 2),
         fgt AS (SELECT lang, CAST(sum(f) AS BIGINT) AS ft
                 FROM fg GROUP BY 1),
         bg AS (SELECT tok, CAST(sum(f) AS BIGINT) AS b FROM fg GROUP BY 1),
         bgt AS (SELECT CAST(sum(f) AS BIGINT) AS bt FROM fg),
         s AS (SELECT fg.lang, fg.tok, fg.f, bg.b,
                 (1000000 * fg.f) // fgt.ft AS fg_e6,
                 (1000000 * bg.b) // bgt.bt AS bg_e6
               FROM fg JOIN fgt USING (lang) JOIN bg USING (tok)
               CROSS JOIN bgt),
         j AS (SELECT lang, tok, f, b,
                 ((fg_e6 - bg_e6) * fg_e6) // greatest(bg_e6, 1) AS jlh
               FROM s WHERE fg_e6 > bg_e6),
         r AS (SELECT lang, tok, f, b, jlh,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY jlh DESC, tok) AS rn FROM j)
         SELECT lang, CAST(rn AS BIGINT) AS rn, tok, f, b,
                CAST(jlh AS BIGINT) AS jlh
         FROM r WHERE rn <= 3 ORDER BY lang, rn""",
  )
}
