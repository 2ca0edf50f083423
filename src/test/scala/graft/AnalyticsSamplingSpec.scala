package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Sampling, TextAnalysis}

/** Invariants for the OLAP, sampling, and TF-IDF operators on the
  * sf0.001 tables (the oracle checks exact values at sf0.01; these
  * check the LAWS that must hold at any scale). */
class AnalyticsSamplingSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("rollup grand total equals the sum of detail rows") {
    val rows = Analytics.aRollup(spark, sf).collect()
    val detail = rows.filter(r =>
      r.getString(0) != "_all" && r.getString(1) != "_all")
    val grand = rows.filter(r =>
      r.getString(0) == "_all" && r.getString(1) == "_all")
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_rows") ===
      detail.map(_.getAs[Long]("n_rows")).sum)
    assert(grand.head.getAs[Long]("sum_qty") ===
      detail.map(_.getAs[Long]("sum_qty")).sum)
  }

  test("cube emits all four grouping combinations consistently") {
    val rows = Analytics.aCube(spark, sf).collect()
    def n(p: org.apache.spark.sql.Row => Boolean): Long =
      rows.filter(p).map(_.getAs[Long]("n")).sum
    val total = n(r => r.getString(0) == "_all" && r.getLong(1) == -1L)
    assert(total === n(r => r.getString(0) != "_all" && r.getLong(1) == -1L))
    assert(total === n(r => r.getString(0) == "_all" && r.getLong(1) != -1L))
    assert(total === n(r => r.getString(0) != "_all" && r.getLong(1) != -1L))
  }

  test("quantiles pick real members with p50 <= p90") {
    Analytics.aQuantiles(spark, sf).collect().foreach { r =>
      val (p50, p90) = (r.getAs[Long]("p50_cents"), r.getAs[Long]("p90_cents"))
      assert(p50 <= p90)
    }
  }

  test("rank suite: nth_value null before row 3, quartiles in range") {
    Analytics.wRankSuite(spark, sf).collect().foreach { r =>
      val rn = r.getAs[Long]("rn")
      val third = Option(r.getAs[java.lang.Long]("third_cents"))
      assert(if (rn < 3) third.isEmpty else third.nonEmpty)
      val q = r.getAs[Long]("quartile")
      assert(q >= 1 && q <= 4)
      val pr = r.getAs[Double]("pr")
      assert(pr >= 0.0 && pr <= 1.0)
    }
  }

  test("hash split partitions every doc and is rerun-stable") {
    val a = Sampling.sampleSplit(spark, sf).collect()
    val b = Sampling.sampleSplit(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    val total = a.map(_.getAs[Long]("n_docs")).sum
    val docs = graft.core.Tables(spark, sf).documents.count()
    assert(total === docs)
  }

  test("balanced sample caps every class and is rerun-stable") {
    val out = Sampling.sampleBalanced(spark, sf, cap = 5)
    val a = out.collect()
    assert(a.toSeq === Sampling.sampleBalanced(spark, sf, cap = 5).collect().toSeq)
    val perLang = a.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perLang.values.forall(_ <= 5))
    val langTotals = graft.core.Tables(spark, sf).documents
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(n === math.min(5L, langTotals(lang)))
    }
  }

  test("tfidf emits at most 3 strictly rank-ordered terms per doc") {
    val rows = TextAnalysis.tfidf(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val byRn = rs.sortBy(_.getAs[Long]("rn"))
      assert(byRn.map(_.getAs[Long]("rn")).toSeq === (1L to rs.length))
      val scores = byRn.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
  }

  private def docTokens: Map[Long, Array[String]] =
    graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap

  test("bm25 matches an in-JVM brute force of the exact integer formula") {
    val toks = docTokens
    val terms = Seq("spark", "join", "vector")
    val nDocs = toks.size.toLong
    val tToks = toks.values.map(_.length.toLong).sum
    val df = terms.map(q =>
      q -> toks.values.count(_.contains(q)).toLong).toMap
    val expected = toks.toSeq.flatMap { case (id, ts) =>
      val dl = ts.length.toLong
      val dlrE3 = 1000L * dl * nDocs / tToks
      val satE4 = 12L * (250L + 750L * dlrE3 / 1000L)
      val parts = terms.flatMap { q =>
        val tf = ts.count(_ == q).toLong
        if (tf == 0 || df(q) == 0) None
        else {
          val idfE4 = 10000L * nDocs / df(q)
          Some(idfE4 * (tf * 2200L * 10000L / (tf * 10000L + satE4)))
        }
      }
      if (parts.isEmpty) None
      else Some((id, parts.sum, parts.length.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }.take(10)
    val got = TextAnalysis.bm25Search(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_e7"),
        r.getAs[Long]("n_terms"))).toSeq
    assert(got === expected)
  }

  test("ann recall equals the recomputed approx∩exact overlap") {
    val approx = graft.operators.Similarity.annIvfTrue(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val exact = graft.operators.Similarity.cosineTopk(spark, sf).collect()
      .filter(_.getAs[Long]("rn") <= 5)
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val got = SparkEntry.queries("sim_ann_recall")(spark, sf).collect()
    assert(got.map(_.getAs[Long]("qid")).toSet === exact.map(_._1))
    got.foreach { r =>
      val (qid, hits, rec) = (r.getAs[Long]("qid"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("recall_e6"))
      assert(hits === (approx & exact).count(_._1 == qid).toLong)
      assert(rec === 1000000L * hits / 5 && rec >= 0 && rec <= 1000000L)
    }
  }

  test("hybrid RRF equals the driver-side fusion of its two arms") {
    val terms = Seq("spark", "join", "vector")
    val lex = TextAnalysis.bm25Search(spark, sf, terms, 10).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    val sem = graft.operators.Similarity.cosineTopk(spark, sf).collect()
      .filter(_.getAs[Long]("qid") == 0L)
      .map(r => r.getAs[Long]("nid") -> r.getAs[Long]("rn")).toMap
    val expected = (lex.keySet ++ sem.keySet).toSeq.map { d =>
      val rrf = lex.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        sem.get(d).map(r => 1000000L / (60 + r)).getOrElse(0L)
      (d, rrf, lex.getOrElse(d, 0L), sem.getOrElse(d, 0L))
    }.sortBy { case (d, rrf, _, _) => (-rrf, d) }.take(10)
    val got = TextAnalysis.hybridRrf(spark, sf, terms, qid = 0L,
        kArm = 10, topK = 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_e6"),
        r.getAs[Long]("lex_rank"), r.getAs[Long]("sem_rank"))).toSeq
    assert(got === expected)
    // a doc present in both arms scores the sum of both contributions
    val both = got.filter(t => t._3 > 0 && t._4 > 0)
    both.foreach { case (_, rrf, lr, sr) =>
      assert(rrf === 1000000L / (60 + lr) + 1000000L / (60 + sr))
    }
  }

  test("multi-probe recall dominates single-probe per query") {
    // probing more cells yields a candidate SUPERSET; a true top-k hit
    // can only be displaced by a globally-closer candidate, which is
    // itself a hit — so n_hits is monotone in nprobe
    val one = SparkEntry.queries("sim_ann_recall")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    val three = SparkEntry.queries("sim_ann_recall_mp")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    assert(one.keySet === three.keySet)
    one.foreach { case (qid, h1) =>
      assert(three(qid) >= h1, s"qid $qid: nprobe=3 lost hits ($h1 -> ${three(qid)})")
    }
  }

  test("indexed bm25 equals the scan path and Bloom-prunes postings files") {
    val scan = TextAnalysis.bm25Search(spark, sf).collect().toSeq
    val idx = TextAnalysis.bm25Indexed(spark, sf).collect().toSeq
    assert(idx === scan, "an index must never change the answer")
    // a term lookup must touch a strict subset of the postings files
    val docs = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val tx = graft.lake.TxTable(spark, graft.core.Scratch.fresh("tx_fts_spec"))
    tx.append(
      docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .groupBy(col("tok"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .repartitionByRange(8, col("tok")),
      bloomCols = Seq("tok"))
    val snap = tx.latest().get
    val live = tx.bloomLiveEntries(snap, "tok", lit("spark"))
    assert(live.nonEmpty && live.size < snap.files.size,
      s"bloom pruned nothing: ${live.size} of ${snap.files.size} files live")
  }

  test("bool search scores only filtered docs with index-wide statistics") {
    val rows = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .collect()
    val toks = rows.map(r => r.getLong(0) -> r.getString(3).split(" ")).toMap
    val cand = rows.filter(r =>
      r.getString(1) == "en" && r.getLong(2) >= 300L).map(_.getLong(0)).toSet
    val terms = Seq("spark", "join", "vector")
    val nDocs = toks.size.toLong
    val tToks = toks.values.map(_.length.toLong).sum
    val df = terms.map(q =>
      q -> toks.values.count(_.contains(q)).toLong).toMap // index-wide df
    val expected = toks.toSeq
      .filter { case (id, _) => cand(id) } // filter context gates scoring
      .flatMap { case (id, ts) =>
        val dl = ts.length.toLong
        val dlrE3 = 1000L * dl * nDocs / tToks
        val satE4 = 12L * (250L + 750L * dlrE3 / 1000L)
        val parts = terms.flatMap { q =>
          val tf = ts.count(_ == q).toLong
          if (tf == 0) None
          else Some(10000L * nDocs / df(q) *
            (tf * 2200L * 10000L / (tf * 10000L + satE4)))
        }
        if (parts.isEmpty) None
        else Some((id, parts.sum, parts.length.toLong))
      }.sortBy { case (id, s, _) => (-s, id) }.take(10)
    val got = TextAnalysis.boolSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_e7"),
        r.getAs[Long]("n_terms"))).toSeq
    assert(got === expected)
    assert(got.forall { case (id, _, _) => cand(id) })
  }

  test("significant terms match an in-JVM brute force of the JLH lift") {
    val byLang = graft.core.Tables(spark, sf).documents
      .select(col("lang"), col("text")).collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.flatMap(_.getString(1).split(" "))).toMap
    val fg = byLang.view.mapValues(
      _.groupBy(identity).view.mapValues(_.length.toLong).toMap).toMap
    val ft = fg.view.mapValues(_.values.sum).toMap
    val bg = fg.values.flatten.groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
    val bt = bg.values.sum
    val expected = fg.toSeq.flatMap { case (lang, toks) =>
      toks.toSeq.flatMap { case (tok, f) =>
        val fgE6 = 1000000L * f / ft(lang)
        val bgE6 = 1000000L * bg(tok) / bt
        if (fgE6 > bgE6)
          Some((lang, tok, f, bg(tok), (fgE6 - bgE6) * fgE6 / bgE6))
        else None
      }.sortBy { case (_, tok, _, _, jlh) => (-jlh, tok) }.take(3)
        .zipWithIndex.map { case ((l, tok, f, b, jlh), i) =>
          (l, i + 1L, tok, f, b, jlh)
        }
    }.sortBy { case (l, rn, _, _, _, _) => (l, rn) }
    val got = TextAnalysis.significantTerms(spark, sf).collect().map(r =>
      (r.getString(0), r.getAs[Long]("rn"), r.getString(2),
        r.getAs[Long]("f"), r.getAs[Long]("b"), r.getAs[Long]("jlh"))).toSeq
    assert(got === expected)
  }

  test("match_phrase counts equal a brute-force scan of adjacent pairs") {
    val expected = docTokens.flatMap { case (id, ts) =>
      val hits = (0 until ts.length - 1)
        .filter(i => ts(i) == "spark" && ts(i + 1) == "join")
      if (hits.isEmpty) None
      else Some(id -> (hits.length.toLong, hits.head.toLong))
    }
    val got = TextAnalysis.matchPhrase(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_phrase"), r.getAs[Long]("first_pos"))).toMap
    assert(got === expected)
  }

  test("dense date histogram zero-fills the full bucket grid") {
    val rows = graft.operators.Coverage.a12DateHistogramDense(spark, sf)
      .collect()
    val hours = rows.map(_.getLong(0)).distinct.sorted
    val types = rows.map(_.getString(1)).distinct
    // complete grid: every hour in [lo,hi] stepped by 1h, × every type
    assert((hours.head to hours.last by 3600000000L) === hours.toSeq)
    assert(rows.length === hours.length * types.length)
    assert(rows.exists(_.getLong(2) == 0L), "zero buckets must exist")
    // zero-fill must not invent or lose events
    val total = rows.map(_.getLong(2)).sum
    assert(total === graft.core.Tables(spark, sf).events.count())
  }

  test("mixture sample hits its per-lang epoch bounds and is rerun-stable") {
    val a = Sampling.sampleMixture(spark, sf).collect()
    assert(a.toSeq === Sampling.sampleMixture(spark, sf).collect().toSeq)
    val langTotals = graft.core.Tables(spark, sf).documents
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = Sampling.mixtureRatesE3.toMap
    a.foreach { r =>
      val (lang, nDocs, nRows) = (r.getString(0),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_rows"))
      val w = rates(lang)
      val (lo, hi) = (w / 1000, w / 1000 + (if (w % 1000 > 0) 1 else 0))
      // whole-epoch weights keep every doc; fractional gates some subset
      if (lo >= 1) assert(nDocs === langTotals(lang))
      assert(nRows >= nDocs * lo && nRows <= nDocs * hi)
    }
    // every lang with weight >= 1 epoch must appear in the audit
    rates.filter(_._2 >= 1000).keys.filter(langTotals.contains).foreach {
      l => assert(a.exists(_.getString(0) == l), s"lang $l missing")
    }
  }

  test("deterministic shuffle is a rerun-stable permutation equal to " +
      "its single-window definition") {
    val a = Sampling.sampleShuffle(spark, sf).collect()
    assert(a.toSeq === Sampling.sampleShuffle(spark, sf).collect().toSeq)
    val n = graft.core.Tables(spark, sf).documents.count()
    assert(a.length === n.toInt)
    assert(a.map(_.getAs[Long]("pos")).toSeq === (1L to n).toSeq)
    assert(a.map(_.getAs[Long]("doc_id")).distinct.length === n.toInt)
    // the sharded-offset position must equal the rank a single global
    // ORDER BY (shard, h, doc_id) window would assign
    val byDef = a.sortBy(r => (r.getAs[Long]("h") % Sampling.shuffleShards,
      r.getAs[Long]("h"), r.getAs[Long]("doc_id")))
    assert(byDef.map(_.getAs[Long]("pos")).toSeq === (1L to n).toSeq)
  }

  test("drift audit conserves counts with shares summing to one") {
    val rows = graft.operators.DataQuality.dqDrift(spark, sf).collect()
    val docs = graft.core.Tables(spark, sf).documents.count()
    assert(rows.map(_.getAs[Long]("n_all")).sum === docs)
    val k = rows.length
    val sa = rows.map(_.getAs[Long]("share_all_e6")).sum
    val sg = rows.map(_.getAs[Long]("share_gated_e6")).sum
    // integer div floors, so each share undershoots by < 1
    assert(sa > 1000000L - k && sa <= 1000000L)
    assert(sg > 1000000L - k && sg <= 1000000L)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_gated") <= r.getAs[Long]("n_all"))
      assert(r.getAs[Long]("drift_e6") >= 0L)
    }
    // Σ|Δshare| = 2·TVD ∈ [0, 2e6]
    assert(rows.map(_.getAs[Long]("drift_e6")).sum <= 2000000L)
  }

  test("indexed ANN equals the re-clustering multiprobe path, Bloom-" +
      "prunes postings files, and the build audit is consistent") {
    import graft.operators.Similarity
    val served = SparkEntry.queries("sim_ann_indexed")(spark, sf).collect().toSeq
    val direct = Similarity.annIvfMultiprobe(spark, sf).collect().toSeq
    assert(served === direct, "an index must never change the answer")
    // a cell probe must touch a strict subset of the postings files
    val idx = graft.operators.StandingIndex.ensure(spark, sf,
      graft.operators.VectorIndex.Ivf)
    val tx = graft.lake.TxTable(spark, idx.postings)
    val snap = tx.latest().get
    val aCell = tx.read().select(col("cell")).head().get(0)
    val live = tx.bloomLiveEntries(snap, "cell", lit(aCell))
    assert(live.nonEmpty && live.size < snap.files.size,
      s"bloom pruned nothing: ${live.size} of ${snap.files.size} files live")
    // build audit: every vector in exactly one cell
    val audit = graft.operators.VectorIndex.buildAudit(spark, sf,
      graft.operators.VectorIndex.Ivf).head()
    val nVecs = graft.core.Tables(spark, sf).embeddings.count()
    assert(audit.getAs[Long]("n_vecs") === nVecs)
    assert(audit.getAs[Long]("n_cells") >= 1L)
    assert(audit.getAs[Long]("min_cell_pop") >= 1L)
    assert(audit.getAs[Long]("min_cell_pop") <=
      audit.getAs[Long]("max_cell_pop"))
  }

  test("√N-cell ANN: indexed serving equals the re-clustering path, " +
      "the cell alphabet follows ⌈√N⌉, and probing is a strict prune") {
    import graft.operators.Similarity
    val served = Similarity.annIndexedSqrt(spark, sf).collect().toSeq
    val direct = Similarity.annIvfSqrtK(spark, sf).collect().toSeq
    assert(served === direct, "an index must never change the answer")
    // every query serves a full ranked 1..k list
    served.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq ===
        (1L to rows.length).toSeq)
    }
    val audit = Similarity.ivfBuildSqrt(spark, sf).head()
    val nVecs = graft.core.Tables(spark, sf).embeddings.count()
    assert(audit.getAs[Long]("n_vecs") === nVecs,
      "every vector lives in exactly one cell")
    // Lloyd may empty a cell but can never mint one: 1 < cells ≤ ⌈√N⌉
    val kTarget = math.ceil(math.sqrt(nVecs.toDouble)).toLong
    assert(audit.getAs[Long]("n_cells") > 1L)
    assert(audit.getAs[Long]("n_cells") <= kTarget)
    // the scale claim itself: a probe touches < the whole corpus even
    // summed over all queries (nprobe·√N candidates, not Θ(N) per q)
    assert(audit.getAs[Long]("max_cell_pop") * 3 < nVecs,
      "3 probes of the fattest cell must still strictly prune")
    // a cell point read must Bloom-prune to a strict file subset
    val idx = graft.operators.StandingIndex.ensure(spark, sf,
      graft.operators.VectorIndex.Sqrt)
    val tx = graft.lake.TxTable(spark, idx.postings)
    val snap = tx.latest().get
    val aCell = tx.read().select(col("cell")).head().get(0)
    val live = tx.bloomLiveEntries(snap, "cell", lit(aCell))
    assert(live.nonEmpty && live.size < snap.files.size,
      s"bloom pruned nothing: ${live.size} of ${snap.files.size} files live")
  }

  test("search eval: NDCG and MRR obey their bounds and the ideal " +
      "ranking dominates the served one") {
    val rows = TextAnalysis.searchEval(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (dcg, idcg) = (r.getAs[Long]("dcg_e6"), r.getAs[Long]("idcg_e6"))
      assert(r.getAs[Long]("n_rel") > 0L, "fixture queries must match")
      // IDCG is the max over orderings, so it dominates the served DCG
      assert(dcg <= idcg)
      val ndcg = r.getAs[Long]("ndcg_e6")
      assert(ndcg > 0L && ndcg <= 1000000L)
      // integer-floor consistency: ndcg = (1e6·dcg) div idcg exactly
      assert(ndcg === (1000000L * dcg) / idcg)
      val mrr = r.getAs[Long]("mrr_e6")
      assert(mrr == 0L || (mrr >= 1000000L / 10 && mrr <= 1000000L),
        s"mrr out of the rank-1..10 band: $mrr")
    }
  }

  test("pinned-quantizer IVF append lifecycle is deterministic and " +
      "serves complete ranked lists") {
    import graft.operators.Similarity
    val served = Similarity.ivfAppendServe(spark, sf).collect()
    assert(served.nonEmpty)
    // every query serves a full ranked 1..k list
    served.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq ===
        (1L to rows.length).toSeq)
    }
    // the lifecycle (build → append → merged serve) is a pure function
    // of the corpus: rebuilding must reproduce it exactly
    assert(served.toSeq ===
      Similarity.ivfAppendServe(spark, sf).collect().toSeq)
  }

  test("salted join is row-identical to the plain join") {
    import graft.operators.Skew
    val t = graft.core.Tables(spark, sf)
    val fact = t.events.select(col("user_id"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("val_cents"))
    val dim = t.customer.select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("seg"))
    val salted = Skew.saltedJoin(fact, col("event_id"), dim, "user_id", 8)
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("seg")))
      .sorted.toSeq
    val plain = fact.join(dim, Seq("user_id"))
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("seg")))
      .sorted.toSeq
    assert(salted === plain)
    assert(salted.nonEmpty)
  }

  test("q21 semi/anti form equals Spark SQL's own EXISTS decorrelation") {
    val t = graft.core.Tables(spark, sf)
    t.orders.createOrReplaceTempView("q21_orders")
    t.lineitem.createOrReplaceTempView("q21_lineitem")
    t.supplier.createOrReplaceTempView("q21_supplier")
    t.nation.createOrReplaceTempView("q21_nation")
    val sqlForm = spark.sql(
      """WITH ordF AS (SELECT o_orderkey, o_orderdate FROM q21_orders
             WHERE o_orderstatus = 'F'),
         l AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
               FROM q21_lineitem JOIN ordF ON l_orderkey = o_orderkey),
         late AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                  FROM l WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
         alls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM l),
         cand AS (SELECT c.ok, c.sk FROM late c
                  WHERE EXISTS (SELECT 1 FROM alls a
                                WHERE a.ok = c.ok AND a.sk != c.sk)
                    AND NOT EXISTS (SELECT 1 FROM late x
                                    WHERE x.ok = c.ok AND x.sk != c.sk)),
         ns AS (SELECT s_suppkey, s_name FROM q21_supplier
                JOIN q21_nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_19')
         SELECT s_name, count(*) AS numwait
         FROM cand JOIN ns ON cand.sk = ns.s_suppkey
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""").collect()
    val manual = graft.operators.Relational
      .q21WaitingSupplier(spark, sf, nationName = "NATION_19").collect()
    assert(manual.nonEmpty, "fixture nation must have waiting suppliers")
    assert(manual.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      sqlForm.map(r => (r.getString(0), r.getLong(1))).toSeq)
    // counts descend; suppliers unique
    val counts = manual.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(manual.map(_.getString(0)).distinct.length === manual.length)
  }

  test("fuzzy search: 1-edit typos score exactly like the clean query") {
    import org.apache.spark.sql.functions._
    // at sf0.001 each typo expands to exactly its intended token
    // (verified: no other vocab entry is within distance 1), and with
    // one expansion per term the dis-max reduces to plain BM25 — the
    // two queries must be row-identical
    val fuzzy = graft.operators.TextAnalysis.fuzzySearch(spark, sf,
      terms = Seq("spak", "joinn", "vectr"))
    val clean = graft.operators.TextAnalysis.bm25Search(spark, sf,
      terms = Seq("spark", "join", "vector"))
    assert(fuzzy.except(clean).isEmpty && clean.except(fuzzy).isEmpty)
    // and the expansion is doing real work: the typo'd terms match
    // nothing verbatim
    val verbatim = graft.operators.TextAnalysis.bm25Search(spark, sf,
      terms = Seq("spak", "joinn", "vectr"))
    assert(verbatim.count() === 0L)
  }

  test("winsorize: thresholds ordered, clipped sum bounded, counts sane") {
    val rows = graft.operators.DataQuality.dqWinsorize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, p01, p99) = (r.getAs[Long]("n"), r.getAs[Long]("p01_c"),
        r.getAs[Long]("p99_c"))
      val (raw, clip) = (r.getAs[Long]("sum_raw_c"), r.getAs[Long]("sum_clip_c"))
      val (lo, hi) = (r.getAs[Long]("n_lo"), r.getAs[Long]("n_hi"))
      assert(p01 <= p99)
      assert(clip >= n * p01 && clip <= n * p99)
      // ~1% clipped each side (rank formula can't exceed 2% + 1 row)
      assert(lo <= n / 50 + 1 && hi <= n / 50 + 1)
      // clipping only moves the sum by what the clipped rows lost
      assert((lo + hi == 0) == (raw == clip))
    }
  }

  test("quality tiers partition the corpus; the top tier keeps all") {
    val rows = graft.operators.Sampling.sampleQualityTiers(spark, sf)
      .collect()
      .map(r => r.getAs[String]("tier") ->
        (r.getAs[Long]("p_e3"), r.getAs[Long]("n_total"),
          r.getAs[Long]("n_kept"))).toMap
    val totalDocs = graft.core.Tables(spark, sf).documents.count()
    assert(rows.values.map(_._2).sum === totalDocs)
    rows.get("t4_best").foreach { case (p, n, k) =>
      assert(p === 1000L && k === n)
    }
    rows.values.foreach { case (p, n, k) =>
      assert(k <= n)
      // the hash gate tracks its rate within 10 permille-points on
      // groups of 100+
      if (n >= 100) assert(math.abs(1000L * k / n - p) <= 100)
    }
  }

  test("funnel stages shrink monotonically; stage 1 converts at 10000") {
    val rows = graft.operators.Coverage.aFunnel(spark, sf).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("conv_from_first_e4")))
      .toMap
    assert(rows.keySet === Set("1_view", "2_click", "3_purchase"))
    assert(rows("1_view")._2 === 10000L)
    assert(rows("1_view")._1 >= rows("2_click")._1)
    assert(rows("2_click")._1 >= rows("3_purchase")._1)
    assert(rows.values.forall { case (n, c) => n >= 0 && c <= 10000L })
  }

  test("retention: offset-0 count equals the cohort size") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Coverage.aRetention(spark, sf)
    // a signup IS activity on the cohort day, so offset 0 must count
    // every cohort member
    val cohortSizes = graft.core.Tables(spark, sf).events
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("d"))
      .groupBy(unix_date(col("d")).cast("long").as("cohort_epoch_day"))
      .agg(count(lit(1)).as("n_cohort"))
    val z = out.filter(col("day_offset") === 0)
      .join(cohortSizes, Seq("cohort_epoch_day"), "full")
    assert(z.filter(col("n_active").isNull || col("n_cohort").isNull ||
      col("n_active") =!= col("n_cohort")).count() === 0L)
    // offsets bounded, counts never exceed the cohort
    val bad = out.join(cohortSizes, Seq("cohort_epoch_day"))
      .filter(col("day_offset") < 0 || col("day_offset") > 7 ||
        col("n_active") > col("n_cohort"))
    assert(bad.count() === 0L)
  }

  test("temperature sampling: rarer languages get strictly higher rates") {
    val rows = graft.operators.Sampling.sampleTemperature(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("n_total"), r.getAs[Long]("p_e3"),
        r.getAs[Long]("n_sampled")))
    assert(rows.nonEmpty)
    // p ∝ 1/√n: any lang with more docs must not have a higher rate
    for (Seq((na, pa, _), (nb, pb, _)) <- rows.toSeq.combinations(2))
      if (na > nb) assert(pa <= pb) else if (nb > na) assert(pb <= pa)
    // the hash gate can't exceed its rate by much: n_sampled/n_total
    // stays below p_e3 + 10% slack in permille terms on 500+ docs
    rows.filter(_._1 >= 100).foreach { case (n, p, s) =>
      assert(1000L * s / n <= p + 100)
    }
  }

  test("q10 returns a descending exact-revenue top-20 with unique " +
      "customers") {
    val rows = graft.operators.Relational.q10ReturnedItems(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Long]("revenue_e4"))
    assert(revs.zip(revs.tail).forall { case (x, y) => x >= y })
    assert(rows.map(_.getAs[Long]("c_custkey")).distinct.length ===
      rows.length)
  }
}
