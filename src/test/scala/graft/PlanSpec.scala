package graft

/** Regression guard for the scale properties SCALE.md promises: these
  * assertions fail if a refactor silently drops a broadcast, loses
  * filter pushdown, or adds a second shuffle to the enrichment window
  * pipeline. */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("dimension chain joins broadcast (no fact-side shuffle join)") {
    val p = executedPlan("j_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("threshold filter is pushed into the parquet scan") {
    val p = executedPlan("p_filter_threshold")
    assert(p.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,0.1)]")
      || p.contains("GreaterThan(value,0.1)"))
  }

  test("scans are column-pruned (q1 reads only the referenced columns)") {
    val p = executedPlan("q1_agg")
    assert(p.contains("l_returnflag") && p.contains("l_quantity"))
    assert(!p.contains("l_shipdate")) // unreferenced column must not be read
  }

  test("entity enrichment shares one exchange across its window specs") {
    val plan = graft.operators.DomainBridges.vehicleEnrich(spark, sf)
      .queryExecution.executedPlan.toString
    // the lag/lead/full-frame windows over tracker order must stack on a
    // single hashpartitioning exchange of the events scan, not one each;
    // the only other entity-key-only exchange allowed is the mode
    // branch's rank window (its counts aggregate is keyed tracker+lane)
    val exchanges = "Exchange hashpartitioning\\(tracker_id#\\d+, \\d+\\)".r
      .findAllIn(plan).length
    assert(exchanges <= 2, s"window pipeline shuffles $exchanges times on the entity key")
  }

  test("brute-force similarity broadcasts the query side") {
    val p = executedPlan("sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("range join is a broadcast hash join, never a nested loop") {
    val p = executedPlan("j_range")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("as-of join shuffles exactly once on the key (no range probe)") {
    val p = executedPlan("j_asof")
    val exchanges = "Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\)".r
      .findAllIn(p).length
    assert(exchanges === 1, s"as-of pipeline has $exchanges key exchanges")
    assert(!p.contains("Join"), "as-of must not plan a physical join")
  }

  test("rollup/cube run as a single Expand + aggregate (one pass)") {
    val p = executedPlan("a_rollup")
    assert(p.contains("Expand"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1)
  }

  test("partitioned read-back prunes to the filtered partition") {
    val p = executedPlan("s3_partitioned_prune")
    assert(p.contains("PartitionFilters"))
    assert(p.contains("isnotnull(lang") || p.contains("(lang"))
  }

  test("Q7/Q8 broadcast every dimension leg and push the part filter") {
    val p7 = executedPlan("q7_volume_shipping")
    // supplier and customer legs each carry a broadcast nation join
    assert(p7.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2)
    assert(p7.contains("l_shipdate"), "shipdate filter lost")
    val p8 = executedPlan("q8_market_share")
    assert(p8.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 4,
      "q8 should broadcast part, supplier-nation, customer-region legs")
    assert(p8.contains("p_type"), "p_type filter not pushed toward the part scan")
    assert(!p8.contains("CartesianProduct"))
  }

  test("no query plans an unexpected cartesian or nested-loop join") {
    // intentional exceptions: brute-force similarity broadcasts the tiny
    // query/aggregate side through a BroadcastNestedLoopJoin by design
    // SRP queries build their 16×64 hyperplane table as a constant
    // cross join of two tiny ranges — 1024 rows BY CONSTRUCTION,
    // broadcast, never data-dependent — which plans as a broadcast
    // nested-loop/cartesian by nature
    // dedup_embedding_cosine's harness joins in a 1-ROW max(vec_id)
    // aggregate (the clone-id offset) — a scalar subquery in NLJ form
    // text_bm25_search crosses in its 1-row (N, Σdl) corpus-stats
    // aggregate — same shape as text_tfidf's N
    // a12_date_histogram_dense's hour-spine × type grid IS a cross
    // join of two aggregate-bounded sides (buckets, not events)
    val allowNlj = Set("sim_cosine_topk", "sim_ann_ivf", "sim_knn_classify",
      "text_tfidf", "u_intersect_except", "dedup_incremental",
      "dedup_srp_bands", "dedup_embedding_srp", "dedup_embedding_cosine",
      "text_bm25_search", "a12_date_histogram_dense",
      // 1-row global-total aggregate crossed into the term scores
      "text_significant_terms", "text_bool_search", "text_bm25_indexed",
      // index summary: 1-row postings aggregate × 1-row stats table
      "text_fts_build",
      // lexical leg embeds text_bm25_search's 1-row stats cross join;
      // semantic leg embeds sim_cosine_topk's broadcast-queries cross
      "search_hybrid_rrf",
      // contain sim_cosine_topk's broadcast-queries cross join
      "sim_ann_recall", "sim_ann_recall_mp",
      // crosses in the same 1-row (N, Σdl) corpus-stats aggregate as
      // text_bm25_search, per evaluated query
      "search_eval",
      // √N IVF assignment kernel: embeddings × the k-row quantized
      // centroid table through the codegen Dist2Q scorer — broadcast
      // only under the PROVEN k·d·24 B ≤ 32 MB bound (driver scalars),
      // with the hint-free dim-join shuffle as the over-bound fallback
      "sim_ann_sqrtk", "sim_ivf_build_sqrt", "sim_ann_indexed_sqrt",
      // 1-row (corpus_n, s_sum) totals crossed into the |langs|-row
      // rate table — both sides are tiny aggregates
      "sample_temperature",
      // 1-row first-stage count crossed into the 3-row stage table
      "a_funnel",
      // literal-bounded query-term list crossed over the vocabulary
      // for edit-distance expansion + the 1-row bm25 stats cross
      "text_fuzzy_search",
      // VectorIndex.sq8Topk with the corpus as one cell: the cell = 0
      // equi-join folds to a nested-loop join against the broadcast
      // |Q| = 5 query-code rows
      "sim_sq8_rerank",
      // composed IVF-SQ8: the same 1-row [mn,mx] range cross (build
      // encodes the corpus, serve encodes the |Q| query vectors) plus
      // the √N centroid kernel cross sim_ann_indexed_sqrt carries;
      // candidate scoring itself is the cell equi-join
      "sim_ivfsq8_build", "sim_ann_ivfsq8",
      // recall grading embeds sim_cosine_topk's broadcast-queries
      // cross (|Q|=5 rows) for the exact ground-truth leg
      "sim_ann_ivfsq8_recall", "sim_ann_recall_sqrt",
      // churn + filtered serves carry the same proven-bound √N
      // centroid kernel cross as sim_ann_indexed_sqrt
      "sim_ivf_churn", "sim_ann_filtered",
      // sample-trained family: same proven-bound centroid kernel cross
      // (training just reads fewer rows); recall queries embed the
      // broadcast-queries ground-truth cross like sim_ann_recall_sqrt
      "sim_ivf_build_sample", "sim_ann_indexed_sample",
      "sim_ann_recall_sample", "sim_ann_filtered_recall",
      // r11: sample-trained composed index (same 1-row range cross +
      // proven-bound centroid kernel cross as the full-trained SQ8
      // family; recalls embed the broadcast-queries ground-truth leg)
      "sim_ivfsq8_build_sample", "sim_ann_ivfsq8_sample",
      "sim_ann_ivfsq8_sample_recall",
      // r13: streamed composed index — the serve IS VectorIndex.serve
      // (same 1-row range cross + proven-bound centroid kernel cross
      // as sim_ann_ivfsq8_sample); the build side additionally runs
      // the withArgminCell kernel cross per micro-batch, all bounded
      "stream_ivfsq8_serve",
      // r13: streamed PQ — the serve IS VectorIndex.serve (same centroid
      // kernel cross + broadcast ADC codebook joins as
      // sim_ann_ivfpq_sample); per-batch assign/encode runs the same
      // bounded kernel crosses as the one-shot PQ build
      "stream_ivfpq_serve",
      // r14: serve-only twins — identical serving plans
      // (VectorIndex.serve) over the get-or-streamed standing snapshot;
      // same bounded kernel crosses as their lifecycle rows
      "stream_ivfsq8_serve_only", "stream_ivfpq_serve_only",
      // r11: adaptive filtered serve = the sim_ann_filtered serve at a
      // computed width — same kernel cross; recall adds the ground-truth
      // leg
      "sim_ann_filtered_adaptive", "sim_ann_filtered_adaptive_recall",
      // r11: IVF-PQ — centroid kernel cross at build and serve (probe
      // ranking); recall embeds the ground-truth cross
      "sim_ivfpq_build", "sim_ann_ivfpq", "sim_ann_ivfpq_recall",
      // r12: sample-trained PQ — same kernel crosses as the full-
      // trained PQ family (the build audit additionally crosses the
      // 1-row n_sample and cb_rows aggregates; all bounded)
      "sim_ivfpq_build_sample", "sim_ann_ivfpq_sample",
      "sim_ann_ivfpq_sample_recall",
      // Similarity.assign / withArgminCell / withPqCodes cross a
      // ONE-ROW broadcast pack (cells/cvecs or codebook, k·d /
      // |codes|·d longs — bounded by construction) into the embedding
      // scan; the multiprobe rows add the Dist2Q probe ranking's cross
      // over the |Q| query vectors
      "sim_ivf_assign", "sim_ivf_kmeans", "sim_ann_multiprobe",
      "sim_pq_adc",
      // sim_ann_multiprobe at nprobe = 1
      "sim_ann_ivf_true")
    val allowCartesian = Set("dedup_srp_bands", "dedup_embedding_srp")
    // streaming queries execute on build; roundtrips write scratch files;
    // iterative ops run jobs — all are covered by their own specs/oracles
    val skip = Set("stream_sessionize", "stream_state_sessionize",
      "stream_static_join", "stream_stream_join", "s2_csv_roundtrip",
      "s3_partitioned_prune", "dedup_cc", "graph_pagerank")
    SparkEntry.queries.keys.filterNot(skip).foreach { name =>
      val p = executedPlan(name)
      if (!allowCartesian(name))
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!allowNlj(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join")
    }
  }

  test("minhash verification never broadcast-HINTS any data-dependent side") {
    // the candidate-pair list grows with corpus size and dup rate —
    // O(N) pairs on a high-dup web corpus — so NOTHING in this pipeline
    // may carry a static broadcast hint (the planner may still broadcast
    // from MEASURED statistics at tiny SF, which is safe; a static hint
    // is not — it would force a driver OOM at 100 TB).
    val analyzed = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(analyzed).length
    assert(hints == 0,
      s"minhash pipeline carries $hints broadcast hints; every side is corpus-proportional")
  }

  test("contamination broadcast-hints only the benchmark shingle side") {
    // the corpus is billions of docs; only the benchmark's distinct
    // shingles (small by definition) may carry a broadcast hint
    val analyzed = SparkEntry.queries("text_contamination")(spark, sf)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(analyzed).length == 1)
  }

  test("hash-mod sampling needs no shuffle before the aggregation") {
    val p = executedPlan("sample_split")
    // the sample membership filter must sit in the scan stage, not
    // after an exchange: exactly the one aggregation shuffle exists
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
  }
}
