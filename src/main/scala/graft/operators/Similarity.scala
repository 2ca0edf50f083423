package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Similarity search over the `embeddings(vec_id, embedding float[64],
  * label)` table.
  *
  * - Brute-force cosine top-k is the exact baseline: broadcast the
  *   (small) query set against the full table — one scan, no shuffle of
  *   the big side, then the per-query rank window.
  * - The IVF variant prunes to the query's coarse partition (here the
  *   `label` column stands in for the nearest-centroid assignment): at
  *   scale the bucket equi-join touches 1/k of the data — the path that
  *   survives 100 TB.
  * - The standing indexes (label-seeded, √N and sample-trained cells;
  *   flat, SQ8 and PQ codes; batch, streamed and grow lifecycles) are
  *   one [[VectorIndex]] type with one registry, one loader and one
  *   commit path; the queries here name a family and serve through it.
  *   `graft.IndexCatalog` maps each serving query to the index it
  *   reads, for the warm-ups in `Bench` and `PlanDump`.
  *
  * Every cell-probe query, indexed or not, is built from one of each:
  * - one ranker: [[probeList]] ranks each query's nearest cells (the
  *   codegen [[rankedByDist]] under the broadcast bound, the dim-join
  *   [[rankedTo]] past it), and [[assign]] / [[withArgminCell]] give
  *   every vector its argmin cell;
  * - one trainer: [[lloyd]], deterministic Lloyd k-means (the kernel
  *   form under [[centsBounded]], the relational form past it);
  * - one scorer: [[topkByCell]] ranks probed members by exact cosine,
  *   and `VectorIndex.sq8Topk` / `adcTopk` cut code scans before the
  *   exact rerank; every per-query cut is the one [[perQuery]] window.
  * The unindexed queries call these on the corpus, so each shares its
  * answer (and oracle) with the standing index that serves it.
  *
  * Numerics: embeddings are quantized to exact integers
  * (floor(x·10⁴ + 0.5), [[E4]]), so dot products and norms are
  * order-independent integer sums (all < 2⁵³); the final cosine is one
  * deterministic double expression. This keeps results bit-identical
  * across engines/partitionings — a float fold would not be.
  */
object Similarity {

  /** The e4 quantization of a float `x`, as SQL: floor(x·10⁴ + 0.5). */
  private[graft] val E4 = "CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)"

  /** The half-up integer mean floor(s/n + 0.5) of integer columns `s`
    * and `n`: exact-integer IEEE division, identical on every engine. */
  private[graft] def halfUpMean(s: String, n: String): Column =
    expr(s"CAST(floor(CAST($s AS DOUBLE) / CAST($n AS DOUBLE) + 0.5) AS BIGINT)")

  /** Each query's first `n` rows of `df` by `order`, numbered from 1 in
    * column `rn`: the one per-`qid` top-k window of every ranking. */
  private[operators] def perQuery(df: DataFrame, n: Int, rn: String = "rn")(
      order: Column*): DataFrame =
    df.withColumn(rn, row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
      .filter(col(rn) <= n)

  /** Exact-cosine top-k of candidate pairs (qid, q_emb, vec_id,
    * embedding): (qid, nid, cos_e6, rn), cosine desc then vec_id, the
    * query itself excluded. Scored by the codegen
    * [[graft.functions.CosineSimQ]]. */
  private def rankByCosine(pairs: DataFrame, k: Int): DataFrame =
    perQuery(pairs.filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_e6",
        graft.functions.CosineSimQ.cosineSimE6(col("q_emb"), col("embedding"))), k)(
      col("cos_e6").desc, col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), col("cos_e6"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("qid"), col("rn"))

  /** Exact cosine top-k of the 5 query vectors over the corpus, or over
    * the corpus rows matching `cand` (the ground truth of a filtered
    * serve); `sameLabelOnly` blocks by label. */
  private[operators] def topk(spark: SparkSession, dir: String, k: Int,
      sameLabelOnly: Boolean, cand: Option[Column] = None): DataFrame = {
    val base = Tables(spark, dir).embeddings
    val queries = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val corpus = cand.fold(base)(c => base.filter(c))
    rankByCosine(
      if (sameLabelOnly)
        corpus.join(broadcast(queries), col("label") === col("q_label"))
      else corpus.crossJoin(broadcast(queries)), k)
  }

  /** Exact brute-force cosine top-10 for 5 query vectors. */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame =
    topk(spark, dir, 10, sameLabelOnly = false)

  /** Per-label embedding centroids: quantize each component to e4
    * integers (the proven float-parity path), posexplode to
    * (label, dim) pairs, integer-sum in ONE shuffle, divide once at the
    * end (exact-integer IEEE division — bit-equal on every engine).
    * This is the IVF training step: the centroids are the coarse
    * quantizer [[annIvf]] probes. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables(spark, dir).embeddings, Seq("label"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
      .withColumn("centroid_e4",
        col("sum_q").cast("double") / col("n").cast("double"))
      .orderBy(col("label"), col("dim"))

  /** kNN majority-vote classification over the verified top-k neighbor
    * lists: predicted label = most voted among the 10 nearest (count
    * desc, best-rank asc, label asc — fully pinned), checked against
    * the query's own label. The eval loop a curation pipeline runs to
    * validate its embedding space. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.Tables(spark, dir)
    val lab = t.embeddings.select(col("vec_id"), col("label"))
    val votes = cosineTopk(spark, dir)
      .join(lab.select(col("vec_id").as("nid"), col("label").as("nlabel")),
        Seq("nid"))
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("votes"), min(col("rn")).as("best_rn"))
    perQuery(votes, 1, "vr")(col("votes").desc, col("best_rn"), col("nlabel"))
      .join(lab.select(col("vec_id").as("qid"), col("label").as("true_label")),
        Seq("qid"))
      .select(col("qid"), col("nlabel").as("predicted_label"),
        col("votes"), col("true_label"),
        (col("nlabel") === col("true_label")).as("correct"))
      .orderBy(col("qid"))
  }

  /** IVF-pruned ANN: top-5 within the query's coarse bucket (label). */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    topk(spark, dir, 5, sameLabelOnly = true)

  /** TRUE IVF cell assignment: every vector goes to its nearest
    * label-seeded centroid ([[assign]]: exact integer squared distance,
    * (dist2, cell) tie-break). The centroid is the half-up-rounded e4
    * integer mean, so distances are small exact longs at ANY corpus
    * size and the argmin can never flip on a ulp. `cell` casts back to
    * the label alphabet's int32. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    assign(Tables(spark, dir).embeddingsSpread,
        labelCentroids(qe4(spark, dir)), bounded = true)
      .withColumn("cell", col("cell").cast("int"))
      .orderBy(col("vec_id"))

  /** (vec_id, label, dim, q): embeddings e4-quantized, one row per
    * coordinate — the shared front of the label-seeded IVF family. */
  private[graft] def qe4(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables(spark, dir).embeddingsSpread, Seq("vec_id", "label"))

  /** Label-seeded centroid table (cell, dim, c) — the half-up integer
    * mean per (label, dim). k·d rows, bounded by the label alphabet. */
  private[graft] def labelCentroids(qe: DataFrame): DataFrame =
    qe.groupBy(col("label").as("cell"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), col("dim"), halfUpMean("s", "n").as("c"))

  /** Product-quantization ANN (ADC — asymmetric distance computation,
    * Jégou et al., the standard 100 TB memory-compression path): the
    * 64-dim space splits into 8 subspaces of 8 dims; each subspace gets
    * its own codebook ([[pqCodebook]]: per-label subspace centroids —
    * half-up e4 integer means, the deterministic stand-in for a
    * per-subspace kmeans); every vector is ENCODED on its row as its 8
    * nearest sub-centroids ([[withPqCodes]]: exact integer squared
    * distance, code-asc tie-break). A query never touches raw corpus
    * vectors again: its exact distance to every (subspace, code)
    * centroid forms a constant-size lookup table, and the approximate
    * distance to a corpus vector is the sum of 8 table lookups over
    * that vector's codes.
    *
    * Plan shape at scale: the codebook (8×k×8 values) and the query
    * distance tables (|Q|×8×k rows) are constant-size → broadcast; the
    * corpus contributes only its (vec, sub, code) triples — 8 small
    * ints per vector, the 32× compression PQ exists for — and the ADC
    * "lookup" is a broadcast equi-join on (sub, code) followed by one
    * map-side-combined sum per (query, vector). No shuffle ever carries
    * an embedding. */
  def pqAdc(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qe = qe4(spark, dir)
    val cb = pqCodebook(qe)
    val codes = withPqCodes(Tables(spark, dir).embeddingsSpread
        .select(col("vec_id"), col("embedding")), cb)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
    val qdist = qe.filter(col("vec_id") < 5)
      .withColumn("sub", expr(s"dim div $PqDimsPerSub"))
      .join(broadcast(cb), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
      .select(col("vec_id").as("qid"), col("sub"), col("code"), col("d2"))
    val adc = codes.join(broadcast(qdist), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_dist2"))
    perQuery(adc, k)(col("adc_dist2"), col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), col("adc_dist2"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** (vec_id, dim, q): every embedding exploded to its e4-quantized
    * integer coordinates. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables(spark, dir).embeddingsSpread)

  /** [[quantized]] over any frame carrying `embedding`, keyed by `keys`
    * — the grow-aware index maintenance path feeds deltas and merged
    * snapshots here, the PQ serve its probe rows. */
  private[graft] def quantizedOf(emb: DataFrame,
      keys: Seq[String] = Seq("vec_id")): DataFrame =
    emb.select(keys.map(col) :+ posexplode(col("embedding")).as(Seq("dim", "x")): _*)
      .select(keys.map(col) ++ Seq(col("dim").cast("long").as("dim"),
        expr(E4).as("q")): _*)

  /** (n, d) of an embedding frame: its row count and vector length, in
    * one job. */
  private[operators] def shape(emb: DataFrame): (Long, Long) = {
    val r = emb.agg(count(lit(1)), max(size(col("embedding"))).cast("long")).head
    (r.getLong(0), r.getLong(1))
  }

  /** The √N rule: k = ⌈√N⌉ cells keeps E[|cell|²] linear in N. */
  private[operators] def sqrtK(n: Long): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  /** Final (vec_id, cell, dist2) assignment under the Lloyd-trained
    * quantizer ([[lloyd]], then [[assign]]). `k <= 0` picks
    * k = ⌈√N⌉ — the SemDeDup rule that keeps E[|cell|²] linear in N
    * (the count is one scalar, metadata not data). k is a public
    * parameter, so a caller-supplied k proves the same k·d·24 B ≤ 32 MB
    * bound as the default: a large k falls back to the shuffle join. */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 0,
      iters: Int = 2): DataFrame = {
    val (n, d) = shape(Tables(spark, dir).embeddings)
    val emb = Tables(spark, dir).embeddingsSpread
    val (cents, bounded) = lloyd(emb, if (k > 0) k else sqrtK(n), iters, d)
    assign(emb, cents, bounded).orderBy(col("vec_id"))
  }

  /** Oracle-able twin of the spark.ml `view_kmeans` (D11's optional
    * clustering): fixed-init fixed-iteration Lloyd over the same 2-D
    * points (embedding[0], embedding[1]), k=4 — per-cluster size and
    * exact-integer-division mean coordinates (e4 units). The spark.ml
    * variant stays as the library cross-check; this one hash-verifies
    * against DuckDB. At d = 2 the relational Lloyd and [[assign]] are
    * cheaper than the kernel form, whose fixed per-round cost (the
    * centroid pack, the array fold) does not pay off over 2-D points. */
  def viewKmeansDet(spark: SparkSession, dir: String, k: Int = 4,
      iters: Int = 2): DataFrame = {
    val emb2 = Tables(spark, dir).embeddingsSpread
      .select(col("vec_id"), slice(col("embedding"), 1, 2).as("embedding"))
    val qe2 = quantizedOf(emb2)
    qe2.join(assign(emb2, lloydRelational(qe2, k, iters), bounded = false)
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n"), // same n every dim
        sum(when(col("dim") === 0, col("s").cast("double") / col("n").cast("double"))
          .otherwise(lit(0.0))).as("cx_e4"),
        sum(when(col("dim") === 1, col("s").cast("double") / col("n").cast("double"))
          .otherwise(lit(0.0))).as("cy_e4"))
      .orderBy(col("cell"))
  }

  /** Multi-probe IVF ANN — the standard recall lever single-probe IVF
    * lacks: the query searches its `nprobe` NEAREST cells (by exact
    * centroid distance rank), not just its home cell, trading
    * nprobe× candidate work for recall. Measured here (sf0.01,
    * near-uniform synthetic embeddings, recall@5 vs brute force):
    * nprobe=1 → 0.16, nprobe=3 → 0.52 — the knob is the point.
    * Members live only in their argmin cell of the label-seeded
    * quantizer. This is the indexed serve ([[annIndexed]]) over the
    * corpus instead of the postings table: the same [[probeList]] and
    * [[topkByCell]], so the two answers are equal. */
  def annIvfMultiprobe(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame = {
    val cents = labelCentroids(qe4(spark, dir)).localCheckpoint()
    topkByCell(withArgminCell(Tables(spark, dir).embeddingsSpread
        .select(col("vec_id"), col("embedding")), cents),
      probeList(spark, dir, cents, nprobe, bounded = true), k)
  }

  /** Recall@k of the IVF ANN path against the brute-force ground
    * truth — "measure, don't guess" applied to retrieval QUALITY, not
    * just speed: an ANN index whose recall nobody measured is a wrong-
    * answers generator with good latency. Per query: how many of
    * [[annIvfTrue]]'s top-k appear in the exact top-k ([[topk]], no
    * label blocking). Both sides are already-verified small results
    * (k rows per query), so the comparison is metadata-sized; the
    * recall ratio is an exact e6 integer. A query whose probed cell
    * holds fewer than k true neighbors scores honestly low — that IS
    * the single-probe trade-off this measures. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    recallOf(spark, dir, annIvfTrue(spark, dir, k), k)

  /** Recall@k of [[annIvfMultiprobe]] — the measured other end of the
    * nprobe dial (see that method's numbers). */
  def annRecallMultiprobe(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIvfMultiprobe(spark, dir, k, nprobe), k)

  private[graft] def recallOf(spark: SparkSession, dir: String,
      approxDf: DataFrame, k: Int): DataFrame =
    recallVs(approxDf,
      topk(spark, dir, k, sameLabelOnly = false), k)

  /** Recall@k of `approxDf` against an arbitrary exact ground truth —
    * the shared tail of every recall query; the unfiltered paths pass
    * the brute-force [[topk]], the filtered path the
    * predicate-constrained variant (recall against the WRONG ground
    * truth is the classic filtered-ANN measurement error: an
    * unfiltered baseline makes any filtered serve look bad in
    * proportion to selectivity, revealing nothing). */
  private def recallVs(approxDf: DataFrame, exactDf: DataFrame,
      k: Int): DataFrame = {
    val approx = approxDf.select(col("qid"), col("nid"))
    val exact = exactDf.select(col("qid"), col("nid"))
    val hits = approx.join(exact, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_e6", expr(s"(1000000 * n_hits) div $k"))
      .orderBy(col("qid"))
  }

  /** ANN over the TRUE IVF cells: the query probes the one cell its
    * vector is assigned to ([[ivfAssign]]'s argmin, which is the
    * query's first-ranked probe) and ranks the cell's members by exact
    * cosine — [[annIvf]]'s shape with the label stand-in replaced by
    * the real quantizer. */
  def annIvfTrue(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    annIvfMultiprobe(spark, dir, k, nprobe = 1)

  /** The label-seeded index's BUILD as its own declared query: trains
    * the quantizer, commits postings and centroids, re-registers the
    * standing index, and returns the cell-population audit
    * ([[VectorIndex.buildAudit]]). */
  def ivfBuild(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.Ivf)

  /** Incremental IVF maintenance + serve, as one verified lifecycle —
    * the production pattern every vector store follows: the quantizer
    * is trained ONCE (here on the base corpus, vec_id % 10 != 9);
    * appends assign new vectors against those PINNED centroids and
    * never re-train, so existing cell membership — and every
    * previously served answer — is immutable, and the append touches
    * only the delta. Builds the base postings, commits the delta as a
    * second tx append (cell-clustered, Bloom on `cell`), then serves
    * multi-probe ANN from the merged snapshot. The oracle recomputes
    * the same pinned-centroid semantics (centroids from the base
    * subset, every vector assigned against them), so a drifted
    * assignment — accidentally re-training on append — fails the
    * gate. */
  def ivfAppendServe(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame = {
    import graft.lake.TxTable
    import graft.core.Scratch
    val isDelta = pmod(col("vec_id"), lit(10L)) === 9L
    // quantizer pinned at build: centroids from the BASE subset only,
    // checkpointed once so build, append, and serve share one frame
    val cents = labelCentroids(qe4(spark, dir).filter(!isDelta)).localCheckpoint()
    val tx = TxTable(spark, Scratch.fresh("tx_ivf_inc"))
    // the base build, then the delta append against the pinned
    // centroids; each commit's argmin runs ON the scan row
    for (part <- Seq(!isDelta, isDelta))
      VectorIndex.appendPostings(tx, withArgminCell(
          Tables(spark, dir).embeddingsSpread
            .select(col("vec_id"), col("embedding")).filter(part), cents)
        .select(col("cell"), col("vec_id"), col("embedding")))
    // serve from the merged snapshot, probes ranked on the same pinned
    // centroid table
    val (probes, members) = VectorIndex.probeRead(spark, dir, tx, cents,
      nprobe, bounded = true)
    topkByCell(members, probes, k)
  }

  // ----------------------------------------------------------------
  // Ranking: every vector against a centroid table (cell, dim, c).
  // ----------------------------------------------------------------

  /** The dim-join ranker: every (vec_id, cell) pair of quantized
    * coordinates `qe` (vec_id, dim, q) against `cents`, with its exact
    * integer squared distance and per-vector rank `crn` ((dist2, cell)
    * tie-break; crn = 1 is membership, crn ≤ nprobe the probe list).
    * It materializes N·d·k rows through one aggregate and carries no
    * broadcast hint, so it is the over-bound path: AQE broadcasts the
    * centroid side from measured size while it fits and shuffles when
    * it does not. */
  private[graft] def rankedTo(qe: DataFrame, cents: DataFrame): DataFrame = {
    val dists = qe.select(col("vec_id"), col("dim"), col("q"))
      .join(cents, Seq("dim"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cell"))
    dists.withColumn("crn", row_number().over(w))
  }

  /** Centroid table (cell, dim, c) → one row per cell with the
    * dim-ordered quantized vector — the broadcast side of the codegen
    * assignment kernel. k rows; the HOF transform is interpreted but
    * touches only k·d elements once. */
  private def centRows(cents: DataFrame): DataFrame =
    cents.groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cvec"))

  /** The whole centroid table as ONE row (cells sorted asc, cvecs
    * aligned) — the broadcast side of the [[graft.functions
    * .ArgminCellQ]] row-level assignment kernel. k·d longs total,
    * bounded-k callers only. Cell ids canonicalize to BIGINT (the
    * kernel's cell type; label-seeded alphabets are int32 — same
    * values, same asc order, and the TxTable Bloom probes hash the
    * canonical string so int/long width never changes pruning). */
  private def centPack(cents: DataFrame): DataFrame =
    centRows(cents)
      .agg(expr("array_sort(collect_list(struct(CAST(cell AS BIGINT) AS cell, cvec)))")
        .as("p"))
      .select(expr("transform(p, s -> s.cell)").as("cells"),
        expr("transform(p, s -> s.cvec)").as("cvecs"))

  /** Adds the argmin `cell` column ON the embedding row: the crossJoin
    * against the one-row [[centPack]] is a broadcast of k·d longs, and
    * the kernel runs inside the row's codegen stage — no exchange and
    * no join back. Exact integers, (dist2, cell) tie-break — the
    * dim-join ranker's crn = 1 (`KernelEquivalenceSpec`). Every column
    * of `rows` rides along. */
  private[graft] def withArgminCell(rows: DataFrame, cents: DataFrame): DataFrame =
    rows.crossJoin(broadcast(centPack(cents)))
      .withColumn("cell", graft.functions.ArgminCellQ
        .argminCellQ(col("embedding"), col("cells"), col("cvecs"))
        .getField("cell"))
      .drop("cells", "cvecs")

  /** Every vector of `emb` (vec_id, embedding) with its argmin cell:
    * (vec_id, cell, dist2). Under the broadcast bound the
    * [[graft.functions.ArgminCellQ]] kernel computes both on the row;
    * past it the dim-join ranker's crn = 1. Same integers and
    * tie-break either way. */
  private[graft] def assign(emb: DataFrame, cents: DataFrame,
      bounded: Boolean): DataFrame =
    if (bounded) emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centPack(cents)))
      .select(col("vec_id"), graft.functions.ArgminCellQ
        .argminCellQ(col("embedding"), col("cells"), col("cvecs")).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.dist2").as("dist2"))
    else rankedTo(quantizedOf(emb), cents).filter(col("crn") === 1)
      .select(col("vec_id"), col("cell"), col("dist2"))

  /** Ranked nearest-centroid assignment as N·k SCORED ROWS: embeddings
    * cross the broadcast per-cell centroid vectors, the native
    * [[graft.functions.Dist2Q]] computes each exact integer squared
    * distance in a whole-stage-codegen loop, and the (dist2, cell)
    * window ranks per vector. Every column of `emb` rides along beside
    * (cell, dist2, crn). The bounded twin of [[rankedTo]]: the same
    * (cell, dist2, crn) without the N·d·k expansion
    * (`KernelEquivalenceSpec`). */
  private[graft] def rankedByDist(emb: DataFrame, cents: DataFrame): DataFrame = {
    val scored = emb.crossJoin(broadcast(centRows(cents)))
      .withColumn("dist2",
        graft.functions.Dist2Q.dist2Q(col("embedding"), col("cvec")))
      .drop("cvec")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cell"))
    scored.withColumn("crn", row_number().over(w))
  }

  /** The corpus rows WITH their argmin `cell` attached — the builders'
    * postings input. Under the bound the cell is computed on the scan
    * row ([[withArgminCell]]); past it [[assign]]'s relational form is
    * joined back. `extra` columns (e.g. `label`) ride along on the
    * scan row. */
  private[operators] def memberRows(spark: SparkSession, dir: String, cents: DataFrame,
      bounded: Boolean, extra: Column*): DataFrame = {
    val base = Tables(spark, dir).embeddingsSpread
      .select((col("vec_id") +: col("embedding") +: extra): _*)
    if (bounded) withArgminCell(base, cents)
    else base.join(assign(base, cents, bounded = false)
      .select(col("vec_id"), col("cell")), Seq("vec_id"))
  }

  // ----------------------------------------------------------------
  // Training: deterministic Lloyd k-means.
  // ----------------------------------------------------------------

  /** Deterministic fixed-iteration Lloyd k-means over e4-quantized
    * integer coordinates — the TRAINED coarse quantizer whose k is a
    * parameter, independent of any label column (k ∝ √N is what keeps
    * the probed fraction shrinking as the corpus grows).
    *
    * Every step is oracle-expressible and bit-identical cross-engine:
    *  - init ([[seeds]]): the k vectors ranking first by (portable
    *    salted hash of vec_id, vec_id);
    *  - assign: exact integer squared distances (all < 2⁵³), argmin
    *    with (dist2, cell) tie-break — can never flip on a ulp;
    *  - update: centroid = floor(Σq/n + 0.5), the half-up integer mean.
    *    A cell that loses all members vanishes in both engines.
    *
    * `emb` is (vec_id, embedding) of length `d`. The kernel form runs
    * while the k·d centroid table is under [[centsBounded]] (seeds and
    * centroids broadcast), the relational form past it. The training
    * input is persisted, NOT localCheckpointed: Lloyd re-reads it every
    * round, but the block must be freeable — a localCheckpoint block
    * can neither be evicted safely nor unpersisted through the
    * DataFrame API, so repeated trainings in one JVM would pin
    * block-manager memory until exit. Both forms localCheckpoint each
    * round's k·d-row centroid table, which materializes the training
    * against the hot cache and cuts its lineage, so the input frees
    * right after. Returns the trained
    * centroids (cell, dim, c) and whether they are under the bound. */
  private[graft] def lloyd(emb: DataFrame, k: Int, iters: Int,
      d: Long): (DataFrame, Boolean) = {
    val bounded = centsBounded(k.toLong * d)
    val input = (if (bounded) emb.select(col("vec_id"), col("embedding"))
      else quantizedOf(emb)).persist()
    val cents = if (bounded) lloydKernel(input, k, iters)
      else lloydRelational(input, k, iters)
    input.unpersist(blocking = false)
    (cents, bounded)
  }

  /** The hash order Lloyd seeds by: portable salted hash of vec_id,
    * then vec_id. */
  private[operators] val seedOrder: Seq[Column] = Seq(
    graft.functions.PortableHash.phash(col("vec_id").cast("string"), 11).asc,
    col("vec_id").asc)

  /** The k vectors of `rows` ranking first by [[seedOrder]], as
    * (vec_id, cell = 0..k-1) — a distributed top-k (TakeOrdered),
    * never a full sort; the numbering window runs over k rows only. */
  private def seeds(rows: DataFrame, k: Int): DataFrame =
    rows.select(col("vec_id")).distinct().orderBy(seedOrder: _*).limit(k)
      .withColumn("cell", (row_number().over(Window.orderBy(seedOrder: _*)) - 1)
        .cast("long"))

  /** Centroid rows (cell, dim, c) of the vectors in `rows` (cell,
    * embedding): each vector's own quantized coordinates. */
  private[operators] def centsOf(rows: DataFrame): DataFrame =
    quantizedOf(rows, Seq("cell")).withColumnRenamed("q", "c")

  /** Lloyd's kernel form over (vec_id, embedding): broadcast seeds, then
    * [[lloydFrom]]. */
  private[graft] def lloydKernel(emb: DataFrame, k: Int, iters: Int): DataFrame =
    lloydFrom(emb, centsOf(emb.join(broadcast(seeds(emb, k)), Seq("vec_id"))),
      iters)

  /** Lloyd iterations from GIVEN initial centroids (cell, dim, c) —
    * the shared tail of hash-seeded training and the grow-aware
    * rebuild (which seeds from the outgrown index's member vectors so
    * cluster structure carries over instead of restarting cold).
    *
    * Per round, the [[graft.functions.ArgminCellQ]] kernel computes each
    * vector's cell ON the row and [[graft.functions.SumVecQ]] folds
    * each partition's members into k partial (sums, cnts) array rows
    * before the exchange — the round's ONE shuffle carries
    * k·partitions array rows. Exact Long sums per dimension, half-up
    * integer mean (`KernelEquivalenceSpec`). */
  private[operators] def lloydFrom(emb: DataFrame, cents0: DataFrame,
      iters: Int): DataFrame = {
    var cents = cents0.localCheckpoint()
    for (_ <- 1 to iters) {
      cents = withArgminCell(emb, cents)
        .groupBy(col("cell"))
        .agg(graft.functions.SumVecQ.column(col("embedding")).as("sv"))
        .select(col("cell"), posexplode(col("sv.sums")).as(Seq("dim", "s")),
          col("sv.cnts").as("cnts"))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          halfUpMean("s", "cnts[dim]").as("c"))
        .localCheckpoint()
    }
    cents
  }

  /** Lloyd's relational form over quantized coordinates `qe` (vec_id,
    * dim, q): the dim-join ranker assigns, a (cell, dim) aggregate
    * updates. No broadcast hints: it runs past the bound, where k grows
    * with the corpus, and on [[viewKmeansDet]]'s 2-D points, where AQE
    * broadcasts from measured size. Each round's centroid table is
    * localCheckpointed, so round i never re-derives round i-1. */
  private[graft] def lloydRelational(qe: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = qe.join(seeds(qe, k), Seq("vec_id"))
      .select(col("cell"), col("dim"), col("q").as("c"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val asg = rankedTo(qe, cents).filter(col("crn") === 1)
        .select(col("vec_id"), col("cell"))
      cents = qe.join(asg, Seq("vec_id"))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"), halfUpMean("s", "n").as("c"))
        .localCheckpoint()
    }
    cents
  }

  /** The √N-rule coarse quantizer: [[lloyd]] with k = ⌈√N⌉ over the
    * whole corpus, and the proven broadcast bound for that k
    * (k·d·24 B ≤ 32 MB; at N=10¹⁰, d=768 the bound fails and every
    * join falls back to shuffle, as it must). With k ∝ √N the probed
    * corpus fraction is nprobe/√N — it SHRINKS as the corpus grows —
    * where any fixed k leaves serving Θ(nprobe/k · N) forever. */
  private[graft] def sqrtQuantizer(spark: SparkSession, dir: String)
      : (DataFrame, Boolean) = {
    val (n, d) = shape(Tables(spark, dir).embeddings)
    lloyd(Tables(spark, dir).embeddingsSpread, sqrtK(n), 2, d)
  }

  /** Whether a centroid table of `rows` = k·d rows is under the 32 MB
    * broadcast bound (24 B a row) — the bound every trained quantizer
    * proves at build and a standing index carries in its handle. */
  private[graft] def centsBounded(rows: Long): Boolean = rows * 24L <= (32L << 20)

  // ----------------------------------------------------------------
  // Scoring: probe, then exact cosine over the probed members.
  // ----------------------------------------------------------------

  /** The probe list (qid, q_cell, q_emb): each of the |Q| query
    * vectors' `nprobe` nearest cells of `cents`, with its query vector —
    * |Q|·nprobe rows, metadata-sized by definition. Ranked from one read
    * of the query vectors: the codegen [[rankedByDist]] scorer, which
    * carries the vector through the rank, while `cents` is under the
    * broadcast bound (label alphabets always are); the hint-free
    * dim-join past it. Same exact integers and (dist2, cell) tie-break
    * either way. */
  private[operators] def probeList(spark: SparkSession, dir: String,
      cents: DataFrame, nprobe: Int, bounded: Boolean): DataFrame = {
    val q = Tables(spark, dir).embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val probes =
      if (bounded) rankedByDist(q, cents).filter(col("crn") <= nprobe)
      else rankedTo(quantizedOf(q), cents).filter(col("crn") <= nprobe)
        .join(q, Seq("vec_id"))
    probes.select(col("vec_id").as("qid"), col("cell").as("q_cell"),
      col("embedding").as("q_emb"))
  }

  /** Exact-cosine top-k of each probe list's member cells — the shared
    * back half of every cell-partitioned ANN path: join the probe list
    * ([[probeList]]: qid, q_cell, q_emb — the broadcast side) against
    * the member rows (cell, vec_id, embedding), score with the
    * codegen'd [[graft.functions.CosineSimQ]], rank within query. */
  private[operators] def topkByCell(members: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    rankByCosine(members.join(broadcast(probes), col("cell") === col("q_cell")), k)

  /** Multi-probe ANN under the √N-cell TRAINED quantizer — the scale
    * path the fixed-k measurements point at (BASELINE.md): members
    * live in their argmin cell among k=⌈√N⌉ Lloyd cells, the query
    * probes its nprobe nearest, so the candidate set is
    * nprobe/⌈√N⌉ of the corpus — a fraction that SHRINKS as the
    * corpus grows (nprobe·√N candidates total), against Θ(N) for any
    * quantizer whose k is pinned. Same deterministic Lloyd as
    * [[kmeansAssign]] (hash-seeded init, exact-integer argmin,
    * half-up integer means), so every step stays oracle-expressible.
    */
  def annIvfSqrtK(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame = {
    val (cents, bounded) = sqrtQuantizer(spark, dir)
    // membership on the scan row; the probe ranking only ever touches
    // the |Q|=5 query vectors
    topkByCell(memberRows(spark, dir, cents, bounded),
      probeList(spark, dir, cents, nprobe, bounded), k)
  }

  /** Multi-probe ANN served FROM THE STANDING INDEX — semantically
    * identical to [[annIvfMultiprobe]] (same probe ranking, same
    * exact-cosine scoring; an index never changes the answer — it
    * shares that query's oracle), but the per-query work is one
    * Bloom-pruned point read of the probed cells' postings instead of
    * a corpus re-cluster: probe ranking touches the build-pinned k·d
    * centroid table, and the |Q|·nprobe probe-cell ids — the IVF
    * analogue of the FTS query's term list, metadata-sized by
    * definition — drive the postings read. Per-query cost scales with
    * the probed cells' population, not the corpus. */
  def annIndexed(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir, StandingIndex.ensure(spark, dir, VectorIndex.Ivf),
      k, nprobe)

  /** The √N-index BUILD as its own declared query: trains the ⌈√N⌉
    * Lloyd quantizer, commits postings (with `label` in the row),
    * centroids and the per-label selectivity histogram, and returns the
    * cell-population audit. The index machinery is orthogonal to the
    * quantizer: swapping the label alphabet for the √N rule changes
    * ONLY the cell alphabet, and turns the served fraction from nprobe/k
    * (constant) into nprobe/√N (shrinking). n_cells here GROWS with the
    * corpus — the audit row is the measurable witness of the scale
    * rule, where [[ivfBuild]]'s stays pinned at the label alphabet. */
  def ivfBuildSqrt(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.Sqrt)

  /** Multi-probe ANN served from the STANDING √N index — the
    * composition of the two scale levers, and the serving path that
    * actually survives a growing corpus: per-query candidates are
    * nprobe/⌈√N⌉ of the postings (shrinking fraction, [[annIvfSqrtK]])
    * AND the read is a Bloom-pruned point read of just the probed
    * cells' files ([[annIndexed]]'s mechanics). Probe ranking touches
    * the build-pinned centroid table only — ⌈√N⌉·d rows, read from
    * its tx table with stats known to the planner, so no static hint
    * is needed or given (the √N side GROWS with the corpus; AQE keeps
    * broadcasting it while it measures small and stops when it
    * doesn't — the PlanSpec rule). Deterministic Lloyd ⇒ identical
    * centroids to a fresh [[annIvfSqrtK]] train, so the index never
    * changes the answer and the two paths share one oracle. */
  def annIndexedSqrt(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir, StandingIndex.ensure(spark, dir, VectorIndex.Sqrt),
      k, nprobe)

  /** Predicate-FILTERED ANN from the standing √N index — vector search
    * with a WHERE clause (pgvector's `WHERE … ORDER BY embedding`,
    * ES kNN `filter`), the form every retrieval deployment actually
    * runs: top-k nearest AMONG the members satisfying a metadata
    * predicate (here `label % 2 = 1` — the odd-labeled half).
    *
    * Pre-filter inside the probed cells: the attribute was written
    * INTO the postings rows at build ([[ivfBuildSqrt]]), so the
    * serve is probe → Bloom point read → predicate on the postings
    * row → exact-cosine top-k — no join back to the corpus, and the
    * predicate prunes BEFORE the distance kernel runs. Post-filtering
    * a plain top-k would instead return < k (or wrong) rows whenever
    * the filter is selective — the classic filtered-ANN failure. Probe
    * ranking is unfiltered (cell geometry doesn't depend on the
    * predicate), so this shares the quantizer — and the recall
    * properties — of [[annIndexedSqrt]]. */
  def annFilteredSqrt(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3,
      pred: Column = pmod(col("label"), lit(2)) === 1): DataFrame =
    VectorIndex.serve(spark, dir, StandingIndex.ensure(spark, dir, VectorIndex.Sqrt),
      k, nprobe, pred = Some(pred))

  /** The nprobe-widening rule for filtered ANN, as a number a spec can
    * pin: to hold the UNFILTERED design point's candidate count under
    * a predicate of selectivity s = n_match/N, the probe list must
    * grow 1/s× — candidates in probed cells thin out in proportion to
    * s (the starvation law `FilteredAnnSpec` measured), so
    * nprobe = min(maxProbe, ⌈baseNprobe · N / n_match⌉), exact integer
    * ceiling. Selectivity comes from ONE aggregate over the corpus
    * label column (column-pruned scan; a deployment caches this per
    * predicate next to the index's cell populations — it changes only
    * on append, never per query). */
  def adaptiveNprobe(spark: SparkSession, dir: String, baseNprobe: Int = 3,
      maxProbe: Int = 8,
      pred: Column = col("label") === 1): Int = {
    val r = selectivityFrame(spark, dir, pred).head
    val n = r.getLong(0)
    val nm = math.max(r.getLong(1), 1L)
    math.min(maxProbe.toLong, (baseNprobe.toLong * n + nm - 1L) / nm).toInt
  }

  /** The (n, n_match) selectivity aggregate behind [[adaptiveNprobe]],
    * exposed as a frame so `AdaptiveStatsSpec` can pin its plan: when
    * the standing √N index has pinned its per-label histogram
    * ([[ivfBuildSqrt]]) AND the predicate references only the
    * `label` column — the one key the histogram groups by — the
    * estimate is a weighted sum over that |labels|-row tx table, NO
    * corpus scan at serve time. Any OTHER predicate (the public
    * pred: Column contract admits every embeddings column) keeps the full-row corpus aggregate, as does an unbuilt index or
    * a cold session without [[StandingIndex.load]]: same exact counts either
    * way — the cache can never change an answer, only the plan. */
  private[graft] def selectivityFrame(spark: SparkSession, dir: String,
      pred: Column): DataFrame = {
    import graft.lake.TxTable
    val cached = StandingIndex.registered(dir, VectorIndex.Sqrt)
      .flatMap(_.labelStats).flatMap { stats =>
      // expose ONLY `label` to the predicate (the count column is
      // renamed away): a label-only predicate analyzes and takes the
      // histogram path; any other reference fails analysis here and
      // falls through — never a silent mis-estimate against the
      // histogram's own columns
      val hist = TxTable(spark, stats).read()
        .select(col("label"), col("n").as("__hist_n"))
      // frame construction analyzes eagerly — an unresolvable (non-
      // label) predicate throws right here and takes the fallback
      try Some(hist.agg(sum(col("__hist_n")).cast("long").as("n"),
        sum(when(pred, col("__hist_n")).otherwise(0L)).cast("long").as("nm")))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
    cached.getOrElse(
      Tables(spark, dir).embeddings
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(pred, 1L).otherwise(0L)).cast("long").as("nm")))
  }

  /** Predicate-filtered ANN with the ADAPTIVE probe width — the coded
    * form of the fix `FilteredAnnSpec` demonstrates: the serve estimates the predicate's selectivity and
    * widens nprobe by [[adaptiveNprobe]]'s rule, so a ~10%-selective
    * filter probes maxProbe cells (recall equal to fixed nprobe=8 by
    * construction) while a permissive filter stays at baseNprobe and
    * never pays the widened probe fan-out. Serving mechanics are
    * [[annFilteredSqrt]] verbatim at the chosen width. */
  def annFilteredAdaptive(spark: SparkSession, dir: String, k: Int = 5,
      baseNprobe: Int = 3, maxProbe: Int = 8,
      pred: Column = col("label") === 1): DataFrame = {
    // ensure first so the selectivity estimate reads the histogram
    // pinned beside the index, not a per-serve corpus aggregate
    StandingIndex.ensure(spark, dir, VectorIndex.Sqrt)
    annFilteredSqrt(spark, dir, k,
      adaptiveNprobe(spark, dir, baseNprobe, maxProbe, pred), pred)
  }

  /** Recall@k of the adaptive filtered serve vs the brute-force exact
    * top-k AMONG the predicate's survivors — the measured witness that
    * the widening recovers the starved recall at selective predicates
    * (compare [[annFilteredRecall]] at the same predicate and fixed
    * baseNprobe). */
  def annFilteredAdaptiveRecall(spark: SparkSession, dir: String,
      k: Int = 5, baseNprobe: Int = 3, maxProbe: Int = 8,
      pred: Column = col("label") === 1): DataFrame =
    recallVs(annFilteredAdaptive(spark, dir, k, baseNprobe, maxProbe, pred),
      topk(spark, dir, k, sameLabelOnly = false, Some(pred)), k)

  /** Recall@k of the FILTERED serve ([[annFilteredSqrt]]) against the
    * brute-force exact top-k AMONG THE PREDICATE'S SURVIVORS — the
    * missing quality number: filtered ANN's classic failure is probe
    * starvation, where a selective predicate empties the probed cells'
    * candidate lists while matching members sit in unprobed cells, and no unfiltered recall query can see it
    * (the probe geometry is identical; only the SURVIVING candidate
    * count changes). Measured sweep at sf0.1 (nprobe=3, k=5,
    * `FilteredAnnSpec`): selectivity 1/2 → recall ≈ the unfiltered
    * ceiling; 1/8 → measurably below it; widening nprobe restores it —
    * the standard production fix (raise nprobe under selective
    * filters), here demonstrated by the spec rather than asserted. */
  def annFilteredRecall(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3,
      pred: Column = pmod(col("label"), lit(2)) === 1): DataFrame =
    recallVs(annFilteredSqrt(spark, dir, k, nprobe, pred),
      topk(spark, dir, k, sameLabelOnly = false, Some(pred)), k)

  // ----------------------------------------------------------------
  // Sample-trained √N quantizer: cap the N^1.5 training term.
  // ----------------------------------------------------------------

  /** Deterministic hash-gated training sample for the √N quantizer —
    * the standard cure for Lloyd's iters·N·k training term (FAISS
    * trains IVF coarse quantizers on a bounded sample for exactly this
    * reason; BASELINE.md prices the full-train term at 136.9 s /
    * x100): keep the vectors whose portable salted hash of `vec_id`
    * is ≡ 0 (mod max(1, ⌊N/(8k)⌋)) — an expected 8·k = 8·⌈√N⌉ of
    * them — train the SAME deterministic Lloyd on just those, and let
    * the full corpus be assigned once at build. Per-iteration cost
    * drops from N·k = N^1.5 to |S|·k ≈ 8k² = 8N (linear), leaving the
    * single final assignment as the only N·k term. The gate is exact
    * integer arithmetic over the cross-engine
    * [[graft.functions.PortableHash]], so the sample — and every
    * centroid trained from it — is bit-identical in the DuckDB
    * oracle. mod = 1 (small N) degenerates to full training.
    *
    * This one gate serves every sample-trained build AND its
    * `n_sample` audit witness, so the quantizer, the grow rebuilds and
    * the three build audits can never diverge. */
  private[graft] def sampleGate(n: Long): (Int, Long, Column) = {
    val kk = sqrtK(n)
    val mod = math.max(1L, n / (8L * kk))
    val pred = graft.functions.PortableHash
      .phash(col("vec_id").cast("string"), 7) % mod === 0
    (kk, mod, pred)
  }

  /** The gated sample's measured size, as the one-row audit column the
    * three sample-build queries cross-join in — computed from the SAME
    * [[sampleGate]] the quantizer trains through. */
  private[operators] def sampleGateAudit(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables(spark, dir).embeddings.count()
    val (_, _, pred) = sampleGate(n)
    Tables(spark, dir).embeddings.filter(pred)
      .agg(count(lit(1)).as("n_sample"))
  }

  /** Gate-sampled ⌈√N⌉ Lloyd training over any (vec_id, embedding)
    * frame — the corpus table for the standing builds, a merged
    * snapshot for the grow rebuilds. Returns (centroids, k, whether the
    * k·d table is under the 32 MB broadcast bound). Linear: the Lloyd
    * iterations read only the hash-gated 8·⌈√N⌉ sample, so the
    * composed grow rebuilds retrain from the gate instead of seeding
    * from the outgrown alphabet ([[VectorIndex.growAppend]]'s
    * proportional split exists to amortize full Lloyd's N^1.5 — sample
    * training has no such term). */
  private[graft] def sampleQuantizer(emb: DataFrame): (DataFrame, Int, Boolean) = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val (n, d) = shape(e)
    val (kk, _, gate) = sampleGate(n)
    // the gated sample inherits the raw scan's single input split, and
    // every training argmin crosses it k ways in-stage — spread the
    // 8·⌈√N⌉ survivors once (metadata-sized exchange) so the Lloyd
    // iterations parallelize like the full-corpus paths do
    val sample = e.filter(gate)
      .repartition(e.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
    val (cents, bounded) = lloyd(sample, kk, 2, d)
    (cents, kk, bounded)
  }

  /** The sample-trained build as its own declared query: the
    * [[ivfBuildSqrt]] layout over the sample-trained cell alphabet
    * (different training set ⇒ different centroids, so this family
    * carries its own oracle), with `n_sample` in the audit — the
    * measured training-set size, the witness that the N^1.5 term was
    * actually capped (n_sample ≈ 8·⌈√N⌉ ≪ n_vecs in the mod > 1
    * regime). */
  def ivfBuildSample(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.Sample)

  /** Multi-probe ANN served from the standing sample-trained index —
    * [[annIndexedSqrt]]'s serving mechanics (build-pinned centroid
    * probe ranking, Bloom-pruned point read of the probed cells) over
    * the sample-trained cell alphabet. */
  def annIndexedSample(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir,
      StandingIndex.ensure(spark, dir, VectorIndex.Sample), k, nprobe)

  /** Recall@k of the sample-trained serving path vs the brute-force
    * exact top-k — the number that prices what sample training COSTS
    * in quality: compared against [[annSqrtRecall]] (the full-trained
    * probe-limited ceiling at the same nprobe), the delta is the
    * centroid-quality loss from training on 8·⌈√N⌉ vectors instead of
    * N. The build-cost claim (linear training) is only honest next to
    * this measured parity. */
  def annSampleRecall(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIndexedSample(spark, dir, k, nprobe), k)

  /** The standing VECTOR index's churn lifecycle as one verified
    * query — the IVF twin of [[graft.operators.TextAnalysis.ftsChurn]]:
    * the corpus arrives as `slices`
    * separate commits (each assigned against the BUILD-PINNED √N
    * quantizer and appended cell-clustered — fragmenting the postings
    * to slices × files), `TxTable.compact` rewrites the fragments into
    * `targetFiles` cell-range-clustered files with fresh Bloom bitmaps
    * (restoring [[ivfBuildSqrt]]'s layout), and the √N family's
    * standing serve ([[VectorIndex.serve]]) runs one Bloom-pruned point
    * read of the compacted snapshot.
    *
    * Deterministic Lloyd + pinned centroids ⇒ every vector lands in
    * the same cell it would at a one-shot build, so neither the
    * incremental commits nor the compaction can change an answer:
    * this query shares [[annIvfSqrtK]]'s oracle. The layout claims
    * (bounded file count, restored bitmaps, real pruning) are
    * asserted by `IvfChurnSpec`. */
  def ivfChurn(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3, slices: Int = 10, targetFiles: Int = 8): DataFrame = {
    import graft.core.Scratch
    val (posts, ct, bounded) = ivfChurnTables(spark, dir, slices, targetFiles,
      Scratch.fresh("tx_ivf_churn"), Scratch.fresh("tx_ivf_churn_cents"))
    VectorIndex.serve(spark, dir, VectorIndex(VectorIndex.Sqrt, posts.root,
      ct.root, VectorIndex.Flat, bounded), k, nprobe)
  }

  /** The churn lifecycle's table half, shared with the spec that
    * asserts the post-compaction layout: train the √N quantizer once,
    * pin it, append `slices` micro-batch commits of assigned vectors
    * (the assignment is persisted across the loop — each slice is the
    * SAME pinned-quantizer assignment a per-arrival delta would get,
    * without re-running the kernel per slice), then compact both the
    * fragmented postings and the centroid table back to build layout.
    * Returns the two tables and the quantizer's broadcast bound. */
  private[graft] def ivfChurnTables(spark: SparkSession, dir: String,
      slices: Int, targetFiles: Int, postingsRoot: String,
      centroidsRoot: String): (graft.lake.TxTable, graft.lake.TxTable, Boolean) = {
    import graft.lake.TxTable
    val (cents, bounded) = sqrtQuantizer(spark, dir)
    val rows = memberRows(spark, dir, cents, bounded, col("label"))
      .select(col("cell"), col("vec_id"), col("embedding"), col("label"))
      .persist()
    val posts = TxTable(spark, postingsRoot)
    val ct = TxTable(spark, centroidsRoot)
    ct.append(cents)
    try {
      for (i <- 0 until slices)
        VectorIndex.appendPostings(posts,
          rows.filter(pmod(col("vec_id"), lit(slices)) === i), files = 2)
    } finally rows.unpersist(blocking = false)
    posts.compact(targetFiles, bloomCols = Seq("cell"),
      clusterBy = Seq("cell"))
    (posts, ct, bounded)
  }

  /** SQ8 scalar-quantized candidate generation + exact rerank — the
    * memory-bound serving trick every production vector store ships
    * (FAISS `SQ8`, Lucene int8 HNSW): compress each float dim to an
    * 8-bit code against the GLOBAL [min,max] range, score candidates
    * with the pure-integer code dot product (4 B → 1 B per dim = 4×
    * less memory bandwidth per scanned vector — at 100 TB the scan IS
    * the cost), keep the top `candK` per query, and rerank only those
    * with the exact e4-integer cosine. Quantization is exact integer
    * arithmetic end-to-end: `code = ((q - mn) * 255) div (mx - mn)`
    * over e4-quantized inputs, so codes — and therefore the candidate
    * sets — are bit-identical on every engine; no float ulp can flip a
    * candidate in or out.
    *
    * This is the IVF-SQ8 serve's scoring ([[VectorIndex.sq8Topk]],
    * then its exact rerank) with the whole corpus as one cell: every
    * vector in cell 0, every query probing cell 0. The range is the
    * same min/max aggregate the SQ8 build pins, collected once; the
    * encode runs on the row, the 5 query-code rows broadcast, and the
    * exact rerank touches only 5·candK rows. */
  def sq8Rerank(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = 20): DataFrame = {
    val (mn, mx) = VectorIndex.rangeOf(quantized(spark, dir))
    val corpus = Tables(spark, dir).embeddingsSpread
      .select(lit(0L).as("cell"), col("vec_id"), col("embedding"))
    val probes = Tables(spark, dir).embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), lit(0L).as("q_cell"),
        col("embedding").as("q_emb"))
    VectorIndex.sq8Topk(probes, VectorIndex.withSq8Codes(corpus, mn, mx),
      mn, mx, k, candK)
  }

  // ----------------------------------------------------------------
  // IVF-SQ8: the composed standing index — √N Lloyd cells carrying
  // SQ8 compact codes IN the postings, exact rerank on survivors only.
  // ----------------------------------------------------------------

  /** The IVF-SQ8 BUILD as its own declared query: trains the ⌈√N⌉
    * quantizer (deterministic Lloyd — the same cell alphabet as the √N
    * index), pins the global SQ8 range, encodes every vector on the row,
    * and commits postings with codes AND exact vectors side by side
    * (codes serve candidate generation; the exact column serves only
    * the candK rerank and column-prunes out of the scoring scan). The
    * audit extends the cell populations with the pinned code range —
    * the two build-time decisions a deployment monitors for drift. This
    * is the at-scale layout every production vector store converges on
    * (FAISS `IVF…,SQ8`): probe 1/√N of the cells, scan 1 byte per dim
    * (4× less memory bandwidth than floats), exact-rerank the
    * survivors. */
  def ivfSq8Build(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.Sq8Sqrt)

  /** The SAMPLE-trained IVF-SQ8 build: gate-sampled Lloyd training
    * (linear instead of N^1.5, [[sampleQuantizer]]) under the same SQ8
    * machinery, the full-corpus argmin as the only N·k term; the audit
    * adds `n_sample`. */
  def ivfSq8BuildSample(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.Sq8Sample)

  /** Multi-probe ANN served from the composed IVF-SQ8 index. Per query:
    *  1. rank probe cells on the build-pinned centroid table
    *     (nprobe/⌈√N⌉ of the corpus, a fraction that SHRINKS as N grows);
    *  2. Bloom-pruned point read of the probed cells' postings, the
    *     scoring scan projecting ONLY (cell, vec_id, codes, code_sum);
    *  3. score candidates with the DECODED integer dot, keep candK;
    *  4. exact-rerank ONLY the survivors against vectors from the SAME
    *     probed cells (never a corpus join).
    * Codes are exact integers against the pinned range, so candidate
    * sets are bit-identical cross-engine and the path shares one oracle
    * with the unindexed algebra. */
  def annIvfSq8(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.Sq8CandK, nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir,
      StandingIndex.ensure(spark, dir, VectorIndex.Sq8Sqrt), k, nprobe, Some(candK))

  /** [[annIvfSq8]] over the SAMPLE-trained composed index — the serve
    * never knows how its centroids were trained; different training
    * set ⇒ different cells ⇒ its own oracle. */
  def annIvfSq8Sample(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.Sq8CandK, nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir,
      StandingIndex.ensure(spark, dir, VectorIndex.Sq8Sample), k, nprobe, Some(candK))

  /** Recall@k of the sample-trained composed serve ([[annIvfSq8Sample]])
    * vs the brute-force exact top-k — prices all three approximations
    * together (sampled centroids, probed-cell candidate loss, 8-bit
    * code ranking before the rerank); read against
    * [[annSampleRecall]] (same centroids, uncompressed candidates) the
    * delta isolates what the codes cost on this alphabet. */
  def annIvfSq8SampleRecall(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.Sq8CandK, nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIvfSq8Sample(spark, dir, k, candK, nprobe), k)

  /** Recall@k of the EXACT √N-cell probe path ([[annIvfSqrtK]]) — the
    * probe-limited ceiling every compressed variant of this index is
    * graded against: [[annIvfSq8Recall]] minus this number is the
    * ranking loss the 8-bit codes cost (measured 0 after the
    * decoded-dot fix), while this number vs 1.0 is pure candidate
    * loss from the nprobe/⌈√N⌉ dial. */
  def annSqrtRecall(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIvfSqrtK(spark, dir, k, nprobe), k)

  /** Recall@k of the composed IVF-SQ8 serve — prices candidate loss
    * from probing nprobe/⌈√N⌉ cells AND ranking loss from cutting to
    * candK on the code dot before the exact rerank. */
  def annIvfSq8Recall(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.Sq8CandK, nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIvfSq8(spark, dir, k, candK, nprobe), k)

  // ----------------------------------------------------------------
  // IVF-PQ: the composed standing index at the higher-compression
  // point on the same curve as IVF-SQ8 — √N Lloyd cells carrying
  // 8-byte PQ codes, ADC candidate scoring, exact rerank on survivors.
  // ----------------------------------------------------------------

  /** Dims per PQ subspace: 8 subspaces on d = 64 (~32× compression).
    * The 16-subspace variant reaches the same recall ceiling at
    * candK = 50 but doubles every candidate's scan bytes (BASELINE.md). */
  private[graft] val PqDimsPerSub = 8

  /** Per-(subspace, label) codebook over e4 coords — half-up integer
    * means, the deterministic stand-in for per-subspace kmeans
    * ([[pqAdc]]'s construction, (d/8)·|labels|·8 rows, bounded). */
  private[graft] def pqCodebook(qe: DataFrame): DataFrame =
    qe.withColumn("sub", expr(s"dim div $PqDimsPerSub"))
      .groupBy(col("sub"), col("label").as("code"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("code"), col("dim"), halfUpMean("s", "n").as("c"))

  /** The IVF-PQ BUILD as its own declared query: trains the ⌈√N⌉
    * quantizer (the same cell alphabet as the √N/SQ8 indices), pins the
    * PQ codebook, encodes every vector on the row as its 8 argmin
    * sub-centroids, and commits postings with codes AND exact vectors
    * side by side — the FAISS `IVF…,PQ8` layout: where SQ8 stores
    * 1 B/dim, PQ stores 8 codes for 64 dims. The audit adds the
    * codebook row count (the code alphabet size). */
  def ivfPqBuild(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.PqSqrt)

  /** The SAMPLE-trained IVF-PQ build: gate-sampled coarse training
    * under the unchanged PQ machinery. The codebook stays a
    * full-corpus aggregate — one linear N·d pass, so sampling it would
    * save nothing asymptotic while forking the code alphabet; the
    * N^1.5 term removed is Lloyd's alone. The audit adds `n_sample`. */
  def ivfPqBuildSample(spark: SparkSession, dir: String): DataFrame =
    VectorIndex.buildAudit(spark, dir, VectorIndex.PqSample)

  /** Multi-probe ANN served from the standing IVF-PQ index — the ADC
    * form of [[annIvfSq8]]: probe cells on the pinned centroids,
    * Bloom-pruned point read projecting ONLY (cell, vec_id, codes) for
    * scoring, ADC against the query's constant-size distance table,
    * exact rerank of the candK survivors from the same probed cells.
    * Codebook, codes and distance tables are exact integers, so
    * candidate sets are bit-identical cross-engine. candK = 100 by
    * measurement (the r12 frontier sweep in BASELINE.md): at 8
    * subspaces the ADC ranking loss reaches zero there — recall equals
    * the nprobe = 3 probe-limited ceiling — where candK = 20 left a 20%
    * relative recall gap; the rerank grows to |Q|·100 rows, still
    * metadata-sized. */
  def annIvfPq(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.PqCandK, nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir,
      StandingIndex.ensure(spark, dir, VectorIndex.PqSqrt), k, nprobe, Some(candK))

  /** [[annIvfPq]] over the SAMPLE-trained IVF-PQ index — its own
    * oracle, mirroring the SQ8 sample family. */
  def annIvfPqSample(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.PqCandK, nprobe: Int = 3): DataFrame =
    VectorIndex.serve(spark, dir,
      StandingIndex.ensure(spark, dir, VectorIndex.PqSample), k, nprobe, Some(candK))

  /** Recall@k of the IVF-PQ serve vs the brute-force exact top-k —
    * prices the probed-cell candidate loss plus the 8-byte ADC
    * ranking loss before the rerank; read against [[annSqrtRecall]]
    * (same cells, exact candidates) the delta is what PQ's 32×
    * compression costs in candidate quality. */
  def annIvfPqRecall(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.PqCandK, nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIvfPq(spark, dir, k, candK, nprobe), k)

  /** Recall@k of the sample-trained IVF-PQ serve — read against
    * [[annIvfPqRecall]] at the same nprobe/candK, the delta isolates
    * what sample training costs on this index family. */
  def annIvfPqSampleRecall(spark: SparkSession, dir: String, k: Int = 5,
      candK: Int = VectorIndex.PqCandK, nprobe: Int = 3): DataFrame =
    recallOf(spark, dir, annIvfPqSample(spark, dir, k, candK, nprobe), k)

  // ----------------------------------------------------------------
  // Codec and quantizer pieces the index lifecycle composes.
  // ----------------------------------------------------------------

  /** Largest-remainder seat allocation of `k` rebuild seeds across the
    * old cells, proportional to population and capped by it (a cell
    * cannot seed more members than it has). Deterministic: remainder
    * desc, cell asc. Driver-side over k rows — metadata, not data. */
  private[operators] def allocSeats(pops: Seq[(Long, Long)],
      k: Int): Map[Long, Int] = {
    val n = pops.map(_._2).sum.toDouble
    val base = pops.map { case (c, p) =>
      val ideal = k * p / n
      (c, p, math.min(p, ideal.toLong).toInt, ideal - math.floor(ideal))
    }
    val seats = scala.collection.mutable.Map(base.map(t => t._1 -> t._3): _*)
    var rem = k - seats.values.sum
    while (rem > 0) {
      val cands = base.filter { case (c, p, _, _) => seats(c) < p }
        .sortBy { case (c, _, _, f) => (-f, c) }
      if (cands.isEmpty) rem = 0 // k > N cannot happen (k = ceil(sqrt(N)))
      else cands.take(rem).foreach { case (c, _, _, _) =>
        seats(c) += 1; rem -= 1
      }
    }
    seats.toMap
  }

  /** The SQ8 encode expression against a DRIVER-PINNED (mn, s) range —
    * shared by the grow init (fresh range) and append (range read back
    * from the pinned stats table): exact integers, never clamped, so a
    * delta vector outside the pinned range still encodes and decodes
    * consistently (the affine decode is linear — no saturation point
    * exists to corrupt). */
  private[graft] def sq8EncodeExpr(mnv: Long, sv: Long): Column = expr(
    s"transform(embedding, x -> (($E4 - ${mnv}L) * 255) div ${sv}L)")

  /** One-row flattened codebook pack (codes sorted asc; per-code
    * FULL-LENGTH dim-ordered quantized centroid vectors) — the
    * broadcast side of the [[graft.functions.PqEncodeQ]] encode
    * kernel. |codes|·d longs, bounded by the code alphabet. */
  private def cbPack(cb: DataFrame): DataFrame =
    cb.groupBy(col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cvec"))
      // code canonicalizes to BIGINT like [[centPack]]'s cell: the
      // label-seeded alphabet is int32 and the kernel reads longs
      .agg(expr("array_sort(collect_list(struct(CAST(code AS BIGINT) AS code, cvec)))")
        .as("p"))
      .select(expr("transform(p, s -> s.code)").as("cb_codes"),
        expr("transform(p, s -> s.cvec)").as("cb_cvecs"))

  /** Adds the PQ `codes` column ON the embedding row: the
    * [[graft.functions.PqEncodeQ]] kernel loops the broadcast
    * [[cbPack]] per row inside the scan's codegen stage — no exchange.
    * Exact integers, code-asc tie-break (`KernelEquivalenceSpec`). */
  private[graft] def withPqCodes(rows: DataFrame, cb: DataFrame): DataFrame =
    rows.crossJoin(broadcast(cbPack(cb)))
      .withColumn("codes", graft.functions.PqEncodeQ.pqEncodeQ(
        col("embedding"), col("cb_codes"), col("cb_cvecs"), PqDimsPerSub))
      .drop("cb_codes", "cb_cvecs")
}
