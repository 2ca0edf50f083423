package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over the near-duplicate pair graph — the step
  * that turns pairwise MinHash-LSH matches into dedup GROUPS (pick one
  * keeper per component, drop the rest), which is what a training-data
  * pipeline actually executes.
  *
  * Algorithm: iterative hash-min label propagation. Every vertex starts
  * labeled with its own id; each round every vertex takes the min of its
  * own and its neighbors' labels; fixpoint after O(component diameter)
  * rounds. Each round is one shuffle on the vertex id — the standard
  * distributed CC formulation that scales to billions of edges (no
  * driver-side union-find, no recursion). `localCheckpoint` truncates
  * the growing lineage each round so plans stay constant-size.
  */
object Cluster {

  /** Generic CC: `edges(src, dst)` undirected pairs → `(id, label)` with
    * label = min vertex id of the component. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 200): DataFrame = {
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = undirected.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // Σ label strictly decreases every round until the fixpoint (labels
    // only ever drop to a smaller id), so convergence is a scalar
    // aggregate per round — far cheaper than a join-diff count.
    def labelSum(df: DataFrame): Long = {
      // sum() over an empty frame is NULL — an empty graph must yield
      // an empty result, not an NPE
      val cell = df.agg(sum(col("label"))).head()
      if (cell.isNullAt(0)) 0L else cell.getLong(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = undirected
        .join(labels, undirected("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.select(col("id"), col("label")).union(prop)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    // hash-min moves a label one hop per round: maxIters bounds the
    // component diameter this call can handle. Returning silently here
    // would hand back WRONG labels — fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          "(component diameter exceeds maxIters) — raise maxIters")
    labels
  }

  /** Fixed-iteration PageRank with integer-quantized ranks (1e-6
    * units) so every engine computes bit-identical values — no float
    * accumulation order to disagree on. Per iteration:
    *
    *   share(u) = r(u) div outdeg(u)
    *   r'(v)    = 150000 + (850000 · Σ_{u→v} share(u)) div 1000000
    *
    * (damping 0.85 in e6 fixed-point; all values positive, so Spark's
    * truncating `div` and DuckDB's flooring `//` agree.) Each iteration
    * is one shuffle on the destination vertex; `localCheckpoint` keeps
    * the plan constant-size — the standard scalable formulation. */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    // r16 (guide §2.4): hoist the loop invariants. verts and deg were
    // lazy — re-derived (a distinct + an aggregate, each a shuffle)
    // inside EVERY iteration's action — and the per-u share join paid
    // a separate ranks⋈deg exchange per round. The out-degree now
    // rides ON the edge row (one prep join, checkpointed), so each
    // round is: edges⋈ranks → per-edge share (r div deg, same exact
    // integers) → one dst aggregate → the vertex left join.
    val verts = undirected.select(col("src").as("id")).distinct()
      .localCheckpoint()
    val degEdges = undirected
      .join(undirected.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg")),
        undirected("src") === col("id"))
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    var ranks = verts.withColumn("r", lit(1000000L)).localCheckpoint()
    (1 to iters).foreach { _ =>
      val contrib = degEdges
        .join(ranks, degEdges("src") === ranks("id"))
        .withColumn("share", expr("r div deg"))
        .groupBy(col("dst").as("cid"))
        .agg(sum(col("share")).as("s"))
      ranks = verts.join(contrib, verts("id") === contrib("cid"), "left")
        .select(col("id"),
          (lit(150000L) + expr("(850000 * coalesce(s, 0L)) div 1000000")).as("r"))
        .localCheckpoint()
    }
    ranks
  }

  /** PageRank over the near-dup candidate graph (rank ≈ how central a
    * doc is inside its duplication cluster). */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.Tables(spark, dir)
    val pairs = Dedup.minhashCandidates(Dedup.shingles(t))
      .select(col("a").as("src"), col("b").as("dst"))
    pageRank(pairs, iters = 5)
      .select(col("id").as("doc_id"), col("r").as("rank_e6"))
      .orderBy(col("doc_id"))
  }

  /** Triangle count over the near-dup candidate graph — the clustering-
    * coefficient ingredient — with DEGREE ORIENTATION, the standard
    * hub-proof form: every edge is directed from its (degree, id)-
    * smaller endpoint to the larger, so out-degrees are O(√m) on ANY
    * graph and the wedge join's fanout is bounded even when a celebrity
    * node has 10⁸ neighbors (ID-canonical orientation bounds nothing —
    * a high-ID hub keeps its whole in-degree). Each triangle is found
    * exactly once, at its orientation-minimal vertex: wedges
    * (u→x, u→y) close iff the edge {x, y} exists in either direction.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.Tables(spark, dir)
    val e = Dedup.minhashCandidates(Dedup.shingles(t))
      .select(col("a"), col("b"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("dv"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("dv").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dv").as("db")), Seq("b"))
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("w"))
    val wedges = oriented.select(col("u"), col("w").as("x"))
      .join(oriented.select(col("u"), col("w").as("y")), Seq("u"))
      .filter(col("x") < col("y"))
    // the closing edge {x,y} re-canonicalized by id to match wedge keys
    val closing = oriented.select(
      least(col("u"), col("w")).as("x"), greatest(col("u"), col("w")).as("y"))
    wedges.join(closing, Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"),
        coalesce(sum(col("u") + col("x") + col("y")), lit(0L))
          .as("node_checksum"))
  }

  /** Dedup clustering: components of the MinHash-LSH candidate-pair
    * graph, with component sizes. The pair list is the verified
    * [[Dedup.minhashLsh]] output, so the whole chain
    * shingle → minhash → band join → CC is oracle-checked end to end. */
  def dedupCc(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.Tables(spark, dir)
    // candidate pairs only — CC doesn't need the exact-Jaccard
    // verification half of minhashLsh
    val pairs = Dedup.minhashCandidates(Dedup.shingles(t))
      .select(col("a").as("src"), col("b").as("dst"))
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("component"),
        col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** The dedup verdict a training pipeline actually executes: every
    * document gets a component (MinHash-LSH pair graph CC; singletons
    * are their own component) and ONE representative per component is
    * kept — highest token-diversity score, ties to the smallest
    * doc_id. Scale shape: CC as above (equi-join label propagation);
    * the representative pick is a single struct-min aggregation on
    * the component key — no windows, no second pass over text. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.Tables(spark, dir)
    val pairs = Dedup.minhashCandidates(Dedup.shingles(t))
      .select(col("a").as("src"), col("b").as("dst"))
    val labels = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label"))
    val docs = t.documents
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .withColumn("diversity_e4",
        expr("(20000 * n_distinct + n_tokens) div (2 * n_tokens)"))
    val labeled = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("label"), col("doc_id")))
    val reps = labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("diversity_e4")).as("neg_q"),
          col("doc_id").as("d"))).as("best"))
      .select(col("component"), col("n_members"),
        col("best.d").as("keep_id"))
    labeled.join(reps, Seq("component"))
      .select(col("doc_id"), col("component"), col("n_members"),
        col("keep_id"), (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy(col("doc_id"))
  }
}
