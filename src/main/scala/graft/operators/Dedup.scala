package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.PortableHash.{phash, phashWindow}

/** Deduplication operators for large-scale training-data pipelines
  * (BASELINE.json north star). All operate on `documents(doc_id, text,
  * lang, source, n_chars)` and are designed scale-first:
  *
  * - exact dedup is a hash-groupBy (one shuffle on the fingerprint);
  * - MinHash-LSH shuffles on *band keys* — candidate generation is an
  *   equi-join on bands, never an O(n²) cross join, so it survives
  *   100 TB (pairs per band bucket stay small when bands are selective);
  * - SimHash is a single explode + hash-agg pass per doc.
  *
  * All hashes are the portable md5-derived family (PortableHash), so
  * every step is oracle-checkable in DuckDB.
  */
object Dedup {

  /** Normalized text: lowercase, alphanumerics only — the canonical
    * form exact dedup fingerprints. */
  private[operators] def norm(c: org.apache.spark.sql.Column) =
    regexp_replace(lower(c), "[^a-z0-9]", "")

  /** Exact dedup via md5 fingerprint: every doc mapped to its group
    * keeper (min doc_id with the same fingerprint) + copy count.
    * Equivalent of `dropDuplicates` but keeps lineage visible. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    t.documents
      .withColumn("fp", md5(norm(col("text"))))
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("fp"), col("keeper_id"),
        col("n_copies"), (col("doc_id") =!= col("keeper_id")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** 3-token shingles per doc, deduped within doc. Reads the spread
    * form: the ~100× shingle expansion must run at session
    * parallelism, not input-split parallelism (see
    * [[Tables.documentsSpread]]). */
  private[operators] def shingles(t: Tables): DataFrame =
    t.documentsSpread
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
          .as("shingle"))

  /** MinHash + LSH banding near-dup candidates, verified with exact
    * shingle Jaccard. 4 minhash functions → 2 bands of 2; docs sharing
    * a band become candidate pairs (equi-join on the band key — the
    * 100 TB-safe plan), then each pair's true Jaccard is computed from
    * the shingle sets. */
  /** Shingles reduced to their 16-byte binary md5 digest — ONE md5 per
    * shingle row feeds both the minhash signatures (via the hex form)
    * and the intersection join key, which then shuffles fixed-width
    * 16-byte binaries instead of variable-length shingle strings. */
  private[operators] def shingleDigests(t: Tables): DataFrame =
    shingles(t).select(col("doc_id"), unhex(md5(col("shingle"))).as("sd"))

  /** LSH band-join candidate pairs only (with per-doc shingle counts) —
    * the shared front half of [[minhashLsh]] and [[Cluster.dedupCc]]:
    * shingle → 4-way minhash signature → 2 band keys → band equi-join. */
  def minhashCandidates(sh: DataFrame): DataFrame =
    minhashCandidatesFromDigests(
      sh.select(col("doc_id"), unhex(md5(col("shingle"))).as("sd")))

  /** Same, over pre-computed shingle digests ([[shingleDigests]]).
    * `lower(hex(sd))` reconstructs the md5 hex string bit-for-bit, so
    * the minhash family (and the oracle) is unchanged. */
  def minhashCandidatesFromDigests(shd: DataFrame): DataFrame = {
    // 4 minhash functions from ONE md5, projected once before the agg
    // (digest windows — see PortableHash)
    val sigs = shd.withColumn("m", lower(hex(col("sd"))))
      .groupBy(col("doc_id")).agg(
        min(graft.functions.PortableHash.phashFromDigest(col("m"), 0)).as("mh1"),
        min(graft.functions.PortableHash.phashFromDigest(col("m"), 1)).as("mh2"),
        min(graft.functions.PortableHash.phashFromDigest(col("m"), 2)).as("mh3"),
        min(graft.functions.PortableHash.phashFromDigest(col("m"), 3)).as("mh4"),
        count(lit(1)).as("n_shingles"))
    // one scan: explode the two band keys (prefixed so bands can't
    // cross-match) and self-join once — the two-bands-two-joins form
    // recomputes the signature aggregation per join side
    val bands = sigs.select(col("doc_id"), col("n_shingles"),
      explode(array(
        concat(lit("1_"), col("mh1"), lit("_"), col("mh2")),
        concat(lit("2_"), col("mh3"), lit("_"), col("mh4")))).as("bk"))
    val l = bands.select(col("bk"), col("doc_id").as("a"), col("n_shingles").as("na"))
    val r = bands.select(col("bk"), col("doc_id").as("b"), col("n_shingles").as("nb"))
    // no broadcast hint: the band table is O(corpus) — let AQE pick
    l.join(r, Seq("bk")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("na"), col("nb")).distinct()
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sh = shingleDigests(t).cache()
    // the candidate subtree feeds BOTH the expansion and the final left
    // join — cache it (bounded by LSH construction) so the signature
    // aggregation + band join run once
    val cands = minhashCandidatesFromDigests(sh).cache()
    // intersection sizes ONLY for candidate pairs (semi-join pushdown):
    // a bare shingle self-join would compute |∩| for every pair sharing
    // any shingle — quadratic fanout on common shingles at scale. No
    // side of these joins carries a broadcast HINT: the candidate pair
    // list grows with corpus size and dup rate (O(N) pairs on a
    // web-scale corpus with a high near-dup fraction), so forcing it
    // into a driver broadcast is a scale hazard — AQE downgrades any
    // side to broadcast at runtime when the ACTUAL size allows, which
    // is the only safe time to make that call. The expansion joins
    // shuffle on (b, sd) — fixed 16-byte binary keys, not
    // variable-length shingle strings.
    val shA = sh.select(col("doc_id").as("a"), col("sd"))
    val shB = sh.select(col("doc_id").as("b"), col("sd"))
    val candSh = cands.select(col("a"), col("b"))
      .join(shA, Seq("a"))
    val inter = shB.join(candSh, Seq("b", "sd"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    cands.join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("na") + col("nb") - coalesce(col("inter"), lit(0L))).as("union_n"))
      .withColumn("jaccard_e4",
        expr("(20000 * inter + union_n) div (2 * union_n)"))
      .orderBy(col("a"), col("b"))
  }

  /** Embedding-cosine near-dup over an arbitrary corpus of
    * (label, vec_id, embedding): pairs within the same coarse bucket
    * (label — the IVF blocking that survives 100 TB) whose quantized
    * cosine ≥ the threshold. Uses the native codegen'd CosineSimQ
    * expression. The operator takes the corpus as a DataFrame so
    * callers (and the verification harness, which plants deterministic
    * near-dups — see SparkEntry.plantedEmbeddings) choose the input;
    * the operator itself NEVER fabricates rows. */
  def embeddingCosineOn(corpus: DataFrame,
      thresholdE6: Long = 900000L): DataFrame = {
    val e = corpus.select(col("label"), col("vec_id"), col("embedding"))
    val l = e.select(col("label"), col("vec_id").as("a"), col("embedding").as("ea"))
    val r = e.select(col("label"), col("vec_id").as("b"), col("embedding").as("eb"))
    l.join(r, Seq("label"))
      .filter(col("a") < col("b"))
      .withColumn("cos_e6",
        graft.functions.CosineSimQ.cosineSimE6(col("ea"), col("eb")))
      .filter(col("cos_e6") >= thresholdE6)
      .select(col("label"), col("a"), col("b"), col("cos_e6"))
      .orderBy(col("label"), col("a"), col("b"))
  }

  /** [[embeddingCosineOn]] over the real embeddings table. */
  def embeddingCosine(spark: SparkSession, dir: String,
      thresholdE6: Long = 900000L): DataFrame =
    embeddingCosineOn(
      Tables(spark, dir).embeddings
        .select(col("label"), col("vec_id"), col("embedding")),
      thresholdE6)

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023):
    * cluster the embedding space with the TRUE trained coarse quantizer
    * ([[Similarity.ivfAssign]] — not the label shortcut), compare pairs
    * ONLY within a cluster, and drop every vector that has a LOWER-id
    * cluster-mate above the cosine threshold — so exactly one
    * representative (the minimum id, a deterministic stand-in for
    * SemDeDup's keep-farthest-from-centroid rule) survives each
    * near-dup chain. Output is a per-vector keep/remove verdict, the
    * shape a curation pipeline consumes as a filter.
    *
    * Scale: the quadratic term is per-cluster, and the quantizer's k is
    * ⌈√N⌉ ([[Similarity.kmeansAssign]]'s default — k grows with the
    * corpus, keeping E[|cell|²] linear in N; since round 6 this is the
    * IMPLEMENTED behavior, not just the comment's claim). The cluster
    * join is an equi-join on cell — never all-pairs, never broadcast
    * (cells are corpus-proportional in aggregate). This is the
    * published shape that deduplicated LAION/DataComp-scale corpora. */
  def semantic(spark: SparkSession, dir: String,
      thresholdE6: Long = 350000L): DataFrame = {
    val t = Tables(spark, dir)
    // the trained assignment feeds BOTH sides of the pair self-join —
    // localCheckpoint materializes the quantizer once (16 B/vector,
    // a sliver of corpus size) instead of re-running Lloyd + argmin
    // inside each branch of the join
    val cellOf = Similarity.kmeansAssign(spark, dir)
      .select(col("vec_id"), col("cell"))
      .localCheckpoint()
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
      .join(cellOf, Seq("vec_id"))
    val l = e.select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"))
    val r = e.select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb"))
    val removed = l.join(r, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("cos_e6",
        graft.functions.CosineSimQ.cosineSimE6(col("ea"), col("eb")))
      .filter(col("cos_e6") >= thresholdE6)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    e.select(col("vec_id"), col("cell"))
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("removed"))
      .orderBy(col("vec_id"))
  }

  /** Signed-random-projection (SRP) LSH signatures over the embedding
    * column — the SUB-QUADRATIC near-dup path [[embeddingCosine]] lacks:
    * label-blocked exact compare is quadratic within each bucket (the
    * measured 10×-data → ~57× cost blowup), while SRP banding makes
    * candidate generation an equi-join again, at the price of recall
    * (high-similarity pairs agree on whole bit-bands with high
    * probability; dissimilar pairs collide rarely).
    *
    * Deterministic cross-engine construction: hyperplane signs come
    * from the portable hash of (j, d) — a CONSTANT 16×64 table, built
    * once and broadcast — and projections are integer dot products over
    * the e4-quantized vectors, so both engines compute bit-identical
    * signatures.
    *
    * Bits are MEAN-CENTERED: bit_j = [proj_j(x) ≥ cμ_j] where cμ_j is
    * the integer half-up-rounded mean projection over the corpus.
    * Against the hyperplane's raw zero, any dominant direction in the
    * embedding space (anisotropy is the norm in real embedding models)
    * pushes most vectors to the SAME side of most hyperplanes and band
    * buckets collapse into a few giant ones — measured as a 100×
    * candidate blowup on shifted-replica data. Centering re-balances
    * each bit to ~50/50 by construction. Two 8-bit bands. */
  def srpSignatures(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val hp = spark.range(16).select(col("id").as("j"))
      .crossJoin(spark.range(64).select(col("id").as("d")))
      .withColumn("s",
        when(pmod(phash(
          concat(col("j").cast("string"), lit("_"), col("d").cast("string")),
          7), lit(2)) === 0, 1L).otherwise(-1L))
    val qv = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .withColumn("q", expr(Similarity.E4))
    // per-dim corpus sums (64 rows) → per-hyperplane mean projection,
    // rounded half-up over the exact-integer IEEE division
    val dimSums = qv.groupBy(col("d"))
      .agg(sum(col("q")).as("sd"), count(lit(1)).as("n"))
    val mu = dimSums.join(broadcast(hp), Seq("d"))
      .groupBy(col("j"))
      .agg(sum(col("s") * col("sd")).as("num"), min(col("n")).as("n"))
      .select(col("j"), Similarity.halfUpMean("num", "n").as("cmu"))
    val bits = qv.join(broadcast(hp), Seq("d"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("q") * col("s")).as("proj"))
      .join(broadcast(mu), Seq("j"))
      .withColumn("bitval",
        when(col("proj") >= col("cmu"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))"))
          .otherwise(lit(0L)))
    val labels = e.select(col("vec_id"), col("label"))
    bits.groupBy(col("vec_id")).agg(sum(col("bitval")).as("srp16"))
      .join(labels, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("srp16"),
        (col("srp16") % 256).as("band1"),
        expr("srp16 div 256").as("band2"))
  }

  /** Oracle-gated SRP signature table (dense per-vector check of the
    * hyperplane/projection/banding front-end). */
  def srpBands(spark: SparkSession, dir: String): DataFrame =
    srpSignatures(Tables(spark, dir).embeddings)
      .orderBy(col("vec_id"))

  /** Full SRP-banded near-dup: band equi-join → distinct candidate
    * pairs → EXACT cosine verification (codegen'd CosineSimQ) — the
    * same candidates-then-verify shape as [[minhashLsh]], so the
    * quadratic term never materializes; candidates shuffle-join back to
    * their vectors (never broadcast — data-dependent size). Band
    * buckets larger than `bandCap` are DROPPED before pairing (the
    * df-cap move from [[ngramJaccard]]): an over-full bucket means the
    * band carries no discriminative signal there, and its quadratic
    * pair term would dominate the whole job — the standard LSH
    * recall-for-survival trade, applied deterministically so the
    * oracle sees the same drop. */
  def embeddingSrp(spark: SparkSession, dir: String,
      thresholdE6: Long = 350000L, bandCap: Int = 1000): DataFrame = {
    val t = Tables(spark, dir)
    val sig = srpSignatures(t.embeddings)
    val bands0 = sig.select(col("vec_id"), explode(array(
      concat(lit("1_"), col("band1")),
      concat(lit("2_"), col("band2")))).as("bk"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))
    val bands = bands0
      .withColumn("bn", count(lit(1)).over(wb))
      .filter(col("bn") <= bandCap).drop("bn")
    val cands = bands.select(col("bk"), col("vec_id").as("a"))
      .join(bands.select(col("bk"), col("vec_id").as("b")), Seq("bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val ea = t.embeddings.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val eb = t.embeddings.select(col("vec_id").as("b"), col("embedding").as("eb"))
    cands.join(ea, Seq("a")).join(eb, Seq("b"))
      .withColumn("cos_e6",
        graft.functions.CosineSimQ.cosineSimE6(col("ea"), col("eb")))
      .filter(col("cos_e6") >= thresholdE6)
      .select(col("a"), col("b"), col("cos_e6"))
      .orderBy(col("a"), col("b"))
  }

  /** 16-bit SimHash per document over the (frequency-weighted) token
    * stream: bit b is set when Σ_tokens ±1 (sign of hash bit b) > 0.
    * Single explode + one hash aggregation — no joins. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val toks = t.documentsSpread
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", phash(col("tok"), 0))
    val bitSums = (0 until 16).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sums = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 16).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc_id"), sim.as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Incremental exact dedup — the production shape: a NEW batch of
    * documents deduped against the standing corpus fingerprint index,
    * then within itself. The anti join shuffles only on the fingerprint
    * (at scale the index side lives bucketed by `fp`, so the standing
    * side never re-shuffles). Here the corpus/batch split is a
    * deterministic hash bucket of the one documents table (buckets 0-3 =
    * standing index, bucket 4 = incoming batch). */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val fp = t.documents.select(
      col("doc_id"), md5(norm(col("text"))).as("fp"),
      pmod(phash(col("doc_id").cast("string"), 21), lit(5L)).as("b"))
    val existing = fp.filter(col("b") < 4)
    val incoming = fp.filter(col("b") === 4)
    incoming
      .join(existing.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** N-gram Jaccard similarity within (lang, length-bucket) blocks —
    * blocked all-pairs comparison over distinct 2-token shingles, with a
    * document-frequency cap: grams appearing in > 100 docs of a block
    * are dropped from BOTH intersection and union (the standard
    * inverted-index trick — ultra-common grams carry no similarity
    * signal but drive the quadratic join fanout at scale).
    * Returns pairs with Jaccard ≥ 0.05 over the kept grams. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val maxDf = 100
    val g = t.documentsSpread
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        (size(col("toks")) - pmod(size(col("toks")), lit(20))).as("len_bucket"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))")))
          .as("gram"))
    // df cap via a window count over the gram key: ONE shuffle that the
    // following per-gram groupBy reuses (same partitioning) — the
    // groupBy + self-join form re-scans and re-explodes every document
    // and pays a second join shuffle for nothing
    val wGram = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("len_bucket"), col("gram"))
    val kept = g.withColumn("df", count(lit(1)).over(wGram))
      .filter(col("df") <= maxDf)
      .drop("df")
    val ng = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    // pair generation: group each gram's (sorted, distinct) doc list and
    // emit i<j combinations — one shuffle on the gram key instead of a
    // full two-sided self-join shuffle; per-gram fanout is bounded by
    // the df cap
    val byGram = kept.groupBy(col("lang"), col("len_bucket"), col("gram"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    byGram.select(col("lang"), explode(expr(
        """flatten(transform(sequence(0, size(ids)-2),
             i -> transform(sequence(i+1, size(ids)-1),
               j -> struct(ids[i] AS a, ids[j] AS b))))""")).as("p"))
      .select(col("lang"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("lang"), col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(ng.select(col("doc_id").as("a"), col("ng").as("na")), Seq("a"))
      .join(ng.select(col("doc_id").as("b"), col("ng").as("nb")), Seq("b"))
      .withColumn("union_n", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard_e4", expr("(20000 * inter + union_n) div (2 * union_n)"))
      .filter(col("jaccard_e4") >= 500)
      .select(col("lang"), col("a"), col("b"), col("inter"), col("union_n"), col("jaccard_e4"))
      .orderBy(col("lang"), col("a"), col("b"))
  }

  /** Asymmetric containment dedup — the doc-in-doc case Jaccard
    * misses: a short document quoted wholesale inside a long one has
    * tiny Jaccard (union is dominated by the long doc) but
    * containment |A∩B| / |A| ≈ 1. Blocks on lang, caps shingle df at
    * 100 (ultra-common shingles carry no signal but drive the
    * inverted-index fanout — same policy as `ngramJaccard`, mirrored
    * in the oracle), scores BOTH directions in exact e4 integers,
    * and keeps pairs where either direction reaches 80%. Scale
    * shape: one shingle explode, equi-key shuffles only, per-shingle
    * fanout bounded by the df cap. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val maxDf = 100
    val g = t.documentsSpread
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
          .as("shingle"))
    val wSh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shingle"))
    val kept = g.withColumn("df", count(lit(1)).over(wSh))
      .filter(col("df") <= maxDf)
      .drop("df")
    val ns = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val byShingle = kept.groupBy(col("lang"), col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    byShingle.select(col("lang"), explode(expr(
        """flatten(transform(sequence(0, size(ids)-2),
             i -> transform(sequence(i+1, size(ids)-1),
               j -> struct(ids[i] AS a, ids[j] AS b))))""")).as("p"))
      .select(col("lang"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("lang"), col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(ns.select(col("doc_id").as("a"), col("ns").as("na")), Seq("a"))
      .join(ns.select(col("doc_id").as("b"), col("ns").as("nb")), Seq("b"))
      .withColumn("cont_a_e4", expr("(20000 * inter + na) div (2 * na)"))
      .withColumn("cont_b_e4", expr("(20000 * inter + nb) div (2 * nb)"))
      .filter(col("cont_a_e4") >= 8000 || col("cont_b_e4") >= 8000)
      .select(col("lang"), col("a"), col("b"), col("inter"),
        col("na"), col("nb"), col("cont_a_e4"), col("cont_b_e4"))
      .orderBy(col("lang"), col("a"), col("b"))
  }

  /** Exact repeated-substring dedup signal (the "dedup by repeated
    * spans" step of LLM corpus curation): for every document, the
    * fraction of its 40-char sliding windows that also occur in at
    * least one OTHER document. Docs dominated by cross-corpus
    * repeated spans (boilerplate, licenses, templates) score high
    * and get dropped by the curation threshold.
    *
    * Shape: ONE corpus-sized exchange total. The per-position window
    * table repartitions by the gram digest ONCE; everything downstream
    * of that exchange is exchange-free because HashPartitioning(gram)
    * satisfies every following requirement — the (gram, doc)
    * multiplicity collapse (clustering on a superset key), the
    * distinct-doc count over the gram key (a window over the same
    * partitioning, paying only a LOCAL sort of the collapsed rows),
    * and the dup filter. The r9 two-exchange form (partial-agg
    * exchange on (gram, doc), then a SECOND full exchange + sort to
    * re-cluster by gram for the window) shuffled the gram table twice
    * and its second sort was the measured superlinear bound at x100
    * saturation (d2 28.3×, 109.8 s — VERDICT r9).
    *
    * Second structural cut: only DUP rows flow past the window.
    * n_win(doc) is just greatest(len-39, 1) — arithmetic on the
    * documents scan, not an aggregate of the gram table — so the
    * per-doc rollup aggregates the (rare) duplicated grams only and
    * joins back to the one-row-per-doc base; the overwhelmingly-unique
    * grams die at the filter instead of riding two more operators.
    *
    * The gram key shuffles as its 16-byte md5 digest, not the raw
    * 40-char window — half the bytes through the exchange. Parity
    * stays exact and keyed-the-same: the DuckDB oracle groups by
    * md5(gram) too, so even a collision would count identically in
    * both engines. Results are bit-identical to the r9 form (same
    * oracle): n_win = Σ multiplicities = window count by
    * construction, and every doc has ≥ 1 window. */
  def substringDup(spark: SparkSession, dir: String,
      k: Int = 40): DataFrame = {
    val t = Tables(spark, dir)
    // spread first: the ~260×/doc window explode is CPU-bound and
    // must not inherit single-split scan parallelism (documentsSpread).
    // Shape matters as much as spread: explode(sequence) + substring
    // in the downstream Project stays inside whole-stage codegen,
    // whereas explode(transform(seq, i -> substring(...))) builds a
    // 260-element string array per doc through the INTERPRETED
    // ArrayTransform.eval / Substring.nullSafeEval path — the x100
    // thread dumps showed exactly that stack burning a core per task.
    val wins = t.documentsSpread
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(length(text) - ${k - 1}, 1))"))
          .as("i"))
      .select(col("doc_id"),
        expr(s"unhex(md5(substring(text, i, $k)))").as("gram"))
    // the one exchange: cluster by gram BEFORE collapsing, so the
    // collapse, the distinct-doc window, and the dup filter all run
    // inside the same partitioning with no further corpus-sized
    // exchange (the window's sort is local, over collapsed rows)
    val perDocGram = wins.repartition(col("gram"))
      .groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as("m"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gram"))
    val dup = perDocGram.withColumn("n_docs", count(lit(1)).over(wG))
      .filter(col("n_docs") >= 2)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("dup_win"))
    t.documents
      .select(col("doc_id"),
        expr(s"CAST(greatest(length(text) - ${k - 1}, 1) AS BIGINT)")
          .as("n_win"))
      .join(dup, Seq("doc_id"), "left")
      .withColumn("dup_win", coalesce(col("dup_win"), lit(0L)))
      .withColumn("dup_frac_e4",
        expr("(20000 * dup_win + n_win) div (2 * n_win)"))
      .withColumn("dup_heavy", col("dup_frac_e4") >= 2000)
      .orderBy(col("doc_id"))
  }

  /** Winnowed repeated-substring signal — [[substringDup]]'s at-scale
    * form: keep a deterministic ~1/8 content-defined window sample
    * (the fingerprint-selection idea of Schleimer/Wilkerson/Aiken's
    * winnowing and of every production near-dup pipeline that can't
    * afford the full gram table), and compute the SAME dup statistics
    * over the selected windows. Content-defined means
    * alignment-independent: selection is a pure function of the
    * window string, so a window shared between two documents is
    * selected in BOTH or NEITHER — cross-doc detection power per
    * selected window is exactly the full metric's (positional
    * striding lacks this: a shared span at different offsets mod s
    * produces disjoint window sets). dup_frac becomes an unbiased
    * ~1/8-sample estimate of the full fraction; `n_win` counts
    * SELECTED windows (0 for short unlucky docs — kept, with the
    * fraction pinned to 0). The gate (md5-prefix in '0'/'8') is
    * exact string arithmetic, bit-identical in the DuckDB oracle; the
    * selection-restriction law (winnow ≡ full metric restricted to
    * gated grams) is asserted in `DedupPlantedSpec`. Cuts the
    * one-exchange plan's shuffle ~8×.
    *
    * THE GATE IS md5-PREFIX ON PURPOSE — the "cheap pre-gate so md5
    * runs only on survivors" idea (VERDICT r10 task 4a) was built and
    * REFUTED twice by matched x100 A/Bs (r11; recorded in BASELINE.md):
    * (1) gating on a 5-char ascii mix of a materialized window string
    * lost 134.2 s vs 59.0 s — a 40-char string alloc per window costs
    * more than the md5 it avoids; (2) gating on the same five chars
    * read at text offsets (no window string at all) still lost
    * 103.7 s vs 59.2 s — `substring(text, i+p, 1)` must WALK the
    * UTF8 bytes to char position i (O(i) per read, codepoints aren't
    * fixed-width), so five walks per window cost more than the md5
    * arm's single walk + 40-byte digest. Any gate that reads window
    * CONTENT pays that walk; given one walk is mandatory, hashing the
    * window and gating on the digest is the portable optimum (a
    * cross-engine-identical cheap hash does not exist in DuckDB
    * v1.0.0 — md5 is the shared primitive). */
  def substringDupWinnow(spark: SparkSession, dir: String,
      k: Int = 40): DataFrame = {
    val t = Tables(spark, dir)
    val wins = t.documentsSpread
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(length(text) - ${k - 1}, 1))"))
          .as("i"))
      .select(col("doc_id"), expr(s"md5(substring(text, i, $k))").as("h"))
      .filter(substring(col("h"), 1, 1).isin("0", "8"))
      .select(col("doc_id"), expr("unhex(h)").as("gram"))
    val perDocGram = wins.repartition(col("gram"))
      .groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as("m"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gram"))
    val stats = perDocGram.withColumn("n_docs", count(lit(1)).over(wG))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_win"),
        sum(when(col("n_docs") >= 2, col("m")).otherwise(0L)).as("dup_win"))
    t.documents.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .withColumn("n_win", coalesce(col("n_win"), lit(0L)))
      .withColumn("dup_win", coalesce(col("dup_win"), lit(0L)))
      .withColumn("dup_frac_e4",
        expr("CASE WHEN n_win = 0 THEN 0L ELSE (20000 * dup_win + n_win) div (2 * n_win) END"))
      .withColumn("dup_heavy", col("dup_frac_e4") >= 2000)
      .orderBy(col("doc_id"))
  }

  /** Edit-distance near-duplicate pairs — PassJoin candidate
    * generation (Li/Deng/Feng's partition scheme), then exact
    * threshold-banded `levenshtein` verification of candidates only.
    *
    * Pigeonhole: cut the SHORTER string of a pair into maxEd + 1 = 5
    * even segments; at most maxEd edits touch at most maxEd of them,
    * so one segment survives untouched and appears EXACTLY in the
    * longer string, start-shifted by at most the net indel drift
    * (≤ maxEd). So: every doc INDEXES its 5 segments keyed by
    * (segment#, own length, content); every doc PROBES, for each
    * possible shorter-length l' within maxEd of its own and each
    * segment#, the 2·maxEd+1 start-shifted substrings of the matching
    * segment geometry — ≤ 225 probe rows/doc, joined on the exact
    * (segment#, l', content) key. ~60-char segments are near-unique,
    * so buckets stay tiny even on corpora of near-identical
    * templates, and a qualifying pair is regenerated at most
    * O(maxEd²) times — not once per shared rare gram: the Ed-Join
    * 33-gram-prefix form this replaced generated every replica pair
    * ~54× (145.6M raw for 2.67M distinct candidates on the 10×
    * replica, 48.6 s total; PassJoin: 249k candidates, 35.0 s,
    * identical 230,417 pairs — and 6.9 → 3.5 s at sf0.1). Soundness
    * is verified exhaustively against the quadratic ground truth in
    * `DedupPlantedSpec`. Scale shape: segment/probe tables are
    * O(corpus) rows with literal-bounded per-doc fanout, the
    * candidate join is one exact-key equi-join, and the banded
    * O(len·maxEd) levenshtein runs per candidate pair, never per
    * cross-pair. */
  def fuzzyEditPairs(spark: SparkSession, dir: String,
      maxEd: Int = 4): DataFrame = {
    val t = Tables(spark, dir)
    val nSeg = maxEd + 1
    // spread: segment/probe generation explodes ~230 rows/doc of
    // substring arithmetic — session-parallel, not split-parallel
    val d = t.documentsSpread.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    // Both generator sides are CHAINED explode(sequence) + codegen'd
    // Project arithmetic, not transform() lambdas: a lambda inside
    // transform() is evaluated through the interpreted
    // ArrayTransform.eval path outside whole-stage codegen — the same
    // x100 lesson as the substring-window table above. Row sets are
    // identical to the nested transform/flatten/filter form (order
    // differs; the candidate equi-join doesn't care).
    // index side: the 5 exact segments of every doc, keyed by its own
    // length (the pigeonhole applies to the shorter side's geometry)
    val segs = d
      .select(col("doc_id"), col("len"), col("text"),
        explode(expr(s"sequence(0, ${nSeg - 1})")).as("k"))
      .select(col("doc_id").as("ia"), col("len").as("la"), col("k"),
        expr(s"""substring(text, CAST(k * len div $nSeg AS INT) + 1,
                |  CAST((k + 1) * len div $nSeg - k * len div $nSeg
                |    AS INT))""".stripMargin).as("seg"))
    // probe side: for every candidate shorter-length l' (own len −
    // maxEd … own len) and segment#, the start positions shifted by
    // −maxEd … +maxEd around that geometry's segment start
    val probes = d
      .select(col("doc_id"), col("len"), col("text"),
        explode(expr(s"sequence(0, ${nSeg - 1})")).as("k"))
      .select(col("doc_id"), col("len"), col("text"), col("k"),
        explode(expr(s"sequence(len - $maxEd, len)")).as("lp"))
      .select(col("doc_id"), col("len"), col("text"), col("k"), col("lp"),
        explode(expr(s"sequence(-$maxEd, $maxEd)")).as("dx"))
      .withColumn("st",
        expr(s"CAST(k * lp div $nSeg AS INT) + 1 + dx"))
      .withColumn("sl",
        expr(s"CAST((k + 1) * lp div $nSeg - k * lp div $nSeg AS INT)"))
      .filter(col("lp") >= 0 && col("st") >= 1 &&
        col("st") + col("sl") - 1 <= col("len"))
      .select(col("doc_id").as("ib"), col("len").as("lb"),
        col("k"), col("lp"),
        expr("substring(text, st, sl)").as("seg"))
    val cand = segs.join(probes,
        segs("k") === probes("k") && segs("la") === probes("lp") &&
          segs("seg") === probes("seg") && segs("ia") =!= probes("ib"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"))
      .distinct()
      // materialize + re-spread the candidate list before the verify.
      // Without the barrier the whole verify chain (broadcast doc
      // joins + levenshtein — which Catalyst pushes INTO the join
      // condition) fuses into the post-distinct stage, and AQE
      // coalesces that stage by BYTES (249k pairs ≈ 4 MB → 1-2
      // partitions at 10×), blind to the CPU downstream: measured
      // 73.6 s for the verify on the coalesced layout vs 4.6 s
      // spread, same rows — a plan-only repartition is either
      // collapsed into the distinct's exchange or AQE-coalesced
      // again. The pair list is small BY CONSTRUCTION (it is the
      // filter's whole point), so the checkpoint is bounded; the
      // pinned-count repartition then owns the verify parallelism.
      // Lazy: constructing the frame (plan audits) must stay job-free.
      .localCheckpoint(false)
      .repartition(spark.sparkContext.defaultParallelism,
        col("a"), col("b"))
    cand
      .join(d.select(col("doc_id").as("a"), col("text").as("ta"),
        col("len").as("la")), Seq("a"))
      .join(d.select(col("doc_id").as("b"), col("text").as("tb"),
        col("len").as("lb")), Seq("b"))
      .filter(abs(col("la") - col("lb")) <= maxEd)
      // bounded form: banded O(len·maxEd) DP, returns -1 past the
      // threshold — vs the unbounded O(len²) full matrix
      .withColumn("edit_dist",
        expr(s"levenshtein(ta, tb, $maxEd)"))
      .filter(col("edit_dist").between(0, maxEd))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("edit_dist").cast("long").as("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
