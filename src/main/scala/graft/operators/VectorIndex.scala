package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.core.{Scratch, Tables}
import graft.lake.TxTable
import Similarity._

/** A standing IVF vector index: cell-clustered postings in tx-table
  * format with a per-file Bloom bitmap on `cell`, the centroid table
  * (cell, dim, c) pinned at build, and what the postings carry beside
  * the exact vector ([[codec]]). Serving reads only the probed cells'
  * files; the corpus is never re-clustered per query.
  *
  * Every family is this one handle — label-seeded, √N and
  * sample-trained quantizers; flat, SQ8 and PQ codecs; batch, streamed
  * and grow lifecycles. `bounded` says whether the pinned k·d centroid
  * table is under the 32 MB broadcast bound, decided once at build;
  * `labelStats` is the √N family's pinned per-label selectivity
  * histogram; `k` is the pinned cell count a grow family re-buckets
  * against (0 elsewhere). */
final case class VectorIndex(family: VectorIndex.Family, postings: String,
    centroids: String, codec: VectorIndex.Codec, bounded: Boolean,
    labelStats: Option[String] = None, k: Int = 0) extends StandingIndex

/** What every IVF family shares on top of the [[StandingIndex]]
  * lifecycle (registry, manifest, loader, streamed driver):
  *  - one commit path ([[commit]], [[pin]]): postings, the pinned
  *    artifact tables, then the manifest;
  *  - one serve ([[serve]]): probe, Bloom-pruned point read, then the
  *    codec's scoring;
  *  - one grow append-and-trigger ([[growAppend]]).
  * `graft.streaming.StreamVector` seeds and tails the streamed families
  * and `graft.IndexCatalog` maps each serving query to the family it
  * reads. */
object VectorIndex {

  /** What the postings carry beside the exact vector. */
  sealed trait Codec
  /** The vector alone. */
  case object Flat extends Codec
  /** 1-byte-per-dim scalar codes against the pinned one-row [mn, mx]
    * range at `statsRoot`. The handle carries the range itself, so a
    * serve reads no table (and runs no job) for it. */
  final case class Sq8(statsRoot: String, mn: Long, mx: Long) extends Codec
  /** 8-subspace product codes against the pinned per-(sub, code)
    * codebook at `codebookRoot`. */
  final case class Pq(codebookRoot: String) extends Codec

  /** The codec a family builds: its manifest key and the suffix of its
    * artifact table's root. */
  sealed abstract class CodecKind(val key: String, val suffix: String)
  case object FlatKind extends CodecKind("", "")
  case object Sq8Kind extends CodecKind("stats", "_stats")
  case object PqKind extends CodecKind("codebook", "_cb")

  /** How a family trains its coarse quantizer. */
  sealed trait Cells
  /** One cell per label, at the label's half-up integer mean. */
  case object LabelCells extends Cells
  /** ⌈√N⌉ deterministic Lloyd cells trained on the whole corpus. */
  case object SqrtCells extends Cells
  /** ⌈√N⌉ Lloyd cells trained on the hash-gated sample
    * ([[Similarity.sampleGate]]). */
  case object SampleCells extends Cells

  /** One index family. `name` is the family string stamped into the
    * manifest and the registry key; `scratch` prefixes its roots
    * (`<scratch>_N`, `<scratch>_cents_N`, ...); `cols` is the postings
    * row, in on-disk order. `#stream` families are seeded and tailed by
    * the streamed driver; `#grow` families grow from a frame and write
    * no manifest. */
  final case class Family(name: String, scratch: String, cells: Cells,
      codec: CodecKind, cols: Seq[String], labelHistogram: Boolean = false)
      extends StandingIndex.Family[VectorIndex] {
    def streamed: Boolean = name.endsWith("#stream")
    def grows: Boolean = name.endsWith("#grow")
    /** Corpus columns the postings carry beyond (vec_id, embedding). */
    private[graft] def extraCols: Seq[Column] =
      if (cols.contains("label")) Seq(col("label")) else Nil
    private[graft] def inputCols: Seq[Column] =
      col("vec_id") +: col("embedding") +: extraCols

    /** One pass into a standing index: train, assign every vector to its
      * argmin cell, encode, commit. Streamed families hand over to the
      * streamed driver. Returns the handle unregistered. */
    private[graft] def build(spark: SparkSession, dir: String): VectorIndex = {
      require(!grows, s"$name grows from a frame: use growInit")
      if (streamed) graft.streaming.StreamVector.seed(spark, dir, this)
      else {
        val pins = train(spark, dir, this)
        val rows = memberRows(spark, dir, pins.cents, pins.bounded, extraCols: _*)
        commit(spark, this, encoder(this, pins)(rows), pins)
      }
    }

    private[graft] def fromManifest(spark: SparkSession, root: String,
        m: Map[String, String]): VectorIndex = {
      def key(k: String) = StandingIndex.manifestKey(m, root, k)
      val c = codec match {
        case FlatKind => Flat
        case Sq8Kind => Sq8(key(Sq8Kind.key), key("mn").toLong, key("mx").toLong)
        case PqKind => Pq(key(PqKind.key))
      }
      VectorIndex(this, root, key("centroids"), c, key("bounded").toBoolean,
        if (labelHistogram) m.get("stats") else None)
    }
  }

  private val flat = Seq("cell", "vec_id", "embedding")
  private val sq8 = Seq("cell", "vec_id", "codes", "code_sum", "embedding")
  private val pq = Seq("cell", "vec_id", "codes", "embedding")

  val Ivf = Family("ivf", "tx_ivf", LabelCells, FlatKind, flat)
  // `label` rides in the √N postings so a filtered serve never joins
  // back to the corpus; the histogram beside them prices its predicate
  val Sqrt = Family("ivf_sqrt", "tx_ivf_sqrt", SqrtCells, FlatKind,
    flat :+ "label", labelHistogram = true)
  val Sample = Family("ivf_sample", "tx_ivf_sample", SampleCells, FlatKind,
    flat :+ "label")
  val Sq8Sqrt = Family("ivf_sq8", "tx_ivf_sq8", SqrtCells, Sq8Kind, sq8)
  val Sq8Sample = Family("ivf_sq8#sample", "tx_ivf_sq8_smp", SampleCells,
    Sq8Kind, sq8)
  val PqSqrt = Family("ivf_pq", "tx_ivf_pq", SqrtCells, PqKind, pq)
  val PqSample = Family("ivf_pq#sample", "tx_ivf_pq_smp", SampleCells,
    PqKind, pq)
  val IvfStream = Family("ivf#stream", "tx_ivf_stream", LabelCells,
    FlatKind, flat)
  val Sq8Stream = Family("ivf_sq8#stream", "tx_ivf_sq8_stream", SampleCells,
    Sq8Kind, sq8)
  val PqStream = Family("ivf_pq#stream", "tx_ivf_pq_stream", SampleCells,
    PqKind, pq)
  val IvfGrow = Family("ivf#grow", "tx_ivf_grow", SqrtCells, FlatKind, flat)
  val Sq8Grow = Family("ivf_sq8#grow", "tx_sq8_grow", SampleCells, Sq8Kind,
    sq8)
  // `label` rides in the grow PQ postings so a rebuild can retrain the
  // per-(sub, label) codebook from the merged snapshot
  val PqGrow = Family("ivf_pq#grow", "tx_pq_grow", SampleCells, PqKind,
    Seq("cell", "vec_id", "codes", "label", "embedding"))

  /** Default candidate cuts before the exact rerank (PQ's is argued at
    * [[Similarity.annIvfPq]]). */
  val Sq8CandK = 20
  val PqCandK = 100

  /** Grow trigger: re-bucket once N > (k·GrowthFactor)². */
  private val GrowthFactor = 2.0

  // ----------------------------------------------------------------
  // Build and commit
  // ----------------------------------------------------------------

  /** A family's pinned build artifacts: the centroid table, whether its
    * k·d rows are under the 32 MB broadcast bound, the codec table (SQ8
    * range or PQ codebook) and the √N family's label histogram. */
  private[graft] final case class Pins(cents: DataFrame, bounded: Boolean,
      codecTable: Option[DataFrame], hist: Option[DataFrame] = None) {
    /** The SQ8 range: its codec table is a one-row local relation
      * ([[rangeTable]]), so this runs no Spark job. */
    def sq8Range: (Long, Long) = {
      val r = codecTable.get.head()
      (r.getAs[Long]("mn"), r.getAs[Long]("mx"))
    }
  }

  /** The SQ8 range (mn, mx) as a one-row local relation. */
  private def rangeTable(spark: SparkSession, mn: Long, mx: Long): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(mn, mx)),
      StructType(Seq(StructField("mn", LongType), StructField("mx", LongType))))

  /** The codec table over quantized coordinates: the one-row [mn, mx]
    * range (over `q`) or the per-(sub, label) codebook (over `labelled`,
    * which carries `label`). Both are pinned so that build and serve
    * agree: the range is collected into a local relation, the codebook
    * checkpointed. */
  private def codecTable(kind: CodecKind, q: => DataFrame,
      labelled: => DataFrame): Option[DataFrame] = kind match {
    case FlatKind => None
    case Sq8Kind =>
      val qs = q
      val r = qs.agg(min(col("q")).as("mn"), max(col("q")).as("mx")).head()
      Some(rangeTable(qs.sparkSession, r.getAs[Long]("mn"), r.getAs[Long]("mx")))
    case PqKind => Some(pqCodebook(labelled).localCheckpoint())
  }

  /** Train `family`'s artifacts over corpus `dir`. `base` limits the
    * vectors a label-seeded quantizer averages (the streamed family
    * pins its centroids on the base 90%); the trained quantizers and
    * the codec tables always cover the whole corpus, so a streamed
    * index equals its one-shot build. */
  private[graft] def train(spark: SparkSession, dir: String, family: Family,
      base: Option[Column] = None): Pins = {
    val (cents, bounded) = family.cells match {
      case LabelCells =>
        val qe = qe4(spark, dir)
        (labelCentroids(base.fold(qe)(b => qe.filter(b))).localCheckpoint(), true)
      case SqrtCells => sqrtQuantizer(spark, dir)
      case SampleCells =>
        val (cents, _, bounded) = sampleQuantizer(Tables(spark, dir).embeddings)
        (cents, bounded)
    }
    // one linear aggregate at build, |labels| rows: the adaptive
    // filtered serve prices a label predicate from this point read
    // instead of re-aggregating the corpus per query
    val hist = if (!family.labelHistogram) None
      else Some(Tables(spark, dir).embeddings
        .groupBy(col("label")).agg(count(lit(1)).as("n")))
    Pins(cents, bounded,
      codecTable(family.codec, quantized(spark, dir), qe4(spark, dir)), hist)
  }

  /** Adds `family`'s codes to assigned rows (`cell` plus the input
    * columns) and projects its postings row. Codes are computed on the
    * row against the pinned tables — the SQ8 range as two driver
    * scalars; PQ runs the [[graft.functions.PqEncodeQ]]
    * kernel — so seeds, micro-batches and grow deltas encode alike. */
  private[graft] def encoder(family: Family, pins: Pins): DataFrame => DataFrame = {
    val withCodes: DataFrame => DataFrame = family.codec match {
      case FlatKind => identity
      case Sq8Kind =>
        val (mn, mx) = pins.sq8Range
        val enc = sq8EncodeExpr(mn, math.max(mx - mn, 1L))
        // Σcode rides along from build time: the decoded-dot correction
        // needs it per posting, and computing it in the serving scan
        // would run the interpreted aggregate() per candidate row
        _.withColumn("codes", enc)
          .withColumn("code_sum", expr("aggregate(codes, 0L, (a, x) -> a + x)"))
      case PqKind => withPqCodes(_, pins.codecTable.get)
    }
    rows => withCodes(rows).select(family.cols.map(col): _*)
  }

  /** Cell-clustered postings commit: range-partitioned on `cell` so a
    * probe's point read touches a contiguous file subset, Bloom bitmap
    * on `cell` per file. */
  private[graft] def appendPostings(tx: TxTable, rows: DataFrame,
      files: Int = 8): Unit =
    tx.append(rows.repartitionByRange(files, col("cell")), bloomCols = Seq("cell"))

  /** The commit path of every batch and grow build: postings under a
    * fresh root, then [[pin]]. */
  private[graft] def commit(spark: SparkSession, family: Family,
      rows: DataFrame, pins: Pins, k: Int = 0): VectorIndex = {
    val tx = TxTable(spark, Scratch.fresh(family.scratch))
    appendPostings(tx, rows)
    pin(spark, family, tx.root, pins, k)
  }

  /** Write the pinned tables beside committed postings — centroids, the
    * codec table, the histogram — then the manifest naming them, so a
    * session that holds only the postings root can load the full
    * handle (`StandingIndex.load`). The streamed driver calls this after
    * its last batch. */
  private[graft] def pin(spark: SparkSession, family: Family, postings: String,
      pins: Pins, k: Int = 0): VectorIndex = {
    def table(suffix: String, df: DataFrame): String = {
      val root = Scratch.fresh(family.scratch + suffix)
      TxTable(spark, root).append(df)
      root
    }
    val cents = table("_cents", pins.cents)
    val codecRoot = pins.codecTable.map(table(family.codec.suffix, _))
    val histRoot = pins.hist.map(table("_stats", _))
    // the SQ8 range travels in the handle and the manifest
    val (codec, range) = family.codec match {
      case FlatKind => (Flat, Nil)
      case Sq8Kind =>
        val (mn, mx) = pins.sq8Range
        (Sq8(codecRoot.get, mn, mx), Seq("mn" -> mn.toString, "mx" -> mx.toString))
      case PqKind => (Pq(codecRoot.get), Nil)
    }
    if (!family.grows)
      StandingIndex.writeIndexManifest(postings,
        Seq("family" -> family.name, "centroids" -> cents,
          "bounded" -> pins.bounded.toString) ++ range ++
          codecRoot.map(family.codec.key -> _) ++ histRoot.map("stats" -> _): _*)
    VectorIndex(family, postings, cents, codec, pins.bounded, histRoot, k)
  }

  /** A `*Build` query: build `family` fresh, register it, and return
    * the cell-population audit (count, total, min/max occupancy — the
    * balance signal that decides whether cells need splitting), plus
    * the pinned SQ8 range or the codebook's row count, plus `n_sample`
    * for a sample-trained family (the witness that training stayed
    * capped at ≈ 8·⌈√N⌉ vectors). */
  private[graft] def buildAudit(spark: SparkSession, dir: String,
      family: Family): DataFrame = {
    val idx = StandingIndex.rebuild(spark, dir, family)
    val codecCols = idx.codec match {
      case Flat => Nil
      case Sq8(stats, _, _) => Seq(TxTable(spark, stats).read())
      case Pq(cb) => Seq(TxTable(spark, cb).read().agg(count(lit(1)).as("cb_rows")))
    }
    val sampleCols =
      if (family.cells == SampleCells) Seq(sampleGateAudit(spark, dir)) else Nil
    val pops = TxTable(spark, idx.postings).read()
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("n")).cast("long").as("n_vecs"),
        min(col("n")).cast("long").as("min_cell_pop"),
        max(col("n")).cast("long").as("max_cell_pop"))
    (codecCols ++ sampleCols).foldLeft(pops)((a, c) => a.crossJoin(broadcast(c)))
  }

  // ----------------------------------------------------------------
  // Serve
  // ----------------------------------------------------------------

  /** Probe, then point read. The probe rows ([[Similarity.probeList]]:
    * qid, q_cell, q_emb — |Q|·nprobe rows, metadata-sized by definition)
    * are ranked and collected ONCE and handed to the scoring plan as a
    * local relation, so the final action never re-runs the ranking; the
    * same rows' cell ids drive the Bloom-pruned read of just those
    * cells' postings. `bounded` is the index's pinned broadcast bound. */
  private[graft] def probeRead(spark: SparkSession, dir: String,
      postings: TxTable, cents: DataFrame, nprobe: Int,
      bounded: Boolean): (DataFrame, DataFrame) = {
    val ranked = probeList(spark, dir, cents, nprobe, bounded)
    val rows = ranked.collect()
    val cells = rows.map(_.get(1)).distinct
      .sortBy(_.asInstanceOf[Number].longValue).map(lit).toSeq
    (spark.createDataFrame(rows.toSeq.asJava, ranked.schema),
      postings.readWhereIn("cell", cells))
  }

  /** Multi-probe top-k from a standing index: [[probeRead]], then the
    * codec's scoring — exact cosine over the probed members (flat,
    * restricted to `pred` when given: the attribute lives in the
    * postings row, so the predicate prunes before the distance kernel
    * and nothing joins back to the corpus), or a code scan cut to
    * `candK` candidates and exact-reranked (SQ8, PQ; `candK` defaults
    * per codec). Every codec scores against the same probe rows and
    * projects only the columns it needs. An index never changes the
    * answer: each serve shares its unindexed twin's oracle. */
  def serve(spark: SparkSession, dir: String, idx: VectorIndex, k: Int = 5,
      nprobe: Int = 3, candK: Option[Int] = None,
      pred: Option[Column] = None): DataFrame = {
    val (probes, postings) = probeRead(spark, dir, TxTable(spark, idx.postings),
      TxTable(spark, idx.centroids).read(), nprobe, idx.bounded)
    idx.codec match {
      case Flat => topkByCell(pred.fold(postings)(p => postings.filter(p)), probes, k)
      case Sq8(_, mn, mx) => sq8Topk(probes, postings, mn, mx, k,
        candK.getOrElse(Sq8CandK))
      case Pq(cb) => adcTopk(probes, postings, TxTable(spark, cb).read(), k,
        candK.getOrElse(PqCandK))
    }
  }

  /** SQ8 candidates: score the probed postings' codes (never the exact
    * column) with the DECODED integer dot against the query codes, keep
    * `candK` per query, exact-rerank.
    *
    * Why decoded: code = (q - mn)·255 div s (s = mx - mn) centers every
    * code near 127 for roughly zero-centered embeddings, so the raw
    * code dot Σc_v·c_q is dominated by 127·Σc_v — it ranks candidates
    * by their coordinate SUM, uncorrelated with the query (measured:
    * recall@5 ≈ 0.04 at sf0.1). Undoing the affine shift recovers the
    * true dot: with dec_i = c_i·s + 255·mn ≈ 255·q_i,
    *   Σdec(v)·dec(q) = s²·dotQ + 255·mn·s·(Σc_v + Σc_q) + d·(255·mn)²
    * — exact integers end to end (|score| ≤ ~1e15 ≪ 2⁶³), so candidate
    * sets are bit-identical cross-engine (measured recall@5 0.52 at
    * sf0.1, equal to the uncompressed probe path's). */
  private def sq8Topk(probes: DataFrame, postings: DataFrame, mnv: Long, mxv: Long,
      k: Int, candK: Int): DataFrame = {
    val sv = math.max(mxv - mnv, 1L)
    val tv = 255L * mnv
    // query codes: the build's encode over the probe rows' vectors
    // against the PINNED range; Σqcode once per probe row, not per
    // candidate row
    val queries = probes.select(col("qid"), col("q_cell"), col("q_emb").as("embedding"))
      .select(col("qid"), col("q_cell"), sq8EncodeExpr(mnv, sv).as("qcodes"))
      .withColumn("qcode_sum", expr("aggregate(qcodes, 0L, (a, x) -> a + x)"))
    // pure codegen arithmetic: the DotQ kernel plus the build-time Σcode
    // and broadcast-side Σqcode columns
    val cand = postings
      .select(col("cell"), col("vec_id"), col("codes"), col("code_sum"))
      .join(broadcast(queries), col("cell") === col("q_cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sq8_dot",
        lit(sv) * lit(sv) *
          graft.functions.DotQ.dotQ(col("codes"), col("qcodes"))
          + lit(tv) * lit(sv) * (col("code_sum") + col("qcode_sum"))
          + size(col("codes")).cast("long") * lit(tv) * lit(tv))
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("sq8_dot").desc, col("vec_id"))
    rerank(postings, probes, cand.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= candK)
      .select(col("qid"), col("q_cell"), col("vec_id").as("nid"), col("sq8_dot")),
      "sq8_dot", k)
  }

  /** PQ candidates by ADC: each probe row's exact distance to every
    * (sub, code) centroid is a constant-size table (|Q|·nprobe·8·|codes|
    * rows, broadcast, keyed by the probed cell); a candidate's
    * approximate distance is the sum of 8 lookups over its codes
    * (posexplode + broadcast equi-join on (cell, sub, code) +
    * map-side-combined sum). Keep `candK` per query, exact-rerank. */
  private def adcTopk(probes: DataFrame, postings: DataFrame, cb: DataFrame,
      k: Int, candK: Int): DataFrame = {
    val qd = quantizedOf(probes.select(col("qid"), col("q_cell").as("cell"),
        col("q_emb").as("embedding")), Seq("qid", "cell"))
      .withColumn("sub", expr(s"dim div $PqDimsPerSub"))
      .join(broadcast(cb), Seq("sub", "dim"))
      .groupBy(col("qid"), col("cell"), col("sub"), col("code"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
    val cand = postings
      .select(col("cell"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .withColumn("sub", col("sub").cast("long"))
      .join(broadcast(qd), Seq("cell", "sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("cell").as("q_cell"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_dist2"))
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist2"), col("vec_id"))
    rerank(postings, probes, cand.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= candK)
      .select(col("qid"), col("q_cell"), col("vec_id").as("nid"), col("adc_dist2")),
      "adc_dist2", k)
  }

  /** Exact-cosine rerank of the code-scan survivors `top` (qid, q_cell,
    * nid, `score`): their vectors come from the SAME probed-cell read
    * (column-pruned to the exact column, |Q|·candK rows), the query
    * vector from the probe row (qid, q_cell) — never a corpus read. */
  private def rerank(postings: DataFrame, probes: DataFrame, top: DataFrame,
      score: String, k: Int): DataFrame = {
    val rer = top
      .join(postings.select(col("vec_id").as("nid"),
        col("embedding").as("n_emb")), Seq("nid"))
      .join(broadcast(probes), Seq("qid", "q_cell"))
      .withColumn("cos_e6",
        graft.functions.CosineSimQ.cosineSimE6(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_e6").desc, col("nid"))
    rer.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col(score), col("cos_e6"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  // ----------------------------------------------------------------
  // Grow: auto re-bucket under appends
  // ----------------------------------------------------------------

  /** Train a fresh ⌈√N⌉-cell index of grow family `family` over `emb`
    * (vec_id, embedding, plus label for [[PqGrow]]) — the grow
    * lifecycle's t = 0. [[IvfGrow]] trains full Lloyd; the composed
    * families train on the gated sample and pin a fresh SQ8 range / PQ
    * codebook over `emb`. */
  def growInit(spark: SparkSession, family: Family, emb: DataFrame): VectorIndex = {
    val e = emb.select(family.inputCols: _*)
    family.cells match {
      case SampleCells =>
        val (cents, k, bounded) = sampleQuantizer(e)
        growCommit(spark, family, e, cents, k, bounded)
      case _ =>
        e.persist()
        try {
          val k = math.ceil(math.sqrt(e.count().toDouble)).toInt
          growCommit(spark, family, e, lloydCentroidsFast(e, k, 2).localCheckpoint(), k)
        } finally e.unpersist(blocking = false)
    }
  }

  /** `bounded` defaults to the Lloyd kernels' own assumption: they
    * broadcast the centroids, so a table they trained is under the bound. */
  private def growCommit(spark: SparkSession, family: Family, emb: DataFrame,
      cents: DataFrame, k: Int, bounded: Boolean = true): VectorIndex = {
    val pins = Pins(cents, bounded, codecTable(family.codec,
      quantizedOf(emb),
      quantizedOf(emb).join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))))
    commit(spark, family, encoder(family, pins)(withArgminCell(emb, cents)), pins, k)
  }

  /** Append `delta` to a grow-family index, re-bucketing when the
    * corpus outgrows the pinned cell alphabet.
    *
    * The cheap path assigns and encodes the delta against the PINNED
    * artifacts (touching only the delta; every previously served answer
    * is unchanged) and commits it into the existing postings. The
    * trigger is N > (k·GrowthFactor)²: the pinned k has fallen behind
    * ⌈√N⌉ by more than GrowthFactor, so the probed fraction nprobe/k
    * has drifted that factor above the nprobe/√N design point. The
    * rebuild rewrites everything under fresh roots: [[IvfGrow]] splits
    * its alphabet proportionally ([[splitRebuild]]); the sample-trained
    * families retrain from the gate (linear, so there is no N^1.5 term
    * to amortize). Amortization is geometric: rebuild i processes
    * N_i ≈ GrowthFactor²·N_{i-1} rows, so total rebuild work over any
    * append sequence is a constant factor over one build. */
  def growAppend(spark: SparkSession, idx: VectorIndex,
      delta: DataFrame): VectorIndex = {
    val family = idx.family
    val cents = TxTable(spark, idx.centroids).read()
    val table = idx.codec match {
      case Flat => None
      case Sq8(_, mn, mx) => Some(rangeTable(spark, mn, mx))
      case Pq(root) => Some(TxTable(spark, root).read())
    }
    val rows = encoder(family, Pins(cents, bounded = true, table))(
      withArgminCell(delta.select(family.inputCols: _*), cents))
    val tx = TxTable(spark, idx.postings)
    appendPostings(tx, rows)
    val n = tx.read().count()
    val limit = idx.k.toDouble * GrowthFactor
    if (n.toDouble <= limit * limit) idx
    else {
      // pin the merged snapshot for the rebuild
      val emb = tx.read().select(family.inputCols: _*).localCheckpoint()
      if (family.cells == SampleCells) growInit(spark, family, emb)
      else splitRebuild(spark, tx, emb, math.ceil(math.sqrt(n.toDouble)).toInt)
    }
  }

  /** [[IvfGrow]]'s rebuild: retrain k′ = ⌈√N⌉ Lloyd cells seeded by
    * SPLITTING THE PINNED ALPHABET PROPORTIONALLY — each old cell
    * contributes ⌈k′·pop/N⌋ seeds ([[Similarity.allocSeats]]), picked as
    * hash-ranked MEMBER VECTORS of that cell, so dense cells split into
    * several and cluster structure carries over instead of restarting
    * cold. Seeding from members, not from the old centroid means,
    * matters: a mean is central in high-dimensional space, so mixing
    * mean-seeds with point-seeds makes every new cell collapse to a
    * singleton (measured on the sf0.01 corpus: 11 of 11 new cells
    * degenerate). */
  private def splitRebuild(spark: SparkSession, tx: TxTable, emb: DataFrame,
      kNew: Int): VectorIndex = {
    // current membership: the merged postings carry each vector's
    // argmin cell from commit time
    val memberNow = tx.read().select(col("vec_id"), col("cell"))
    val pops = memberNow.groupBy(col("cell"))
      .agg(count(lit(1)).as("pop"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq // k rows
    import spark.implicits._
    val seatDf = broadcast(allocSeats(pops, kNew).toSeq.toDF("cell", "seats"))
    val hashOrder = Seq(
      graft.functions.PortableHash.phash(col("vec_id").cast("string"), 11).asc,
      col("vec_id").asc)
    val picked = memberNow
      .withColumn("r", row_number().over(Window.partitionBy(col("cell")).orderBy(hashOrder: _*)))
      .join(seatDf, Seq("cell"))
      .filter(col("r") <= col("seats"))
    val wAll = Window.orderBy(col("cell"), col("r")) // over k' rows only
    val seeds = picked
      .withColumn("newcell", (row_number().over(wAll) - 1).cast("long"))
      .select(col("vec_id"), col("newcell"))
    val cents0 = emb.join(broadcast(seeds), Seq("vec_id"))
      .select(col("newcell").as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("cell"), col("dim").cast("long").as("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)").as("c"))
    growCommit(spark, IvfGrow, emb, lloydFrom(emb, cents0, 2).localCheckpoint(), kNew)
  }

  /** Mean probed corpus fraction for `queries` (vec_id, embedding) at
    * `nprobe` — the scale property grow maintenance keeps:
    * Σ(probed cells' population) / N per query, averaged. Constant
    * between rebuilds (appends distribute over the fixed alphabet),
    * dropping to ≈ nprobe/⌈√N⌉ at each re-bucket. */
  def probedFraction(spark: SparkSession, idx: VectorIndex,
      queries: DataFrame, nprobe: Int = 3): Double = {
    val cents = TxTable(spark, idx.centroids).read()
    val posts = TxTable(spark, idx.postings).read()
    val pop = posts.groupBy(col("cell")).agg(count(lit(1)).as("pop"))
    val n = posts.count().toDouble
    val probes = rankedByDist(
        queries.select(col("vec_id"), col("embedding")), cents)
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cell"))
    val perQuery = probes.join(pop, Seq("cell"))
      .groupBy(col("qid")).agg(sum(col("pop")).as("probed"))
      .agg(avg(col("probed"))).head().getDouble(0)
    perQuery / n
  }
}
