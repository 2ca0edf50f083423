package lifebench

import java.io.File
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.lake.TxTable
import graft.operators.{Similarity, TextAnalysis}

/** Transactional zone tables under churn: commits beside snapshot
  * reads. Set-up commits a seeded history of `Gen.HistoryBatches` small
  * idempotent batches to an event table, once, as a template, and builds
  * the standing FTS and √N-cell IVF indexes (themselves `TxTable`s,
  * built by the program's own index builds) over a seeded corpus. Each
  * round copies the template and runs one fixed rotation on the copy:
  * fresh-batch commits, Bloom point lookups, a stats-pruned range read,
  * an indexed BM25 search and an ANN query (both `readWhereIn` reads of
  * the index tables), a redelivered batch and a compaction. The copy
  * makes every op see the same log depth however many rounds ran before
  * it, and the depth makes the commit path pay the log scan that
  * checkpoints would remove. */
final class Churn(r: Run) extends Workload {
  import r.spark

  val slots = Seq("commit", "lookup", "ann")


  /** Mean recall@k an ANN answer must reach against the exact top-k.
    * Recall depends on the seed's corpus: over seeds 1..40 it read 0.62
    * to 0.94 (median 0.84), so a broken index, not an unlucky seed,
    * falls below this. */
  val RecallFloor = 0.5

  private val History = Gen.HistoryBatches

  private val statsCols = Seq("ts")
  private val bloomCols = Seq("ev_key")

  private val Gen.ChurnPicks(lookupIds, rangeLo, replayBatch) = Gen.churnPicks(r.seed)
  private val terms = Gen.terms(r.seed)
  // fixed, so an ANN query does the same work for every seed
  private val annK = 10
  private val annProbes = 3

  private val template = new File(r.state, "tx/template")
  private val live = new File(r.state, "tx/live")
  private val batches = (0 until History + 3).map(b => b.toLong -> batch(b)).toMap
  /** Rows of the table after a round's three commits. */
  private val roundRows = Gen.historyRows + 3L * Gen.BatchRows

  private val corpus = r.dir("corpus").getPath
  spark.createDataFrame(Gen.documents(r.seed).asJava, Gen.documentsSchema)
    .coalesce(1).write.parquet(s"$corpus/documents.parquet")
  spark.createDataFrame(Gen.embeddings(r.seed).asJava, Gen.embeddingsSchema)
    .coalesce(1).write.parquet(s"$corpus/embeddings.parquet")

  /** One batch as the single-file frame a micro-batch commit writes. */
  private def batch(b: Long): DataFrame =
    spark.createDataFrame(Gen.batch(r.seed, b).asJava, Gen.batchSchema).coalesce(1)

  private def commit(tx: TxTable, b: Long): Option[Long] =
    tx.appendBatchIdempotent(batches(b), b, statsCols = statsCols, bloomCols = bloomCols)

  private def seconds[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e9)
  }

  def setup(): Map[String, Double] = {
    val tx = TxTable(spark, template.getPath)
    val (versions, historyS) = seconds((0 until History).map(b => commit(tx, b.toLong)))
    r.require(versions == (0 until History).map(v => Some(v.toLong)), s"history versions $versions")
    val (fts, ftsS) = seconds(TextAnalysis.ftsBuild(spark, corpus).collect())
    r.require(fts.head.getAs[Long]("n_docs") == Gen.Docs, s"fts summary ${fts.head}")
    val (ivf, ivfS) = seconds(Similarity.ivfBuildSqrt(spark, corpus).collect())
    r.require(ivf.head.getAs[Long]("n_vecs") == Gen.Vecs, s"ivf summary ${ivf.head}")
    Map("setup.history_s" -> historyS, "setup.fts_build_s" -> ftsS, "setup.ivf_build_s" -> ivfS)
  }

  private var bm25Ref: Seq[Row] = Nil
  private var exact: Map[Long, Seq[Long]] = Map.empty

  override def prepare(): Unit = {
    val n = TxTable(spark, template.getPath).read().count()
    r.require(n == Gen.historyRows, s"history rows $n")
    bm25Ref = TextAnalysis.bm25Search(spark, corpus, terms, 10).collect().toSeq
    // exact cosine top-k of the five query vectors, same kernel as the index
    val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("q"))
    exact = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.CosineSimQ.cosineSimE6(col("q"), col("embedding")).as("c"))
      .collect().groupBy(_.getLong(0)).map { case (qid, xs) =>
        qid -> xs.sortBy(x => (-x.getLong(2), x.getLong(1))).take(annK).map(_.getLong(1)).toSeq
      }
    r.require(exact.size == 5, s"exact top-k for ${exact.size} queries")
  }

  // traced-only observations: files each read scans, and log probes
  private val filesRead = scala.collection.mutable.Map.empty[String, Seq[Int]].withDefaultValue(Nil)
  private var probes = Map.empty[String, Double]
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def scanned(kind: String, df: DataFrame, txData: Boolean = false): Unit =
    if (r.tracer.enabled) filesRead(kind) :+=
      df.inputFiles.count(f => !txData || f.contains("/data/"))

  /** Median of five direct `committedBatches()` scans at the log's
    * current depth; `once` keeps the first traced round's reading, else
    * the last one's stands. */
  private def probeBatches(tx: TxTable, at: String, once: Boolean): Unit =
    if (r.tracer.enabled && !(once && probes.contains(at))) {
      val ms = (0 until 5).map(_ => seconds(tx.committedBatches())._2 * 1000)
      probes += at -> Stats.median(ms)
    }

  def round(measuring: Boolean): Unit = rotation(measuring, writes = true)

  /** Set-up already ran the commit path 48 times; one pass of the
    * rotation's reads warms the rest. */
  def warmup(): Unit = rotation(measuring = false, writes = false)

  private def rotation(measuring: Boolean, writes: Boolean): Unit = {
    FileUtils.deleteDirectory(live)
    FileUtils.copyDirectory(template, live)
    val tx = TxTable(spark, live.getPath)
    if (measuring) probeBatches(tx, "start", once = true)
    def doCommit(b: Long): Unit = if (writes) r.step(measuring) {
      val v = r.timed("commit", measuring)(r.tracer.span("lake.tx.commit")(commit(tx, b)))
      r.check(v.contains(b), s"commit of batch $b returned $v")
    }
    def doLookup(id: Long): Unit = r.step(measuring) {
      val want = Gen.event(r.seed, id)
      val (df, rows) = r.timed("lookup", measuring)(r.tracer.span("lake.tx.lookup") {
        val df = tx.readWhereEq("ev_key", lit(want.getLong(1)))
        (df, df.collect().toSeq)
      })
      r.check(rows == Seq(want), s"lookup of key ${want.getLong(1)}: $rows")
      scanned("lookup", df)
    }
    // commits and lookups first: an op that follows the ANN query runs
    // about a quarter slower, so no commit or lookup does
    for (k <- 0 until 3) {
      doCommit(History + k)
      doLookup(lookupIds(2 * k))
      doLookup(lookupIds(2 * k + 1))
    }
    r.step(measuring) {
      val hi = rangeLo + Gen.RangeRows - 1
      val (df, ids) = r.timed("range", measuring)(r.tracer.span("lake.tx.range") {
        val df = tx.readWhere("ts", rangeLo, hi)
        (df, df.select("id").collect().map(_.getLong(0)).sorted.toSeq)
      })
      r.check(ids == (rangeLo to hi), s"range [$rangeLo, $hi] returned ${ids.size} rows")
      scanned("range", df)
    }
    r.step(measuring) {
      val (df, got) = r.timed("bm25", measuring)(r.tracer.span("operators.text.bm25") {
        val df = TextAnalysis.bm25Indexed(spark, corpus, terms, 10)
        (df, df.collect().toSeq)
      })
      r.check(got == bm25Ref, s"bm25Indexed $terms differs from bm25Search")
      scanned("query", df, txData = true)
    }
    r.step(measuring) {
      val (df, got) = r.timed("ann", measuring)(r.tracer.span("operators.sim.ann") {
        val df = Similarity.annIndexedSqrt(spark, corpus, annK, annProbes)
        (df, df.collect().toSeq)
      })
      val byQ = got.groupBy(_.getAs[Long]("qid")).map { case (q, xs) => q -> xs.map(_.getAs[Long]("nid")) }
      val recall = Stats.mean(exact.toSeq.map { case (q, truth) =>
        byQ.getOrElse(q, Nil).intersect(truth).size.toDouble / annK
      })
      r.check(recall >= RecallFloor, s"ann k=$annK nprobe=$annProbes recall $recall < $RecallFloor")
      if (measuring) recalls += recall
      scanned("query", df, txData = true)
    }
    if (writes) r.step(measuring) {
      val v = r.timed("replay", measuring)(r.tracer.span("lake.tx.replay")(commit(tx, replayBatch)))
      r.check(v.isEmpty, s"redelivered batch $replayBatch committed as $v")
    }
    if (measuring) {
      probeBatches(tx, "end", once = false)
      if (r.tracer.enabled && !probes.contains("log"))
        probes += "log" -> FileUtils.sizeOfDirectory(new File(live, "_log")).toDouble / (History + 3)
    }
    if (writes) r.step(measuring) {
      r.timed("compact", measuring)(r.tracer.span("lake.tx.compact") {
        tx.compact(4, statsCols = statsCols, bloomCols = bloomCols)
      })
      val n = tx.read().count()
      r.check(n == roundRows, s"snapshot rows $n after compaction")
    }
  }

  def layers(t: Tracer): Map[String, Double] = {
    def traced(name: String) = t.named(name).filter(_.op >= 0)
    def jobsPer(name: String) =
      Stats.ratio(traced(name).map(t.jobsUnder(_).size).sum, traced(name).size)
    val compacts = traced("lake.tx.compact")
    val lookups = filesRead("lookup")
    val queries = traced("operators.text.bm25") ++ traced("operators.sim.ann")
    val queryCpuMs = queries.flatMap(t.jobsUnder).map(_.c.cpuNs).sum / 1e6
    Map(
      "lake.tx.jobs_per_commit" -> jobsPer("lake.tx.commit"),
      "lake.tx.committed_batches_ms_start" -> probes.getOrElse("start", 0.0),
      "lake.tx.committed_batches_ms_end" -> probes.getOrElse("end", 0.0),
      "lake.tx.log_bytes_per_version" -> probes.getOrElse("log", 0.0),
      "lake.tx.replay_ms" -> Stats.median(traced("lake.tx.replay").map(_.ms)),
      "lake.tx.compact_ms" -> Stats.median(compacts.map(_.ms)),
      "lake.tx.compact_bytes_rewritten" ->
        Stats.ratio(compacts.flatMap(t.jobsUnder).map(_.c.outBytes).sum, compacts.size),
      "lake.tx.files_read_per_lookup" -> Stats.mean(lookups.map(_.toDouble)),
      // every key lives in exactly one file: each batch commits one file
      "lake.tx.bloom_precision" -> Stats.ratio(lookups.size, lookups.sum),
      "lake.tx.files_read_per_range" -> Stats.mean(filesRead("range").map(_.toDouble)),
      "lake.tx.files_read_per_query" -> Stats.mean(filesRead("query").map(_.toDouble)),
      "lake.tx.lookup_p90_ms" -> Stats.quantile(r.samples.getOrElse("lookup", Nil).toSeq, 0.9),
      "operators.text.jobs_per_query" -> jobsPer("operators.text.bm25"),
      "operators.text.bm25_ms" -> Stats.median(traced("operators.text.bm25").map(_.ms)),
      "operators.sim.jobs_per_query" -> jobsPer("operators.sim.ann"),
      "operators.sim.ann_ms" -> Stats.median(traced("operators.sim.ann").map(_.ms)),
      "operators.sim.ann_p90_ms" -> Stats.quantile(r.samples.getOrElse("ann", Nil).toSeq, 0.9),
      "operators.sim.recall_at_k" -> Stats.mean(recalls.toSeq),
      "serve.driver_share" -> (1 - Stats.ratio(queryCpuMs, queries.map(_.ms).sum * r.cores)))
  }
}
