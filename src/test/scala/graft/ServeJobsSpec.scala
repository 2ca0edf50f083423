package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.lake.{Lake, TxTable}
import graft.operators.{Similarity, StandingIndex, TextAnalysis, VectorIndex}

/** Warm Spark-job counts of the standing-index serves and the Bloom
  * point reads: the probe list is ranked and collected once and scored
  * from a local relation, Bloom positions are computed without a job,
  * and a trained quantizer's broadcast bound comes with the handle. Each
  * changed codec's indexed answer still equals its unindexed twin's. */
class ServeJobsSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread (and threads it spawns). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.serve"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) != null))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "on")
    try {
      body
      ListenerBusDrain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Jobs of one warm serve-and-collect: the index is built and the
    * paths warmed by a first call. */
  private def warmJobs(name: String)(serve: => DataFrame): Int = {
    serve.collect()
    val n = jobsOf(serve.collect())
    info(s"$name: $n jobs")
    n
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def answer(df: DataFrame): Seq[Row] =
    df.select(col("qid"), col("nid"), col("cos_e6"), col("rn")).collect().toSeq

  test("the indexed √N ANN serve probes once and equals annIvfSqrtK") {
    assert(warmJobs("annIndexedSqrt")(Similarity.annIndexedSqrt(spark, sf)) <= 10)
    assert(answer(Similarity.annIndexedSqrt(spark, sf)) ===
      answer(Similarity.annIvfSqrtK(spark, sf)))
  }

  test("the label-cell and filtered serves probe once") {
    assert(warmJobs("sim_ann_indexed")(query("sim_ann_indexed")) <= 10)
    assert(query("sim_ann_indexed").collect().toSeq ===
      Similarity.annIvfMultiprobe(spark, sf).collect().toSeq)
    assert(warmJobs("sim_ann_filtered")(query("sim_ann_filtered")) <= 10)
  }

  test("the SQ8 and PQ serves probe once; a lossless cut equals annIvfSqrtK") {
    assert(warmJobs("sim_ann_ivfsq8")(query("sim_ann_ivfsq8")) <= 11)
    assert(warmJobs("sim_ann_ivfpq")(query("sim_ann_ivfpq")) <= 14)
    // candK ≥ every probed population: the rerank ranks all probed
    // members by exact cosine, with the query vector from the probe rows
    val n = graft.core.Tables(spark, sf).embeddings.count().toInt
    val plain = answer(Similarity.annIvfSqrtK(spark, sf))
    def lossless(family: VectorIndex.Family): DataFrame = VectorIndex.serve(spark, sf,
      StandingIndex.ensure(spark, sf, family), candK = Some(n))
    assert(answer(lossless(VectorIndex.Sq8Sqrt)) === plain)
    assert(answer(lossless(VectorIndex.PqSqrt)) === plain)
  }

  test("indexed BM25 runs two jobs") {
    assert(warmJobs("bm25Indexed")(TextAnalysis.bm25Indexed(spark, sf)) <= 2)
  }

  test("a cold-loaded handle carries the bound the build pinned") {
    val built = StandingIndex.ensure(spark, sf, VectorIndex.Sqrt)
    assert(built.bounded)
    StandingIndex.dropForTest(sf)
    var loaded: VectorIndex = null
    assert(jobsOf { loaded = StandingIndex.load(spark, sf, VectorIndex.Sqrt, built.postings) } == 0,
      "the bound is read from the manifest, not counted at load")
    assert(loaded === built)
    // a manifest without the bound is torn: the loader fails typed
    val m = StandingIndex.readIndexManifest(built.postings)
    StandingIndex.writeIndexManifest(built.postings, m.toSeq.filter(_._1 != "bounded"): _*)
    try {
      StandingIndex.dropForTest(sf)
      val e = intercept[StandingIndex.IndexManifestError](
        StandingIndex.load(spark, sf, VectorIndex.Sqrt, built.postings))
      assert(e.getMessage.contains("'bounded'"))
    } finally StandingIndex.writeIndexManifest(built.postings, m.toSeq: _*)
  }

  test("a cold-loaded SQ8 handle carries the range the build pinned") {
    val built = StandingIndex.ensure(spark, sf, VectorIndex.Sq8Sqrt)
    StandingIndex.dropForTest(sf)
    var loaded: VectorIndex = null
    assert(jobsOf { loaded = StandingIndex.load(spark, sf, VectorIndex.Sq8Sqrt, built.postings) } == 0,
      "the range is read from the manifest, not from its table")
    assert(loaded === built)
    // a manifest without either end of the range is torn: the loader fails typed
    val m = StandingIndex.readIndexManifest(built.postings)
    try for (end <- Seq("mn", "mx")) {
      StandingIndex.writeIndexManifest(built.postings, m.toSeq.filter(_._1 != end): _*)
      StandingIndex.dropForTest(sf)
      val e = intercept[StandingIndex.IndexManifestError](
        StandingIndex.load(spark, sf, VectorIndex.Sq8Sqrt, built.postings))
      assert(e.getMessage.contains(s"'$end'"))
    } finally StandingIndex.writeIndexManifest(built.postings, m.toSeq: _*)
  }

  test("the streamed FTS lifecycle reads each late batch once") {
    graft.streaming.StreamFts.streamFtsServe(spark, sf).collect()
    val n = jobsOf(graft.streaming.StreamFts.streamFtsServe(spark, sf).collect())
    info(s"streamFtsServe: $n jobs")
    assert(n <= 20)
  }

  test("a late batch commits the stats corpusStats computes, also empty or " +
      "redelivered after its postings") {
    def tables() = {
      val root = tempDir("graft-serve-late").toString
      (TxTable(spark, s"$root/postings"), TxTable(spark, s"$root/stats"))
    }
    val docs = Seq((1L, "a b a"), (2L, ""), (3L, "c")).toDF("doc_id", "text")
    val empty = docs.filter(col("doc_id") < 0)
    def want(batch: DataFrame): Seq[Row] =
      TextAnalysis.corpusStats(TextAnalysis.tokenized(batch)).collect().toSeq
    def stats(st: TxTable): Seq[Row] =
      st.read().select("n_docs", "t_toks").collect().toSeq
    for (batch <- Seq(docs, empty)) {
      val (idx, st) = tables()
      val n = jobsOf(graft.streaming.StreamFts.commitLate(idx, st)(batch, 0L))
      info(s"commitLate: $n jobs")
      assert(n <= 3)
      assert(stats(st) === want(batch))
    }
    // the postings committed before a crash: the redelivery commits the
    // stats alone, from a read of the batch
    val (idx, st) = tables()
    idx.appendBatchIdempotent(TextAnalysis.postingsOf(TextAnalysis.tokenized(docs)), 0L,
      bloomCols = Seq("tok"))
    val files = idx.latest().get.files
    graft.streaming.StreamFts.commitLate(idx, st)(docs, 0L)
    assert(idx.latest().get.files === files)
    assert(stats(st) === want(docs))
  }

  /** 300 keys over three commits: bitmaps of 1,024 bits on the first
    * two files, 4,096 on the third. */
  private def twoSizes(): TxTable = {
    val t = Lake(spark, tempDir("graft-serve-jobs").toString).txTable("refine", "k")
    t.append((0L until 100L).toDF("k").coalesce(1), bloomCols = Seq("k"), bloomBits = 1024)
    t.append((100L until 200L).toDF("k").coalesce(1), bloomCols = Seq("k"), bloomBits = 1024)
    t.append((200L until 300L).toDF("k").coalesce(1), bloomCols = Seq("k"), bloomBits = 4096)
    t
  }

  test("Bloom probes start no job; a point lookup runs one") {
    val t = twoSizes()
    val snap = t.latest().get
    assert(jobsOf(t.bloomLiveEntries(snap, "k", lit(7L))) == 0)
    assert(jobsOf(t.readWhereIn("k", Seq(lit(7L), lit(250L)))) == 0)
    val n = jobsOf(assert(t.readWhereEq("k", lit(7L)).collect().toSeq == Seq(Row(7L))))
    info(s"readWhereEq: $n jobs")
    assert(n <= 1)
  }

  test("readWhereIn over two bitmap sizes reads exactly the files whose " +
      "bitmaps hold a probe") {
    val t = twoSizes()
    val snap = t.latest().get
    // reference: every probe bit of every value per file, each position
    // evaluated by its own Spark job over the write side's expression
    def holds(e: String, v: Long): Boolean = t.entryBlooms(e).get("k").forall { w =>
      (1 to 4).forall { seed =>
        val p = spark.range(1).select(pmod(xxhash64(lit(v).cast("string"), lit(seed)),
          lit(w.length * 64L))).head().getLong(0).toInt
        ((w(p / 64) >>> (p % 64)) & 1L) == 1L
      }
    }
    for (probe <- Seq(Seq(7L), Seq(150L, 250L), Seq(7L, 299L, 1000L), Seq(-5L))) {
      val want = snap.files.filter(e => probe.exists(holds(e, _))).map(t.entryName)
      val df = t.readWhereIn("k", probe.map(lit))
      assert(df.inputFiles.map(_.split('/').last).toSet === want.map(_.split('/').last).toSet,
        s"probe $probe")
      assert(probe.flatMap(v => t.bloomLiveEntries(snap, "k", lit(v))).distinct.toSet ===
        snap.files.filter(e => probe.exists(holds(e, _))).toSet)
      assert(df.as[Long].collect().sorted.toSeq === probe.filter(v => v >= 0 && v < 300).sorted)
    }
  }
}
