package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Similarity, StandingIndex, TextAnalysis, TextIndex, VectorIndex}
import graft.operators.VectorIndex._
import graft.streaming.{StreamFts, StreamVector}

/** Cold-session lifecycle for EVERY standing index family (VERDICT r13
  * task 4): build, forget the JVM registration, reload the handle from
  * the on-disk manifest alone, serve — same answer, and the serve
  * reads the standing layout (the loaded postings root appears in the
  * executed plan) instead of silently rebuilding. Every family, text
  * and vector, goes through the one loader, `StandingIndex.load`.
  *
  * Plus the torn-manifest contract (task 8): manifests are written
  * atomically (temp + rename), and a missing file or missing required
  * key fails with a typed error NAMING the index root — never a bare
  * NoSuchElementException. */
class ColdLoadSpec extends SparkSpec with TempDirs {
  private val sf = "/root/testdata/sf0.001"

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def baseName(p: String): String =
    java.nio.file.Paths.get(p).getFileName.toString

  /** Shared drive: build via `ensure`, serve, drop every registration,
    * reload from the postings root, assert handle + answer identity
    * and that the served plan reads the loaded postings, not the
    * document corpus. */
  private def roundTrip[I <: StandingIndex](family: StandingIndex.Family[I],
      serve: () => DataFrame): Unit = {
    val built = StandingIndex.ensure(spark, sf, family)
    val before = sorted(serve())
    StandingIndex.dropForTest(sf)
    val loaded = StandingIndex.load(spark, sf, family, built.postings)
    assert(loaded === built, "manifest round-trip changed the handle")
    // the SQ8 range the handle carries is the one its pinned table holds
    loaded match {
      case v: VectorIndex => v.codec match {
        case Sq8(stats, mn, mx) =>
          val r = graft.lake.TxTable(spark, stats).read().head()
          assert((mn, mx) === ((r.getAs[Long]("mn"), r.getAs[Long]("mx"))),
            "the handle's SQ8 range is not its pinned table's")
        case _ =>
      }
      case _ =>
    }
    val after = serve()
    assert(sorted(after) === before, "cold-loaded serve changed the answer")
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains(baseName(built.postings)),
      s"cold-loaded serve does not read the standing postings:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"cold-loaded serve re-scans the document corpus:\n$plan")
  }

  test("exact-k IVF: cold load serves the standing index") {
    roundTrip(Ivf, () => Similarity.annIndexed(spark, sf))
  }

  test("sample-trained IVF: cold load serves the standing index") {
    roundTrip(Sample, () => Similarity.annIndexedSample(spark, sf))
  }

  test("IVF-SQ8: cold load serves the standing index") {
    roundTrip(Sq8Sqrt, () => Similarity.annIvfSq8(spark, sf))
  }

  test("sample-trained IVF-SQ8: cold load serves the standing index") {
    roundTrip(Sq8Sample, () => Similarity.annIvfSq8Sample(spark, sf))
  }

  test("IVF-PQ: cold load serves the standing index") {
    roundTrip(PqSqrt, () => Similarity.annIvfPq(spark, sf))
  }

  test("sample-trained IVF-PQ: cold load serves the standing index") {
    roundTrip(PqSample, () => Similarity.annIvfPqSample(spark, sf))
  }

  test("streamed SQ8 snapshot: cold load serves without re-streaming") {
    roundTrip(Sq8Stream, () => StreamVector.serveOnly(spark, sf, Sq8Stream))
  }

  test("streamed PQ snapshot: cold load serves without re-streaming") {
    roundTrip(PqStream, () => StreamVector.serveOnly(spark, sf, PqStream))
  }

  test("FTS: cold load serves the standing postings, no corpus re-tokenize") {
    roundTrip(TextIndex.Fts, () => TextAnalysis.bm25Indexed(spark, sf))
  }

  test("streamed exact-IVF snapshot: cold load serves without re-streaming") {
    roundTrip(IvfStream, () => StreamVector.serveOnly(spark, sf, IvfStream))
  }

  test("streamed FTS snapshot: cold load serves without re-streaming") {
    roundTrip(TextIndex.FtsStream, () => StreamFts.streamFtsServeOnly(spark, sf))
  }

  /** Mid-churn cold load (VERDICT r14 stretch task 7): the plain
    * round-trips above reload a freshly-streamed snapshot; a real
    * restart lands on a table that has since been COMPACTED (every
    * postings file rewritten under a new commit) and that carries a
    * redelivered micro-batch marker in a superseded manifest. The
    * reloaded handle must (a) still suppress the redelivered batch —
    * markers live in kept superseded manifests, so compaction must not
    * lose them — and (b) serve the identical answer the in-process
    * handle gives over the churned layout. */
  private def churnTrip[I <: StandingIndex](family: StandingIndex.Family[I],
      clusterCol: String, serve: () => DataFrame): Unit = {
    import graft.lake.TxTable
    val built = StandingIndex.ensure(spark, sf, family)
    val tx = TxTable(spark, built.postings)
    tx.compact(targetFiles = 2, bloomCols = Seq(clusterCol),
      clusterBy = Seq(clusterCol))
    // batch 0 committed during the original stream; its redelivery
    // must find the marker ACROSS the compaction commit and be a no-op
    val redelivered = tx.appendBatchIdempotent(tx.read().limit(1),
      batchId = 0L, bloomCols = Seq(clusterCol))
    assert(redelivered.isEmpty,
      "redelivered batch marker was lost across compaction")
    val before = sorted(serve())
    StandingIndex.dropForTest(sf)
    val loaded = StandingIndex.load(spark, sf, family, built.postings)
    assert(loaded === built, "mid-churn reload changed the handle")
    val after = serve()
    assert(sorted(after) === before,
      "mid-churn cold-loaded serve changed the answer")
    // the post-load serve goes through an ensure, which would
    // silently re-stream a fresh deterministic snapshot if the loader
    // ever stopped registering the handle — and the answer-equality
    // assert above would pass vacuously; pin the plan to the BUILT
    // postings root, as the plain round-trip tests do (ADVICE r15)
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains(baseName(built.postings)),
      s"mid-churn cold-loaded serve does not read the built postings:\n$plan")
  }

  private def vectorChurnTrip(family: Family): Unit =
    churnTrip(family, "cell", () => StreamVector.serveOnly(spark, sf, family))

  test("streamed exact-IVF: mid-churn cold load (compaction + redelivery marker)") {
    vectorChurnTrip(IvfStream)
  }

  test("streamed SQ8: mid-churn cold load (compaction + redelivery marker)") {
    vectorChurnTrip(Sq8Stream)
  }

  test("streamed PQ: mid-churn cold load (compaction + redelivery marker)") {
    vectorChurnTrip(PqStream)
  }

  test("streamed FTS: mid-churn cold load (compaction + redelivery marker)") {
    churnTrip(TextIndex.FtsStream, "tok", () => StreamFts.streamFtsServeOnly(spark, sf))
  }

  test("missing manifest fails typed, naming the root") {
    val root = tempDir("graft-no-manifest")
    val e = intercept[StandingIndex.IndexManifestError] {
      StandingIndex.load(spark, sf, Ivf, root.toString)
    }
    assert(e.root === root.toString)
    assert(e.getMessage.contains(root.toString))
  }

  test("torn manifest (missing required key) fails typed, naming root and key") {
    val root = tempDir("graft-torn-manifest")
    // a partial write that lost the centroids line
    StandingIndex.writeIndexManifest(root.toString, "family" -> "ivf")
    val e = intercept[StandingIndex.IndexManifestError] {
      StandingIndex.load(spark, sf, Ivf, root.toString)
    }
    assert(e.root === root.toString)
    assert(e.getMessage.contains("centroids"))
    assert(e.getMessage.contains("family"),
      "error should list the keys that ARE present")
  }

  test("loading the wrong family's root fails typed, not mismatched") {
    // a PQ manifest HAS a 'centroids' key — without the family guard,
    // the loader would happily register code-carrying PQ postings as
    // an exact-k index and the next serve would read garbage
    val pq = StandingIndex.ensure(spark, sf, PqSqrt)
    val e = intercept[StandingIndex.IndexManifestError] {
      StandingIndex.load(spark, sf, Ivf, pq.postings)
    }
    assert(e.getMessage.contains("family mismatch"))
    assert(e.getMessage.contains("ivf_pq"))
    // text and vector roots share the one loader, and so its guard
    val fts = StandingIndex.ensure(spark, sf, TextIndex.Fts)
    val textAsVector = intercept[StandingIndex.IndexManifestError] {
      StandingIndex.load(spark, sf, Sqrt, fts.postings)
    }
    assert(textAsVector.getMessage.contains("family mismatch"))
    assert(textAsVector.getMessage.contains("'fts'"))
    val vectorAsText = intercept[StandingIndex.IndexManifestError] {
      StandingIndex.load(spark, sf, TextIndex.FtsStream, pq.postings)
    }
    assert(vectorAsText.getMessage.contains("family mismatch"))
  }

  test("manifest write is atomic: no temp residue, rewrite replaces") {
    val root = tempDir("graft-manifest-atomic")
    StandingIndex.writeIndexManifest(root.toString, "centroids" -> "/a")
    StandingIndex.writeIndexManifest(root.toString, "centroids" -> "/b")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(root).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(files === Seq("_graft_index_manifest"),
      s"unexpected residue in manifest dir: $files")
    val m = StandingIndex.readIndexManifest(root.toString)
    assert(m("centroids") === "/b")
  }
}
