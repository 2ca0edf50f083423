package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.core.Scratch

/** A standing index: a handle over committed tx-table roots that serves
  * queries without rescanning the corpus — the full-text postings
  * ([[TextIndex]]) or the IVF vector postings ([[VectorIndex]]). The
  * handle is immutable: a rebuild returns a new handle under fresh
  * roots, so a reader holding the old one keeps a consistent snapshot. */
trait StandingIndex {
  def family: StandingIndex.Family[_ <: StandingIndex]
  /** The postings root; the manifest beside it names every other root. */
  def postings: String
}

/** The one lifecycle every standing index shares:
  *  - one registry keyed by (corpus dir, family), get-or-build through
  *    `computeIfAbsent` ([[ensure]]), so concurrent callers on a cold
  *    dir run one build and get the same handle;
  *  - one manifest beside the postings, naming the family and the
  *    companion roots, written atomically;
  *  - one loader ([[load]]) that rebuilds a handle from that manifest —
  *    the cold-session path;
  *  - one streamed driver ([[tail]]) that commits late rows one file per
  *    micro-batch through the family's commit function.
  * Each family builds, commits and serves its own layout. The registry is
  * process-scoped (README "swap points"): a deployment pins the tx tables
  * at real paths and it becomes a catalog lookup; the serving plan is
  * unchanged by that swap. */
object StandingIndex {

  /** One index family. `name` is the family string stamped into the
    * manifest and the registry key. */
  trait Family[I <: StandingIndex] {
    def name: String
    /** Build a fresh index over corpus `dir`; returns it unregistered. */
    private[graft] def build(spark: SparkSession, dir: String): I
    /** The handle manifest `m` at postings `root` describes. */
    private[graft] def fromManifest(spark: SparkSession, root: String,
        m: Map[String, String]): I
  }

  // ----------------------------------------------------------------
  // Registry and loader
  // ----------------------------------------------------------------

  private val standing =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StandingIndex]()

  /** Get-or-build `family`'s standing index over corpus `dir`. The build
    * runs inside `computeIfAbsent`, so it must not touch the registry:
    * every `build` returns its handle unregistered. */
  def ensure[I <: StandingIndex](spark: SparkSession, dir: String,
      family: Family[I]): I =
    standing.computeIfAbsent((dir, family.name), _ => family.build(spark, dir))
      .asInstanceOf[I]

  /** Builds fresh and registers (last build wins) — the build queries and
    * the streamed full lifecycles. */
  private[graft] def rebuild[I <: StandingIndex](spark: SparkSession, dir: String,
      family: Family[I]): I =
    register(dir, family.build(spark, dir))

  private def register[I <: StandingIndex](dir: String, idx: I): I = {
    standing.put((dir, idx.family.name), idx)
    idx
  }

  private[graft] def registered[I <: StandingIndex](dir: String,
      family: Family[I]): Option[I] =
    Option(standing.get((dir, family.name))).map(_.asInstanceOf[I])

  /** Test hook: forget every registration for `dir` (the cold session
    * [[load]] exists for) without touching disk. */
  private[graft] def dropForTest(dir: String): Unit = {
    standing.keySet.removeIf(_._1 == dir)
    ()
  }

  /** Reconstruct (and register) a standing handle from the manifest at
    * `root` alone — the cold-session path: a fresh JVM that knows only
    * where the postings live gets back the handle the building session
    * held, companion roots included, instead of silently rebuilding.
    * Fails with [[IndexManifestError]] on a missing or torn manifest, or
    * on another family's root (a PQ manifest also has a `centroids` key;
    * without the family guard its code-carrying postings would load as
    * exact ones).
    *
    * Lifetime caveat: in-repo builds write under [[Scratch]] roots,
    * which a clean JVM exit deletes, so the specs simulate the cold
    * session with [[dropForTest]]; a deployment pins its roots at
    * durable paths and the loader survives any restart. */
  def load[I <: StandingIndex](spark: SparkSession, dir: String,
      family: Family[I], root: String): I = {
    val m = readIndexManifest(root)
    requireFamily(m, root, family.name)
    register(dir, family.fromManifest(spark, root, m))
  }

  // ----------------------------------------------------------------
  // Manifest
  // ----------------------------------------------------------------

  /** A standing index's layout IS the durable artifact, not JVM
    * state: every companion-table root is written to a manifest file
    * inside the postings root (underscore-prefixed — invisible to
    * Spark's readers, like the tx log itself), so a session that holds
    * only the postings path can reconstruct the full handle ([[load]]). */
  private val IndexManifest = "_graft_index_manifest"

  /** A manifest that cannot be loaded — missing file (not an index
    * root, or a pre-manifest build) or a torn/partial write missing a
    * required key. Typed and named so a cold-session loader fails with
    * the index root in hand instead of a bare NoSuchElementException. */
  final class IndexManifestError(val root: String, detail: String)
    extends RuntimeException(s"index manifest at $root: $detail")

  /** Written atomically (temp + rename in the same directory): a crash
    * mid-write leaves either the previous manifest or none — never a
    * half-written file a loader would misread as a torn index. */
  private[graft] def writeIndexManifest(postingsRoot: String,
      entries: (String, String)*): Unit = {
    val root = java.nio.file.Paths.get(postingsRoot)
    val tmp = root.resolve(IndexManifest + ".tmp")
    val fin = root.resolve(IndexManifest)
    val body = entries.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, fin,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def readIndexManifest(postingsRoot: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(postingsRoot, IndexManifest)
    if (!java.nio.file.Files.exists(p))
      throw new IndexManifestError(postingsRoot,
        "manifest file missing — not an index root, or a build that predates manifests")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala
      .filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** Required-key lookup with the typed torn-manifest failure. */
  private[graft] def manifestKey(m: Map[String, String], root: String,
      key: String): String =
    m.getOrElse(key, throw new IndexManifestError(root,
      s"required key '$key' missing (torn or partial manifest; " +
        s"keys present: ${m.keys.toSeq.sorted.mkString(", ")})"))

  /** Family guard for the loader: loading the WRONG family's postings
    * root must fail typed, not construct a structurally mismatched
    * handle. Every builder stamps its family into the manifest. Lenient
    * when the key is absent (pre-r14 layouts). */
  private def requireFamily(m: Map[String, String], root: String,
      expected: String): Unit =
    m.get("family").filter(_ != expected).foreach { got =>
      throw new IndexManifestError(root,
        s"family mismatch: manifest says '$got', loader expects '$expected'")
    }

  // ----------------------------------------------------------------
  // Streamed driver
  // ----------------------------------------------------------------

  /** The streamed maintenance every `#stream` family shares, run after
    * its seed commit: the `late` rows land as `files` files of `format`
    * (the reference's per-uploaded-file transport,
    * `Send_Data_To_DataLake/main.py:64`), a stream tails that directory
    * one file per micro-batch, and `commit` applies each batch under its
    * batch id — an idempotent commit makes a redelivered batch a no-op.
    * Returns when every file is committed (AvailableNow). */
  private[graft] def tail(spark: SparkSession, tag: String, late: DataFrame,
      format: String, files: Int, schema: String)(
      commit: (DataFrame, Long) => Unit): Unit = {
    val src = Scratch.fresh(s"${tag}_late_src")
    late.repartition(files).write.mode("overwrite").format(format).save(src)
    spark.readStream
      .schema(StructType.fromDDL(schema))
      .option("maxFilesPerTrigger", 1)
      .format(format)
      .load(src)
      .writeStream
      .foreachBatch(commit)
      .option("checkpointLocation", Scratch.fresh(s"${tag}_late_chk"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}
