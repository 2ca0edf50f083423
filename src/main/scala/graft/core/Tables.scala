package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * One parquet file per table under `dir`. All reads are plain columnar
  * scans — Catalyst pushes filters/projections into the parquet reader,
  * so callers should NOT cache or materialize these eagerly. Each
  * table's parquet schema is inferred once per session and file set
  * ([[Tables.schemaOf]]), not once per read.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Tables.schemaOf(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** `documents`, re-spread to the session's parallelism before an
    * expansion-heavy consumer (shingle / substring-window / PassJoin
    * segment explodes multiply rows 100–300× per doc). Scan
    * parallelism follows input SPLITS (`files.maxPartitionBytes`) —
    * right for plain scans, but it starves a CPU-bound expansion when
    * the corpus arrives in few files: the 100× decade replica is ONE
    * 71 MB parquet file = one split, and `dedup_substring`'s entire
    * 130M-row window table was generated and map-side aggregated by a
    * single task (measured 835 s; the same stage spread 32-wide is
    * bounded by the shuffle, not the explode). The exchange moved here
    * shuffles only the compact source rows — bytes = corpus size —
    * and is the same rebalance a multi-thousand-file 100 TB corpus
    * wants against skewed file sizes. Same plan lesson as the
    * PassJoin verify barrier (BASELINE.md r8): a stage's parallelism
    * must be owned by its CPU cost, not its input bytes. */
  def documentsSpread: DataFrame = documents
    .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  /** [[documentsSpread]]'s embedding-table twin (the FIFTH sighting of
    * the single-input-split lesson, caught by the r11 x100 sweep): the
    * embeddings table is one parquet file well under
    * `files.maxPartitionBytes`, so Spark scans it as ONE split — and
    * every kernel that multiplies rows AFTER the scan in the same
    * stage (the N·k argmin crossJoin, the N·d posexplode quantize, the
    * N·d·8 PQ sub-distance expansion) inherits that single task. At
    * x100 the argmin kernel's partial `min_by` sort-aggregated all
    * N·k ≈ 89M scored rows on one core while 15 sat idle. One
    * corpus-embedding-sized exchange here buys session-wide
    * parallelism for every downstream expansion. */
  def embeddingsSpread: DataFrame = embeddings
    .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))

  /** `events.ts` is written as parquet timestamp[ns] (no TZ). With
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * [[Sessions]]) it reads as LongType nanos; convert to a proper
    * TimestampType (sub-microsecond digits are zero in this data, and
    * DuckDB's micros-precision oracle sees identical values).
    */
  def events: DataFrame = {
    val raw = table("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: double division loses precision at
        // epoch-nanos magnitude (1.7e18 >> 2^53) and lands ±1 µs off.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schemas by session, then by table path, each with the
    * listing it was inferred from. Inference reads parquet footers in a
    * Spark job of its own; a plain `spark.read.parquet` pays it on every
    * read. The listing is the driver-side (name, size, mtime) of the
    * table's files: a table rewritten in place re-infers on its next read
    * and replaces its entry. Weak in the session: a stopped session's
    * entries go with it. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]]()

  /** The schema `spark.read.parquet(path)` infers, memoized per session
    * and path while the path's file listing stays the same; None when
    * `path` does not exist (the read then fails as it always did). */
  private[core] def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = fs.listFiles(p, true)
      val listing = Seq.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        listing += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val now = listing.result()
      val bySession = schemas.synchronized(
        schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap()))
      Some(bySession.compute(path, (_, seen) =>
        if (seen != null && seen._1 == now) seen
        else (now, spark.read.parquet(path).schema))._2)
    }
  }
}
