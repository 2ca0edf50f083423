package graft.lake

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}
import scala.jdk.CollectionConverters._

/** Three-zone object lake (`raw` → `processed` → `refine`) over a
  * filesystem/S3A root, replacing the reference's MinIO connector
  * (`Preprocess_Json_Data/connectors/minio_connector.py`,
  * `config/minio_config.py:14-18`).
  *
  * Two storage forms per zone:
  * - **Parity JSON objects** (S1-S5): the reference's single-object
  *   array/wrapped layouts, for drop-in compatibility. These collect to
  *   the driver by design — the reference's outputs are one small JSON
  *   document per video; they are NOT the scale path.
  * - **Parquet zone tables**: partitioned columnar tables
  *   (`zone/domain/`, partitioned by source file), the path every
  *   100 TB-scale read/write takes (BASELINE.json north star).
  */
final case class Lake(spark: SparkSession, root: String) {

  def zonePath(zone: String, domain: String): String =
    s"$root/$zone/${domain}_detection"

  /** S1: multiLine PERMISSIVE JSON scan. With a known per-domain schema
    * ([[graft.schema.DomainSchemas]]) the inference pre-pass is skipped —
    * inference reads EVERY object once before the real scan, a 2× I/O
    * tax at lake scale (SURVEY §4.2 "skip inference") — and malformed
    * documents land whole in `_corrupt_record` instead of poisoning
    * the inferred shape. */
  def readJsonArray(path: String, schema: Option[StructType] = None): DataFrame = {
    val reader =
      spark.read.option("multiLine", true).option("mode", "PERMISSIVE")
    schema match {
      case Some(s) =>
        val withCorrupt =
          if (s.fieldNames.contains("_corrupt_record")) s
          else s.add("_corrupt_record", StringType)
        reader.schema(withCorrupt).json(path)
      case None => reader.json(path)
    }
  }

  /** S2: write a DataFrame as a single pretty JSON array object —
    * parity with `minio_connector.py:45-80` (small per-video documents
    * only; the reference collects these too). Returns the number of
    * rows written, so callers need no separate `count()` job. */
  def writeJsonArray(df: DataFrame, path: String): Int = {
    val rows = df.toJSON.collect()
    val body = rows.mkString("[\n", ",\n", "\n]")
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    rows.length
  }

  /** S3: wrapped-JSON sink — rows under a top-level key
    * (`minio_connector.py:82-112`). Returns the number of rows
    * written. */
  def writeWrappedJson(df: DataFrame, key: String, path: String): Int = {
    val rows = df.toJSON.collect()
    val body = rows.mkString(s"""{"$key": [""" + "\n", ",\n", "\n]}")
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    rows.length
  }

  /** Scale path: append to the partitioned parquet zone table. */
  def writeZoneTable(df: DataFrame, zone: String, domain: String,
      sourceFile: String): Unit =
    df.withColumn("_source_file", org.apache.spark.sql.functions.lit(sourceFile))
      .write.mode(SaveMode.Append)
      .partitionBy("_source_file")
      .parquet(zonePath(zone, domain))

  def readZoneTable(zone: String, domain: String): DataFrame =
    spark.read.parquet(zonePath(zone, domain))

  /** Compaction: rewrite a zone table's accumulated small per-ingest
    * files into `targetFiles` read-optimized files. Per-file ingest
    * (one upload per video, reference lifecycle §3.1) produces exactly
    * the small-file pathology that kills scan throughput at scale;
    * periodic compaction is the standard cure. The rewrite lands in a
    * staging directory first and swaps in atomically-enough for a
    * single-writer lake; multi-writer zones use [[txTable]], whose
    * manifest log makes compaction transactional against concurrent
    * ingest. Collapses the per-source partition layout; `_source_file`
    * lineage survives as a column. */
  def compact(zone: String, domain: String, targetFiles: Int): Unit = {
    val path = zonePath(zone, domain)
    val staging = path + "__compacting"
    val retired = path + "__retired"
    def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
    // recover from a prior crash: a stranded __retired means the swap
    // died between moves — restore it; stale staging is simply discarded
    if (!Files.exists(Paths.get(path)) && Files.exists(Paths.get(retired)))
      Files.move(Paths.get(retired), Paths.get(path))
    rmTree(Paths.get(staging))
    rmTree(Paths.get(retired))
    spark.read.parquet(path)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(staging)
    Files.move(Paths.get(path), Paths.get(retired))
    Files.move(Paths.get(staging), Paths.get(path))
    rmTree(Paths.get(retired))
  }

  /** Transactional zone table (versioned-manifest log): the
    * multi-writer form of a zone — atomic append, snapshot reads, and
    * compaction that cannot lose concurrent ingest. See [[TxTable]] for
    * the protocol and the documented relationship to Delta/Iceberg. */
  def txTable(zone: String, domain: String): TxTable =
    TxTable(spark, zonePath(zone, domain))

  /** S6: catalog listing of a zone prefix. */
  def list(zone: String, domain: String): Seq[String] = {
    val dir = Paths.get(zonePath(zone, domain))
    if (!Files.exists(dir)) Seq.empty
    else {
      val stream = Files.list(dir) // must be closed: holds a directory fd
      try stream.iterator().asScala.map(_.toString).toSeq.sorted
      finally stream.close()
    }
  }

  /** S9: stamp ingest time at the serving sink. Injectable clock for
    * deterministic tests (SURVEY §7.4 item 1). */
  def stampIngest(df: DataFrame, fixedMicros: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    fixedMicros match {
      case Some(us) => df.withColumn("@timestamp", timestamp_micros(lit(us)))
      case None => df.withColumn("@timestamp", current_timestamp())
    }
  }
}
