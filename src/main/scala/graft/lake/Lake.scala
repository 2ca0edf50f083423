package graft.lake

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * - **Zone tables**: one [[TxTable]] per `zone/domain`, the path
  *   every 100 TB-scale read/write takes (BASELINE.json north star).
  *   Each write is one atomic append to the table's log, with the
  *   upload's source file as the ordinary column `_source_file`;
  *   reads see the latest committed snapshot, and compaction is the
  *   table's own (`txTable(zone, domain).compact(n)`), which keeps
  *   rows appended while it runs.
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
    * only; the reference collects these too), its rows in `orderBy`
    * order ([[sorted]]). Returns the number of rows written, so callers
    * need no separate `count()` job. */
  def writeJsonArray(df: DataFrame, path: String, orderBy: String*): Int =
    writeObject(sorted(df, orderBy).toJSON.collect(), "[\n", "\n]", path)

  /** S3: wrapped-JSON sink — rows under a top-level key
    * (`minio_connector.py:82-112`), in `orderBy` order ([[sorted]]).
    * Returns the number of rows written. */
  def writeWrappedJson(df: DataFrame, key: String, path: String, orderBy: String*): Int =
    writeObject(sorted(df, orderBy).toJSON.collect(),
      s"""{"$key": [""" + "\n", "\n]}", path)

  /** `df` sorted by `orderBy` (ascending, nulls first, as `orderBy`
    * sorts) when it names columns. A JSON sink collects its rows to the
    * driver anyway, so they are sorted in one task
    * (`coalesce(1).sortWithinPartitions`): `orderBy`'s order with no
    * exchange, where a global `orderBy` adds a range exchange and a
    * sampling job for its bounds. The documents these sinks write are
    * per-video and small by design (class doc). */
  private def sorted(df: DataFrame, orderBy: Seq[String]): DataFrame =
    if (orderBy.isEmpty) df
    else df.coalesce(1).sortWithinPartitions(orderBy.map(df.col): _*)

  private def writeObject(rows: Array[String], open: String, close: String,
      path: String): Int = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, rows.mkString(open, ",\n", close).getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    rows.length
  }

  /** Scale path: one atomic append of `df`, tagged with its source
    * file, to the zone's table. A column whose type clashes with the
    * table's pinned one throws before anything commits. */
  def writeZoneTable(df: DataFrame, zone: String, domain: String,
      sourceFile: String): Unit =
    txTable(zone, domain).append(
      df.withColumn("_source_file", org.apache.spark.sql.functions.lit(sourceFile)))

  /** The zone table's latest committed snapshot. */
  def readZoneTable(zone: String, domain: String): DataFrame =
    txTable(zone, domain).read()

  /** The zone's table (versioned-manifest log): atomic append,
    * snapshot reads, and compaction that cannot lose concurrent
    * ingest. See [[TxTable]] for the protocol and the documented
    * relationship to Delta/Iceberg. */
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
