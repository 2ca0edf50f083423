package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.lake.Lake
import graft.operators.Cluster

class PagerankCompactionSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("pagerank: symmetric pair converges to equal ranks") {
    val ranks = Cluster.pageRank(Seq((1L, 2L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(1L) === ranks(2L))
    assert(ranks(1L) === 1000000L) // share = r/1 flows whole across the pair
  }

  test("pagerank: star center outranks leaves") {
    val ranks = Cluster.pageRank(
      Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(1L) > ranks(2L))
    assert(ranks(2L) === ranks(3L) && ranks(3L) === ranks(4L))
  }

  test("compaction collapses per-ingest files, preserves rows") {
    val root = tempDir("graft-lake").toString
    val lake = Lake(spark, root)
    (1 to 3).foreach { i =>
      lake.writeZoneTable(
        Seq((i.toLong, s"v$i")).toDF("id", "v"), "processed", "t", s"f$i.json")
    }
    val before = lake.readZoneTable("processed", "t")
      .select("id", "v", "_source_file").collect().toSet
    lake.compact("processed", "t", targetFiles = 1)
    val dir = new java.io.File(lake.zonePath("processed", "t"))
    val dataFiles = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.length === 1)
    val after = lake.readZoneTable("processed", "t")
      .select("id", "v", "_source_file").collect().toSet
    assert(after === before)
  }
}
