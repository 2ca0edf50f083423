package graft

import org.apache.spark.sql.Row
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
    def write(i: Int): Unit = lake.writeZoneTable(
      Seq((i.toLong, s"v$i")).toDF("id", "v"), "processed", "t", s"f$i.json")
    (1 to 3).foreach(write)
    def rows() = lake.readZoneTable("processed", "t")
      .select("id", "v", "_source_file").collect().toSet
    val before = rows()
    val t = lake.txTable("processed", "t")
    val inputs = t.latest().get.files.toSet
    // an upload that commits while the compaction runs survives it
    var injected = Set.empty[String]
    t.compact(targetFiles = 1, beforeCommit = () => {
      write(4)
      injected = t.latest().get.files.toSet -- inputs
    })
    val files = t.latest().get.files
    assert(files.filterNot(injected).length === 1)
    assert(files.count(injected) === 1 && files.toSet.intersect(inputs).isEmpty)
    assert(rows() === before + Row(4L, "v4", "f4.json"))
  }
}
