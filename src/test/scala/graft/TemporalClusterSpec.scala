package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cluster, Temporal}
import graft.streaming.StreamStateSessionize

/** Edge-case coverage for the as-of join, connected components, and the
  * stateful sessionization fold — the semantics the oracle can only
  * check in aggregate. */
class TemporalClusterSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin carries the latest at-or-before payload per key") {
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 100L, "p3"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 50L, 500L), (1L, 150L, 1500L), (2L, 400L, 4000L))
      .toDF("k", "ts", "payload")
    val out = Temporal.asofJoin(left, right, "k", "ts", Seq("payload"))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Long]("payload"))).toMap
    assert(out("p1") === Some(500L))  // only the earlier right row visible
    assert(out("p2") === Some(1500L)) // latest of the two
    assert(out("p3") === None)        // right row is later -> no match
  }

  test("asofJoin tie at the same timestamp counts as at-or-before") {
    val left = Seq((1L, 100L)).toDF("k", "ts")
    val right = Seq((1L, 100L, 7L)).toDF("k", "ts", "payload")
    val out = Temporal.asofJoin(left, right, "k", "ts", Seq("payload")).collect()
    assert(out.head.getAs[Long]("payload") === 7L)
  }

  test("asofJoin keys do not leak across partitions") {
    val left = Seq((1L, 100L), (2L, 100L)).toDF("k", "ts")
    val right = Seq((1L, 50L, 1L)).toDF("k", "ts", "payload")
    val byK = Temporal.asofJoin(left, right, "k", "ts", Seq("payload"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Long]("payload"))).toMap
    assert(byK(1L) === Some(1L) && byK(2L) === None)
  }

  test("connectedComponents: chains collapse, islands stay apart") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val labels = Cluster.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L).forall(labels(_) == 10L))
  }

  test("connectedComponents on an empty edge set returns empty, no NPE") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Cluster.connectedComponents(edges).count() === 0L)
  }

  test("connectedComponents converges past the edge direction") {
    // min id sits at the END of the chain: propagation must flow "up"
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val labels = Cluster.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(labels(_) == 1L))
  }

  test("session fold: exact-gap boundary closes, sub-gap merges") {
    val gap = StreamStateSessionize.gapMicros
    val (closed, open) = StreamStateSessionize.advance(
      1L, Seq(0L, gap - 1, 2 * gap), prior = None)
    // 0 and gap-1 merge; 2*gap is >= gap after gap-1 -> closes first
    assert(closed === Seq(StreamStateSessionize.SessionRow(1L, 0L, gap - 1, 2L)))
    assert(open === Some(StreamStateSessionize.OpenSession(2 * gap, 2 * gap, 1L)))
  }

  test("session fold: prior state continues across batches") {
    val gap = StreamStateSessionize.gapMicros
    val prior = Some(StreamStateSessionize.OpenSession(0L, 10L, 3L))
    val (closed, open) = StreamStateSessionize.advance(1L, Seq(20L), prior)
    assert(closed.isEmpty)
    assert(open === Some(StreamStateSessionize.OpenSession(0L, 20L, 4L)))
    val (closed2, _) = StreamStateSessionize.advance(1L, Seq(20L + gap), prior)
    assert(closed2 === Seq(StreamStateSessionize.SessionRow(1L, 0L, 10L, 3L)))
  }

  test("dedupCanonical: one keeper per component, singletons keep themselves") {
    import org.apache.spark.sql.functions._
    val out = Cluster.dedupCanonical(spark, "/root/testdata/sf0.001")
    // covers every document exactly once
    val nDocs = graft.core.Tables(spark, "/root/testdata/sf0.001")
      .documents.count()
    assert(out.count() === nDocs)
    // exactly one kept per component, and it is the declared keep_id
    val perComp = out.groupBy(col("component"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n"), first(col("n_members")).as("m"))
      .collect()
    assert(perComp.forall(r => r.getLong(1) === 1L))
    assert(perComp.forall(r => r.getLong(2) === r.getLong(3)))
    // singleton components: the doc IS its own keeper
    val singles = out.filter(col("n_members") === 1)
    assert(singles.filter(!col("kept") ||
      col("keep_id") =!= col("doc_id")).count() === 0L)
    // multi-doc components exist in the fixture (planted near-dups)
    assert(out.filter(col("n_members") > 1).count() > 0L)
  }
}
