package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Cluster, Temporal}
import graft.streaming.StreamStateSessionize
import graft.streaming.StreamStateSessionize.{OpenSession, SessionRow}

/** Property-based tests (SURVEY §5.3): randomized inputs generated with
  * ScalaCheck `Gen` under fixed seeds (deterministic CI), checked
  * against independent reference implementations. */
class PropertiesSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // --- connected components vs a plain union-find ------------------------

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  test("property: connectedComponents equals union-find on random graphs") {
    val genEdges = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)).suchThat(e => e._1 != e._2))
    (1L to 12L).foreach { seed =>
      val edges = sample(genEdges, seed)
      val expected = unionFind(edges)
      val got = Cluster.connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"seed=$seed edges=$edges")
    }
  }

  // --- as-of join vs per-row brute force ---------------------------------

  test("property: asofJoin equals brute-force latest-at-or-before") {
    val genRows = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
    (1L to 10L).foreach { seed =>
      val leftRows = sample(genRows, seed).distinct
      // unique (key, ts) on the right: payload = ts so dup-ts ambiguity
      // cannot arise (documented contract)
      val rightRows = sample(genRows, seed + 100).distinct
        .map { case (k, ts) => (k, ts, ts * 10) }
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val got = Temporal.asofJoin(
        leftRows.toDF("k", "ts"), rightRows.toDF("k", "ts", "payload"),
        "k", "ts", Seq("payload"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          Option(r.getAs[java.lang.Long]("payload")).map(_.toLong)).toMap
      leftRows.foreach { case (k, ts) =>
        val eligible = rightRows.filter(r => r._1 == k && r._2 <= ts)
        val expected =
          if (eligible.isEmpty) None else Some(eligible.maxBy(_._2)._3)
        assert(got((k, ts)) === expected, s"seed=$seed left=($k,$ts)")
      }
    }
  }

  // --- stateful session fold: batch-split invariance ---------------------

  private def foldAll(uid: Long, batches: Seq[Seq[Long]])
      : (Seq[SessionRow], Option[OpenSession]) =
    batches.foldLeft((Seq.empty[SessionRow], Option.empty[OpenSession])) {
      case ((closed, open), batch) =>
        val (c, o) = StreamStateSessionize.advance(uid, batch.sorted, open)
        (closed ++ c, o)
    }

  test("property: session fold is invariant to micro-batch boundaries") {
    val gap = StreamStateSessionize.gapMicros
    val genUs = Gen.nonEmptyListOf(Gen.choose(0L, gap * 8))
    (1L to 15L).foreach { seed =>
      val us = sample(genUs, seed).distinct.sorted
      val whole = foldAll(1L, Seq(us))
      val cut = sample(Gen.choose(0, us.length), seed + 999)
      // time-ordered batch split (the file-stream contract: batches
      // arrive in event-time order here)
      val split = foldAll(1L, Seq(us.take(cut), us.drop(cut)))
      assert(split === whole, s"seed=$seed cut=$cut us=$us")
    }
  }

  // --- tx-table WriteSerializable under adversarial interleavings --------

  private sealed trait TxOp
  private case class TxAppend(ids: Seq[Long], v: Long) extends TxOp
  private case class TxMerge(ids: Seq[Long], v: Long) extends TxOp
  private case class TxDelete(lo: Long, hi: Long) extends TxOp
  private case object TxCompact extends TxOp

  private def txModel(m: Vector[(Long, Long)], op: TxOp): Vector[(Long, Long)] =
    op match {
      case TxAppend(ids, v) => m ++ ids.map(i => (i, v))
      case TxMerge(ids, v) =>
        m.filterNot(r => ids.contains(r._1)) ++ ids.map(i => (i, v))
      case TxDelete(lo, hi) => m.filterNot(r => r._1 >= lo && r._1 <= hi)
      case TxCompact => m
    }

  test("property: interleaved append/merge/delete/compact obey " +
      "WriteSerializable — a committed racer serializes, a conflicted " +
      "one aborts without a trace and succeeds on retry") {
    import graft.lake.TxTable
    def df(ids: Seq[Long], v: Long) = ids.map(i => (i, v)).toDF("id", "v")
    def run(t: TxTable, op: TxOp): Unit = op match {
      case TxAppend(ids, v) => t.append(df(ids, v), statsCols = Seq("id"))
      case TxMerge(ids, v) => t.merge(df(ids, v), "id", statsCols = Seq("id"))
      case TxDelete(lo, hi) => t.delete("id", lo, hi, statsCols = Seq("id"))
      case TxCompact => t.compact(2)
    }
    // staged-but-uncommitted state is injected through the beforeCommit
    // seam: the INNER op runs to completion while the OUTER sits between
    // stage and commit — the exact schedule the conflict rules govern
    def runSeamed(t: TxTable, op: TxOp, seam: () => Unit): Boolean =
      try {
        op match {
          case TxMerge(ids, v) =>
            t.merge(df(ids, v), "id", statsCols = Seq("id"),
              beforeCommit = seam)
          case TxDelete(lo, hi) =>
            t.delete("id", lo, hi, statsCols = Seq("id"), beforeCommit = seam)
          case TxCompact => t.compact(2, beforeCommit = seam)
          case TxAppend(_, _) =>
            fail("append re-bases and never aborts; not an outer op")
        }
        true
      } catch { case _: java.util.ConcurrentModificationException => false }

    def contents(t: TxTable): Map[(Long, Long), Int] =
      t.read().collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    def multiset(m: Vector[(Long, Long)]): Map[(Long, Long), Int] =
      m.groupBy(identity).view.mapValues(_.length).toMap

    // ops confined to a random quarter of the key space, so racing
    // pairs land sometimes on the same files (conflict) and sometimes
    // apart (serializable commit) — both outcomes must occur
    val genZoneIds = for {
      z <- Gen.choose(0L, 3L)
      ids <- Gen.nonEmptyListOf(Gen.choose(z * 25, z * 25 + 24))
    } yield ids.distinct
    val genZoneRange = for {
      z <- Gen.choose(0L, 3L)
      w <- Gen.choose(0L, 24L)
    } yield (z * 25, z * 25 + w)
    def genOp(kind: Int, vBase: Long): Gen[TxOp] = kind match {
      case 0 => Gen.zip(genZoneIds, Gen.choose(vBase, vBase + 99))
        .map(t => TxAppend(t._1, t._2))
      case 1 => Gen.zip(genZoneIds, Gen.choose(vBase + 100, vBase + 199))
        .map(t => TxMerge(t._1, t._2))
      case 2 => genZoneRange.map(t => TxDelete(t._1, t._2))
      case _ => Gen.const(TxCompact)
    }

    var committed, aborted = 0
    // the full outer×inner matrix (outer: merge/delete/compact — append
    // re-bases and cannot conflict), random params per cell
    val pairs = for {
      outerKind <- Seq(1, 2, 3); innerKind <- Seq(0, 1, 2, 3)
    } yield (outerKind, innerKind)
    pairs.zipWithIndex.foreach { case ((outerKind, innerKind), i) =>
      val seed = i + 1L
      val inner = sample(genOp(innerKind, 100L), seed)
      val outer = sample(genOp(outerKind, 300L), seed + 500)
      val t = TxTable(spark,
        tempDir("graft-txprop").toString)
      // two seeded files covering disjoint halves so range pruning and
      // file-replacement conflicts are both reachable
      t.append(df(0L until 50L, 0L), statsCols = Seq("id"))
      t.append(df(50L until 100L, 0L), statsCols = Seq("id"))
      val m0 = Vector.tabulate(100)(i => (i.toLong, 0L))

      var innerRan = false
      val seam = () => { innerRan = true; run(t, inner) }
      val ok = runSeamed(t, outer, seam)
      if (!innerRan) {
        // outer no-opped before its seam (e.g. a delete pruning every
        // file): it serialized FIRST; run the inner after it
        run(t, inner)
        assert(ok, s"seed=$seed: op that never staged cannot conflict")
        assert(contents(t) == multiset(txModel(txModel(m0, outer), inner)),
          s"seed=$seed outer=$outer inner=$inner (outer-first serial)")
      } else if (ok) {
        committed += 1
        // WriteSerializable: committing after the racer must equal the
        // serial history inner→outer
        assert(contents(t) == multiset(txModel(txModel(m0, inner), outer)),
          s"seed=$seed outer=$outer inner=$inner (inner-first serial)")
      } else {
        aborted += 1
        // clean abort: ONLY the inner's effect is visible…
        assert(contents(t) == multiset(txModel(m0, inner)),
          s"seed=$seed outer=$outer inner=$inner (abort left a trace)")
        // …and the same op succeeds against the new snapshot
        run(t, outer)
        assert(contents(t) == multiset(txModel(txModel(m0, inner), outer)),
          s"seed=$seed outer=$outer inner=$inner (retry after abort)")
      }
    }
    // the generator must actually exercise both outcomes
    assert(committed > 0 && aborted > 0,
      s"schedule space not covered: committed=$committed aborted=$aborted")
  }

  // --- bloom point reads on string keys ----------------------------------

  test("property: string-keyed Bloom point reads equal the plain filter " +
      "across multi-append tables, for present and absent probes") {
    import graft.lake.TxTable
    import org.apache.spark.sql.functions._
    val genKey = Gen.oneOf(Gen.identifier.map(_.take(8)),
      Gen.chooseNum(0, 99).map(n => s"tok$n"))
    for (seed <- 1L to 3L) {
      val t = TxTable(spark, graft.core.Scratch.fresh(s"tx_bloomprop$seed"))
      // several appends → several manifests and files, each with its
      // own bitmap (the multi-commit shape the standing index has)
      val all = (0 until 3).map { batch =>
        val keys = sample(Gen.listOfN(40, genKey), seed * 10 + batch)
        val rows = keys.zipWithIndex.map { case (k, i) =>
          (k, batch.toLong * 1000 + i)
        }
        t.append(rows.toDF("k", "v").repartition(3), bloomCols = Seq("k"))
        rows
      }.flatten
      val present = all.map(_._1).distinct.take(5)
      val absent = Seq("never-written", "tok-none", "ZZZZZZZZ")
      (present ++ absent).foreach { probe =>
        val viaBloom = t.readWhereEq("k", lit(probe))
          .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
        val plain = all.filter(_._1 == probe).sorted
        assert(viaBloom === plain,
          s"seed=$seed probe=$probe: bloom read diverged from the filter")
      }
      // the multi-value read must equal the union of the per-value
      // filters (mixed present/absent probe set, one index access)
      val probeSet = (present.take(3) ++ absent.take(2))
      val viaIn = t.readWhereIn("k", probeSet.map(lit(_)))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      val plainIn = all.filter(r => probeSet.contains(r._1)).sorted
      assert(viaIn === plainIn,
        s"seed=$seed: readWhereIn diverged from the IN filter")
      assert(t.readWhereIn("k", Nil).count() === 0L)
      // the bitmaps must actually prune for at least one probe — a
      // bloom that never skips is dead weight, not an index
      val snap = t.latest().get
      assert(absent.exists(p =>
        t.bloomLiveEntries(snap, "k", lit(p)).size < snap.files.size),
        "no absent probe pruned any file")
    }
  }

  // --- portable hash -----------------------------------------------------

  test("property: portable hash is deterministic, bounded, salt-split") {
    import org.apache.spark.sql.functions._
    val genStrs = Gen.nonEmptyListOf(Gen.identifier)
    val strs = (1L to 3L).flatMap(s => sample(genStrs, s)).distinct
    val df = strs.toDF("s")
      .select(graft.functions.PortableHash.phash(col("s"), 0).as("h0"),
        graft.functions.PortableHash.phash(col("s"), 1).as("h1"))
      .collect()
    // Σ_{i=0..7} 102·128^i — max hex-digit ascii is 102 ('f')
    val maxH = 102L * ((math.pow(128, 8).toLong - 1) / 127)
    df.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= maxH)
      assert(r.getLong(0) != r.getLong(1), "salt must split the hash family")
    }
  }
}
