package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Planted-duplicate spec: the dedup operators must actually find known
  * exact and near duplicates (the sf tables carry their own incidental
  * near-dups; here the ground truth is constructed). */
class DedupPlantedSpec extends SparkSpec with TempDirs {

  private lazy val dir: String = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home " * 3
    val nearDup = base.replace("lazy", "sleepy") // one token changed
    val distinct1 = "completely different content about spark engines and columnar formats " * 3
    val docs = Seq(
      (0L, base.trim, "en", "src0", base.length.toLong),
      (1L, base.trim, "en", "src1", base.length.toLong),        // exact dup of 0
      (2L, nearDup.trim, "en", "src2", nearDup.length.toLong),  // near dup of 0
      (3L, distinct1.trim, "en", "src3", distinct1.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = suiteTempDir("graft-dedup").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup groups identical texts under the min-id keeper") {
    val out = rowsByKey[Long](Dedup.exact(spark, dir), "doc_id")
    assert(!out(0L).getAs[Boolean]("is_dup"))
    assert(out(1L).getAs[Boolean]("is_dup"))
    assert(out(1L).getAs[Long]("keeper_id") == 0L)
    assert(out(1L).getAs[Long]("n_copies") == 2L)
    assert(!out(3L).getAs[Boolean]("is_dup"))
  }

  test("minhash LSH surfaces the exact pair and the near-dup pair") {
    val pairs = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("jaccard_e4"))
      .toMap
    // identical docs: jaccard 1.0
    assert(pairs.get((0L, 1L)).contains(10000L))
    // near-dup: high but < 1.0
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    pairs.collect { case ((a, b), j) if Set(a, b).contains(2L) =>
      assert(j > 5000L && j < 10000L)
    }
    // the unrelated doc never appears
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("SRP banding finds planted embedding near-dups, skips the rest") {
    import spark.implicits._
    // base vector, an exact copy, a tiny perturbation (near-dup), and
    // an unrelated vector — SRP must band the first three together
    val v0 = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val v1 = v0.clone()
    val v2 = v0.map(x => x + 0.01f)
    val v3 = Array.tabulate(64)(i => math.cos(i * 3.1 + 1.0).toFloat)
    val d = tempDir("graft-srp").toString
    Seq((0L, 0, v0.toSeq), (1L, 0, v1.toSeq), (2L, 1, v2.toSeq), (3L, 2, v3.toSeq))
      .toDF("vec_id", "label", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val sig = rowsByKey[Long](Dedup.srpBands(spark, d), "vec_id")
      .map { case (k, r) => k -> r.getAs[Long]("srp16") }
    assert(sig(0L) == sig(1L)) // identical vectors: identical signatures
    // near-dup: signatures agree on at least one full 8-bit band
    assert(sig(0L) % 256 == sig(2L) % 256 || sig(0L) / 256 == sig(2L) / 256)
    val pairs = Dedup.embeddingSrp(spark, d, thresholdE6 = 900000L).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L))
      && pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: identical docs collide, near-dups are close, distinct docs far") {
    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    val sh = rowsByKey[Long](Dedup.simhash(spark, dir), "doc_id")
      .map { case (k, r) => k -> r.getAs[Long]("simhash") }
    assert(sh(0L) == sh(1L))
    assert(hamming(sh(0L), sh(2L)) <= 4)
    assert(hamming(sh(0L), sh(3L)) > hamming(sh(0L), sh(2L)))
  }

  test("containment flags the quoted-inside pair in ONE direction only") {
    import spark.implicits._
    // B: 60 distinct tokens; A: a 21-token contiguous quote of B — all
    // of A's shingles appear in B (containment 1.0 A→B) while B is far
    // from contained in A; C shares nothing
    val tokens = (0 until 60).map(i => s"tok$i")
    val b = tokens.mkString(" ")
    val a = tokens.slice(10, 31).mkString(" ")
    val c = (0 until 40).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (0L, a, "en", "s0", a.length.toLong),
      (1L, b, "en", "s1", b.length.toLong),
      (2L, c, "en", "s2", c.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d = tempDir("graft-cont").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Dedup.containment(spark, d).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("a") === 0L && r.getAs[Long]("b") === 1L)
    assert(r.getAs[Long]("cont_a_e4") === 10000L) // A fully inside B
    assert(r.getAs[Long]("cont_b_e4") < 8000L)    // B not inside A
  }

  test("substring dup: exact copies score 10000, fractions stay bounded") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = graft.operators.Dedup.substringDup(spark, sf)
    // invariants: dup_win <= n_win, frac in [0, 10000]
    assert(out.filter(col("dup_win") > col("n_win") ||
      col("dup_frac_e4") < 0 || col("dup_frac_e4") > 10000).count() === 0L)
    // any doc with a RAW-identical duplicate elsewhere shares EVERY
    // window (Dedup.exact normalizes first, so recompute on raw text)
    val copies = graft.core.Tables(spark, sf).documents
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("doc_id"))
    val joined = out.join(copies, Seq("doc_id"))
    if (joined.count() > 0)
      assert(joined.filter(col("dup_frac_e4") =!= 10000).count() === 0L)
  }

  test("winnowed substring dup is the full metric restricted to gated grams") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val win = graft.operators.Dedup.substringDupWinnow(spark, sf)
    // invariants as for the full metric
    assert(win.filter(col("dup_win") > col("n_win") ||
      col("dup_frac_e4") < 0 || col("dup_frac_e4") > 10000).count() === 0L)
    // selection-restriction law: recompute the gated gram table
    // in-spec and check winnow's per-doc (n_win, dup_win) EXACTLY —
    // content-defined selection may only restrict the window set, it
    // must never change a selected window's dup status (alignment
    // independence). A positional stride would fail this under shifted
    // shared spans; the digest gate cannot.
    val grams = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, greatest(length(text) - 39, 1))")).as("i"))
      .select(col("doc_id"), expr("md5(substring(text, i, 40))").as("h"))
      .filter(substring(col("h"), 1, 1).isin("0", "8"))
    val nd = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val expected = grams.join(nd, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("e_n_win"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("e_dup_win"))
    val mismatches = win.join(expected, Seq("doc_id"), "left")
      .filter(col("n_win") =!= coalesce(col("e_n_win"), lit(0L)) ||
        col("dup_win") =!= coalesce(col("e_dup_win"), lit(0L)))
      .count()
    assert(mismatches === 0L)
    // a doc with a raw-identical copy keeps frac 10000 WHENEVER any of
    // its windows survive the gate (identical docs share gated sets)
    val copies = graft.core.Tables(spark, sf).documents
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("doc_id"))
    val joined = win.join(copies, Seq("doc_id")).filter(col("n_win") > 0)
    if (joined.count() > 0)
      assert(joined.filter(col("dup_frac_e4") =!= 10000).count() === 0L)
  }

  test("fuzzy edit dedup survives adversarial lengths (empty/tiny docs)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // fixed-seed corpus: empty strings, strings shorter than the
    // segment count, near-dups planted at known distances, and long
    // unrelated text — PassJoin's pigeonhole must hold on ALL of it
    // (the lp >= 1 probe cut silently dropped every empty-doc pair)
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val base = (0 until 15).map(i => (i.toLong, randStr(rnd.nextInt(12))))
    val longs = (15 until 25).map(i => (i.toLong, randStr(60 + rnd.nextInt(40))))
    // planted: empty pair, empty-vs-tiny, 1-edit of a long doc
    val planted = Seq(
      (100L, ""), (101L, ""), (102L, "abc"),
      (103L, longs.head._2.drop(2)))
    val docs = (base ++ longs ++ planted)
      .map { case (id, s) => (id, s, "en", "s", s.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-fz-adv").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.fuzzyEditPairs(spark, dir)
    val d = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    val truth = d.as("a").join(d.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= 4)
      .withColumn("edit_dist",
        levenshtein(col("a.text"), col("b.text")).cast("long"))
      .filter(col("edit_dist") <= 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("edit_dist"))
    assert(got.except(truth).isEmpty && truth.except(got).isEmpty)
    // the planted empty/tiny pairs are actually in the truth set
    val t = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t.contains((100L, 101L)) && t.contains((100L, 102L)))
  }

  test("fuzzy edit dedup finds exactly the quadratic ground truth") {
    import org.apache.spark.sql.functions._
    // the gram candidate filter must lose NOTHING the exhaustive
    // all-pairs comparison finds (soundness of the Ed-Join filter
    // under the df cap) and add nothing (levenshtein verify)
    val sf = "/root/testdata/sf0.01"
    val got = graft.operators.Dedup.fuzzyEditPairs(spark, sf)
    val d = graft.core.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    // the nested-loop join runs one task per probe-side partition:
    // spread the probe side so the exhaustive comparison uses every core
    val probe = d.repartition(4 * spark.sparkContext.defaultParallelism)
    val truth = probe.as("a").join(d.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= 4)
      .withColumn("edit_dist",
        levenshtein(col("a.text"), col("b.text")).cast("long"))
      .filter(col("edit_dist") <= 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("edit_dist"))
    assert(got.except(truth).isEmpty && truth.except(got).isEmpty)
  }
}
