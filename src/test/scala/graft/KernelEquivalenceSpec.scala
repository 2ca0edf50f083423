package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{ArgminCellQ, PqEncodeQ, SumVecQ}
import graft.operators.Similarity

/** The codegen assignment/encode/training kernels must compute EXACTLY
  * the integers of their relational formulations — same quantization,
  * same argmin tie-breaks — or every oracle downstream of an index
  * build would shift, and the over-bound paths would answer
  * differently from the bounded ones. Each test races a kernel against
  * the relational formulation on random data.
  */
class KernelEquivalenceSpec extends SparkSpec {

  private val q4 = "CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)"

  private def randomEmb(n: Int, d: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i =>
      (i, Array.fill(d)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
  }

  private def quantizedOf(emb: org.apache.spark.sql.DataFrame) =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr(q4).as("q"))

  /** k centroids as (cell, dim, c) rows from the first k vectors. */
  private def someCents(emb: org.apache.spark.sql.DataFrame, k: Int) =
    quantizedOf(emb.filter(col("vec_id") < k))
      .select(col("vec_id").as("cell"), col("dim"), col("q").as("c"))

  private def centPack(cents: org.apache.spark.sql.DataFrame) =
    cents.groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cvec"))
      .agg(expr("array_sort(collect_list(struct(cell, cvec)))").as("p"))
      .select(expr("transform(p, s -> s.cell)").as("cells"),
        expr("transform(p, s -> s.cvec)").as("cvecs"))

  test("ArgminCellQ equals the relational dim-join argmin (cell AND dist2)") {
    val emb = randomEmb(300, 64, seed = 3)
    val cents = someCents(emb, 17)
    // duplicate a centroid's coordinates under a higher cell id so the
    // (dist2, cell) tie-break is actually exercised
    val centsT = cents.union(
      cents.filter(col("cell") === 2).withColumn("cell", lit(99L)))
    val qe = quantizedOf(emb)
    val relational = qe.join(centsT, Seq("dim"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cell"))
    val expect = relational.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("dist2"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val got = emb.crossJoin(broadcast(centPack(centsT)))
      .select(col("vec_id"),
        ArgminCellQ.argminCellQ(col("embedding"), col("cells"), col("cvecs"))
          .as("m"))
      .select(col("vec_id"), col("m.cell"), col("m.dist2"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 300 && got == expect)
  }

  test("PqEncodeQ equals the relational subDist → min_by encode") {
    val emb = randomEmb(250, 64, seed = 11)
    // codebook: per (sub, code, dim) means over code = vec_id % 5
    val qe = quantizedOf(emb)
      .withColumn("code", pmod(col("vec_id"), lit(5L)))
      .withColumn("sub", expr("dim div 8"))
    val cb = qe.groupBy(col("sub"), col("code"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("code"), col("dim"),
        expr("CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)")
          .as("c"))
    val subDist = quantizedOf(emb).withColumn("sub", expr("dim div 8"))
      .join(broadcast(cb), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("sub"), col("code"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
    val expect = subDist
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), s -> s.code)")
        .as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    // pack: per-code FULL-d centroid vectors, codes sorted asc
    val pack = cb.groupBy(col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cvec"))
      .agg(expr("array_sort(collect_list(struct(code, cvec)))").as("p"))
      .select(expr("transform(p, s -> s.code)").as("codes"),
        expr("transform(p, s -> s.cvec)").as("cvecs"))
    val got = emb.crossJoin(broadcast(pack))
      .select(col("vec_id"),
        PqEncodeQ.pqEncodeQ(col("embedding"), col("codes"), col("cvecs"), 8)
          .as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(got.size == 250 && got == expect)
  }

  test("int32 alphabets must canonicalize to BIGINT in the packs " +
      "(the label-seeded cell/code ids are int32; the kernels read longs)") {
    val emb = randomEmb(120, 16, seed = 31)
    // int32 cells, as labelCentroids/pqCodebook produce them
    val centsInt = someCents(emb, 9)
      .withColumn("cell", col("cell").cast("int"))
    val qe = quantizedOf(emb)
    val relational = qe.join(centsInt, Seq("dim"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cell"))
    val expect = relational.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the pack MUST cast the alphabet to BIGINT (as centPack/cbPack
    // do) — an array<int> read through the kernel's getLong misreads
    val pack = centsInt.groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cvec"))
      .agg(expr("array_sort(collect_list(struct(CAST(cell AS BIGINT) AS cell, cvec)))")
        .as("p"))
      .select(expr("transform(p, s -> s.cell)").as("cells"),
        expr("transform(p, s -> s.cvec)").as("cvecs"))
    val got = emb.crossJoin(broadcast(pack))
      .select(col("vec_id"),
        ArgminCellQ.argminCellQ(col("embedding"), col("cells"), col("cvecs"))
          .getField("cell").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 120 && got == expect)
  }

  test("Dist2Q ranker equals the dim-join ranker in (cell, dist2, crn)") {
    val emb = randomEmb(200, 64, seed = 5)
    val cents = someCents(emb, 17)
    // a duplicate of cell 4 under a higher id: every vector ties on
    // dist2 between cells 4 and 98, so the (dist2, cell) order decides
    // their crn
    val centsT = cents.union(
      cents.filter(col("cell") === 4).withColumn("cell", lit(98L)))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("dist2"), col("crn").cast("long"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
    val got = ranks(Similarity.rankedByDist(emb, centsT))
    val expect = ranks(Similarity.rankedTo(Similarity.quantizedOf(emb), centsT))
    assert(got.size == 200 * 18 && got == expect)
  }

  test("kernel Lloyd equals relational Lloyd in (cell, dim, c)") {
    val emb = randomEmb(300, 64, seed = 17)
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cell"), col("dim"), col("c")).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val kernel = cents(Similarity.lloydKernel(emb, 17, 2))
    val relational = cents(Similarity.lloydRelational(Similarity.quantizedOf(emb), 17, 2))
    assert(kernel.nonEmpty && kernel.size % 64 == 0 && kernel == relational)
  }

  test("SumVecQ equals the relational per-(cell, dim) sum/count") {
    val emb = randomEmb(400, 48, seed = 23)
      .withColumn("cell", pmod(col("vec_id"), lit(7L)))
    val expect = quantizedOf(emb.select(col("vec_id"), col("embedding")))
      .join(emb.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val got = emb.groupBy(col("cell"))
      .agg(SumVecQ.column(col("embedding")).as("sv"))
      .select(col("cell"), posexplode(col("sv.sums")).as(Seq("dim", "s")),
        col("sv.cnts"))
      .select(col("cell"), col("dim").cast("long").as("dim"), col("s"),
        expr("cnts[dim]").as("n"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size == expect.size && got == expect)
  }
}
