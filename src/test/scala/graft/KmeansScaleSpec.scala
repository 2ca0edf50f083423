package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** VERDICT r6 #7: turn the SemDeDup scale argument in `Dedup.semantic`'s
  * scaladoc into a measured fact. With the default k = ⌈√N⌉, growing the
  * corpus 10× (the same key-shift + constant-vector-shift replication
  * rule as `tools/scale_up.py`) must:
  *   - grow the trained cell count like √N (√10 ≈ 3.16×), and
  *   - keep the per-cell quadratic term E[|cell|²] NEAR-LINEAR in N —
  *     the published SemDeDup property. A fixed-k quantizer would give
  *     E[|cell|²] ∝ N², i.e. a 100× jump here; ⌈√N⌉ gives ~10×.
  */
class KmeansScaleSpec extends SparkSpec with TempDirs {
  private val sf = "/root/testdata/sf0.01"

  /** (N, live cells, mean squared cell size) under the default k. */
  private def cellStats(dir: String): (Long, Long, Double) = {
    val sizes = Similarity.kmeansAssign(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("cells"),
        avg(col("n") * col("n")).as("meanSq"))
      .collect().head
    (sizes.getAs[Long]("total"), sizes.getAs[Long]("cells"),
      sizes.getAs[Double]("meanSq"))
  }

  test("kmeansAssign default k=⌈√N⌉: cells grow like √N and " +
      "E[|cell|²] stays near-linear under 10× growth") {
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val n0 = base.count()
    val k0 = math.ceil(math.sqrt(n0.toDouble)).toLong

    // 10× replica, scale_up.py's embeddings rule: disjoint vec_id
    // ranges, a per-replica constant added to every coordinate so
    // replicas are NOT near-identical vectors
    val big = tempDir("graft-kmeans-scale").toString
    (0 until 10).map { i =>
      base.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, x -> x + ${i}*0.05f)").as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")

    val (n1, cells1, meanSq1) = cellStats(sf)
    val (n10, cells10, meanSq10) = cellStats(big)
    assert(n1 == n0 && n10 == 10 * n0)

    // trained cell count tracks ⌈√N⌉: all seeded cells may not survive
    // Lloyd, but the live count must stay within a constant factor
    val k10 = math.ceil(math.sqrt(n10.toDouble)).toLong
    assert(cells1 <= k0 && cells1 >= k0 / 2,
      s"sf cells=$cells1 vs k=⌈√$n1⌉=$k0")
    assert(cells10 <= k10 && cells10 >= k10 / 2,
      s"10x cells=$cells10 vs k=⌈√$n10⌉=$k10")
    assert(cells10 >= 2 * cells1,
      s"cell count did not grow with √N: $cells1 -> $cells10")

    // the SemDeDup claim: E[|cell|²] ∝ N. Near-linear = the 10× ratio
    // stays well under the fixed-k quadratic's 100× (slack for skew)
    val ratio = meanSq10 / meanSq1
    assert(ratio < 40.0,
      f"E[|cell|²] grew $ratio%.1f× at 10× data — not near-linear " +
        f"($meanSq1%.1f -> $meanSq10%.1f)")
    info(f"N=$n1%d cells=$cells1%d E[|c|²]=$meanSq1%.1f; " +
      f"N=$n10%d cells=$cells10%d E[|c|²]=$meanSq10%.1f; ratio=$ratio%.2f")
  }
}
