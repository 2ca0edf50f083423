package graft

import org.apache.spark.sql.functions._
import graft.functions.CosineSimQ

class FunctionsSpec extends SparkSpec {

  test("Enrich.modeOf: count desc, then first frame, then value by UTF-8 bytes") {
    import spark.implicits._
    def mode(rows: Seq[(String, Long)]): String =
      rows.toDF("v", "frame_number")
        .agg(graft.enrich.Enrich.modeOf(collect_list(
          struct(col("v").as("v"), col("frame_number").as("f")))))
        .collect().head.getString(0)
    // b and c tie at 2; c first seen at frame 0 → c wins
    assert(mode(Seq(("c", 0L), ("b", 1L), ("b", 3L), ("c", 4L), ("a", 2L))) == "c")
    assert(mode(Seq(("x", 9L), ("y", 1L), ("y", 2L))) == "y")
    // nulls are not counted; none left → null
    assert(mode(Seq((null, 0L), (null, 1L), ("z", 5L))) == "z")
    assert(mode(Seq((null, 1L))) == null)
    // a tie on count and frame: U+FFFF sorts after U+1F600 in UTF-16
    // code units but before it in UTF-8 bytes, which engines compare
    assert(mode(Seq(("\uffff", 5L), ("\ud83d\ude00", 5L))) == "\uffff")
  }

  test("CosineSimQ equals the interpreted quantized fold on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
      .withColumn("qa", expr(
        "transform(a, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"))
      .withColumn("qb", expr(
        "transform(b, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .withColumn("na", expr(
        "aggregate(qa, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
      .withColumn("nb", expr(
        "aggregate(qb, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
      .withColumn("fold_e6", floor(col("dot").cast("double")
        / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
        * 1000000.0).cast("long"))
      .withColumn("native_e6", graft.functions.CosineSimQ.cosineSimE6(col("a"), col("b")))
    assert(df.filter(col("fold_e6") =!= col("native_e6")).count() == 0)
  }

  test("CosineSimQ native expression: identity, orthogonal, codegen path") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // cos=1
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // cos=0
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f)),   // cos=0.7071
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f)))   // zero norm → 0
      .toDF("a", "b")
    val got = df.select(CosineSimQ.cosineSimE6(col("a"), col("b")).as("c"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1000000L, 0L, 707106L, 0L))
    // registered SQL function via GraftExtensions
    df.createOrReplaceTempView("vecs")
    val sqlGot = spark.sql("SELECT cosine_sim_e6(a, b) FROM vecs")
      .collect().map(_.getLong(0)).toSeq
    assert(sqlGot == got)
  }

  test("per-term document frequencies agree with spark.ml's IDF model") {
    // our TF-IDF computes df with a plain groupBy; spark.ml's IDF model
    // encodes it as idf_j = ln((m+1)/(df_j+1)). Inverting the model's
    // vector must recover exactly the same integers — a library
    // cross-check of the df computation without adopting ml's
    // non-oracle-able float weighting.
    import spark.implicits._
    import org.apache.spark.ml.feature.{CountVectorizer, IDF}
    val docs = Seq(
      (0L, "spark shuffles data across executors"),
      (1L, "spark caches data in memory"),
      (2L, "executors run tasks"),
      (3L, "memory pressure spills data to disk"))
      .toDF("doc_id", "text")
      .withColumn("toks", org.apache.spark.sql.functions.split(col("text"), " "))
    val m = docs.count()
    val cv = new CountVectorizer().setInputCol("toks").setOutputCol("tf")
      .fit(docs)
    val idfModel = new IDF().setInputCol("tf").setOutputCol("w")
      .fit(cv.transform(docs))
    val mlDf = cv.vocabulary.zip(idfModel.idf.toArray).map { case (term, idf) =>
      term -> (math.round((m + 1).toDouble / math.exp(idf)) - 1)
    }.toMap
    val ourDf = docs
      .select(col("doc_id"), explode(col("toks")).as("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mlDf === ourDf)
  }
}
