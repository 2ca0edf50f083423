package graft

/** Dev tool: run ONE SparkEntry query and dump it to parquet (plus a
  * stdout preview) — a fast inner loop while iterating on a single
  * operator, instead of driving all of Verify.
  *
  * Usage: runMain graft.RunOne <query> <sfDir> [outDir]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/runone"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.mode("overwrite").parquet(s"$outDir/$name")
    val n = spark.read.parquet(s"$outDir/$name").count()
    System.err.println(s"[runone] $name rows=$n schema=${df.schema.simpleString}")
    df.show(20, truncate = false)
    // this query's oracle SQL (if any) in check.py's expected layout,
    // so `tools/check.py <outDir> <sfDir>` verifies the one query
    SparkEntry.oracleSql.get(name).foreach { sql =>
      val json = s"""{"$name": ${Verify.jsonString(sql)}}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "oracle_sql.json"),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
