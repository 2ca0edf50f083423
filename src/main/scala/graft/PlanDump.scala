package graft

/** Dev tool: write `explain("formatted")` for selected queries to
  * files (one per query) so plan claims in OPTIMIZATION notes are
  * auditable without a Spark session.
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.PlanDump <outDir> [suffix] [queryName ...]
  *
  * Writes <outDir>/<query>_<suffix>.txt. Queries that read standing
  * indexes get them built first ([[IndexCatalog]], as in Bench), so
  * the dumped plan is the serving plan, not a build-then-serve plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the warm-ups Bench runs, so serving plans read the built index
    // instead of folding the build into the plan
    IndexCatalog.warm(spark, sfDir, names)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              outDir.resolve(s"${name}_$suffix.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"[plandump] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
