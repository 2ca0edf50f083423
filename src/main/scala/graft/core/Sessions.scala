package graft.core

import org.apache.spark.sql.SparkSession

/** Single shared SparkSession factory (replaces the reference's three
  * sessions-per-request — SURVEY.md §3.1, `config/spark_config.py`).
  *
  * - UTC session TZ for deterministic timestamp parity with the oracle.
  * - AQE on (runtime partition coalescing + skew-join handling).
  * - shuffle.partitions sized to cores, not the 200 default (local mode);
  *   on a real cluster this is overridden per deployment.
  * - nanosAsLong: the driver-generated `events` table stores
  *   timestamp[ns], which Spark 4 otherwise refuses to read.
  * - codegen cache of 2,000 generated classes, not Spark's 100. The
  *   static conf sizes `CodeGenerator`'s LRU, so only the builder can
  *   set it. A warm upload clip needs about 210 classes (about 130
  *   vehicle, 78 people) and the lake churn loop about 250: at 100
  *   every op recompiled what the one before had evicted. At 2,000 a
  *   warm vehicle upload compiles 9-17 classes instead of 143
  *   (`CodegenCacheSpec`): the same code under another codegen stage
  *   id or column order, which AQE and the planner vary per run.
  */
object Sessions {

  /** Object-store (s3a/MinIO) session options mirroring the reference
    * (`config/spark_config.py:15-31`): endpoint, path-style access,
    * fast upload, v2 file committer + no success markers (the
    * rename-free commit path an object store needs). A pure function
    * of the environment so the seam is unit-testable; empty when no
    * endpoint is configured — the local-fs default is untouched.
    * Credentials come from the environment, never from code. */
  def objectStoreConfigs(env: Map[String, String]): Map[String, String] =
    env.get("GRAFT_S3_ENDPOINT") match {
      case None => Map.empty
      case Some(endpoint) =>
        val base = Map(
          "spark.hadoop.fs.s3a.impl" ->
            "org.apache.hadoop.fs.s3a.S3AFileSystem",
          "spark.hadoop.fs.s3a.endpoint" -> endpoint,
          "spark.hadoop.fs.s3a.path.style.access" -> "true",
          "spark.hadoop.fs.s3a.connection.ssl.enabled" ->
            env.getOrElse("GRAFT_S3_SSL", "false"),
          "spark.hadoop.fs.s3a.fast.upload" -> "true",
          "spark.hadoop.fs.s3a.fast.upload.buffer" -> "bytebuffer",
          "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
          "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")
        val creds =
          (env.get("GRAFT_S3_ACCESS_KEY"), env.get("GRAFT_S3_SECRET_KEY")) match {
            case (Some(a), Some(s)) => Map(
              "spark.hadoop.fs.s3a.aws.credentials.provider" ->
                "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider",
              "spark.hadoop.fs.s3a.access.key" -> a,
              "spark.hadoop.fs.s3a.secret.key" -> s)
            case _ => Map.empty[String, String]
          }
        base ++ creds
    }

  def builder(master: String, cores: Int,
      env: Map[String, String] = sys.env): SparkSession.Builder = {
    val base = SparkSession.builder()
      .master(master)
      .appName("graft")
      // default: one reducer per core. On a real cluster the reducer
      // count scales with the data (rule of thumb: keep post-shuffle
      // partitions near spark.sql.files.maxPartitionBytes); local[N]
      // can't grow cores, but the env knob lets scale experiments
      // size reducers to the replica instead of the box — the x100
      // decade runs showed the pair-dedup shuffles going 3x
      // superlinear purely from 10x-per-reducer volume (BASELINE.md
      // r9 second decade).
      .config("spark.sql.shuffle.partitions",
        env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config("spark.ui.enabled", "false")
    objectStoreConfigs(env).foldLeft(base) {
      case (b, (k, v)) => b.config(k, v)
    }
  }

  /** Session for local dev/tests. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
