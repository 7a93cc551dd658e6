package graft.sources

import org.apache.spark.sql.SparkSession

/** Object-store write configuration — the Spark analog of the reference's
  * boto3 client Config (reference/src/Split/parquet-splitter.py:38-43:
  * retries max_attempts=10, max_pool_connections=64, connect_timeout=10 s,
  * read_timeout=120 s) — plus the two settings that make S3 writes
  * correct-and-fast at cluster scale:
  *
  *  - a ZERO-RENAME S3A committer ("magic"): the default
  *    FileOutputCommitter "rename" is a server-side COPY on S3 — O(data)
  *    commit latency and a non-atomic visibility window; the magic
  *    committer stages multipart uploads and completes them at job commit;
  *  - DYNAMIC partition overwrite: an idempotent re-run of one date
  *    replaces only its own partition — the engine's marker semantics
  *    expressed at the storage layer (IncrementalDedup uses the same mode
  *    per write).
  *
  * Pure data + explicit application: local runs (file:// paths, no
  * spark-hadoop-cloud module on the classpath) must NOT bind the committer
  * protocol classes, so nothing here is applied implicitly — SplitMain
  * and OpsMain wire it behind `--CLOUD_WRITE true`.
  */
object CloudConf {

  /** The full setting map, defaults mirroring the reference's client
    * config. Keys use the `spark.hadoop.` prefix form so the same map
    * works as [[graft.Session]]'s `extra`, spark-submit `--conf`, or
    * [[applyTo]]. */
  def settings(maxRetries: Int = 10, poolSize: Int = 64,
      connectTimeoutMs: Int = 10000,
      readTimeoutMs: Int = 120000): Map[String, String] = Map(
    // boto3 Config analog
    "spark.hadoop.fs.s3a.attempts.maximum" -> maxRetries.toString,
    "spark.hadoop.fs.s3a.retry.limit" -> maxRetries.toString,
    "spark.hadoop.fs.s3a.connection.maximum" -> poolSize.toString,
    "spark.hadoop.fs.s3a.connection.establish.timeout" -> connectTimeoutMs.toString,
    "spark.hadoop.fs.s3a.connection.timeout" -> readTimeoutMs.toString,
    // zero-rename commit path
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
    // idempotent per-date re-runs
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  /** Apply to an already-built session: SQL confs are runtime-settable and
    * take effect immediately; `spark.hadoop.*` entries land in the
    * context's shared hadoopConfiguration. */
  def applyTo(spark: SparkSession,
      s: Map[String, String] = settings()): Unit =
    s.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop."))
        spark.sparkContext.hadoopConfiguration
          .set(k.stripPrefix("spark.hadoop."), v)
      else spark.conf.set(k, v)
    }
}
