package graft.split

import graft.Session
import graft.sources.CloudConf
import org.apache.spark.sql.SparkSession

/** CLI entry point for the incremental split pipeline — the Spark analog of
  * the reference's Glue job main (reference/src/Split/parquet-splitter.py:198-204).
  *
  * Usage: SplitMain --KIND k --IN_DIR in --OUT_DIR out --MARKER_DIR markers
  *   [--KEY_COL item_id] [--MODE batch|streaming] [--CHECKPOINT_DIR path]
  * Each `--NAME value` falls back to env var NAME, then to a default —
  * the same resolution order as the reference's get_arg (O1).
  * MODE=streaming uses the checkpoint-based StreamingSplitJob instead of
  * the marker-ledger anti-join (markers are written either way).
  */
object SplitMain {
  def getArg(args: Array[String], name: String, default: String = null): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else sys.env.getOrElse(name, default)
  }

  /** Object-store deployments opt in to the S3A client/committer surface
    * ([[CloudConf]] — the reference's boto3 Config analog) with
    * `--CLOUD_WRITE true`; never applied implicitly: the committer
    * protocol classes live in the spark-hadoop-cloud module, absent from
    * plain local classpaths. */
  private def cloudSettings(args: Array[String]): Map[String, String] =
    if (getArg(args, "CLOUD_WRITE", "false").toBoolean) CloudConf.settings()
    else Map.empty

  /** [[Session.run]] with `--CLOUD_WRITE`'s settings in force: `extra` of
    * a session created here, and applied to an adopted one too (a host
    * driving a main in-process), which `Session` leaves as it is. */
  private[graft] def withSession[T](app: String, args: Array[String])(
      body: SparkSession => T): T = {
    val cloud = cloudSettings(args)
    Session.run(app, cloud) { spark => CloudConf.applyTo(spark, cloud); body(spark) }
  }

  def main(args: Array[String]): Unit = {
    val config = SplitConfig(
      kind = getArg(args, "KIND", "spark"),
      inDir = getArg(args, "IN_DIR"),
      outDir = getArg(args, "OUT_DIR"),
      markerDir = getArg(args, "MARKER_DIR"),
      keyCol = getArg(args, "KEY_COL", "item_id"),
      preserveOrder = getArg(args, "PRESERVE_ORDER", "false").toBoolean,
      emptyInputMarker = getArg(args, "EMPTY_INPUT_MARKER", "false").toBoolean,
      maxRecordsPerFile = getArg(args, "MAX_RECORDS_PER_FILE", "0").toLong,
      saltBuckets = getArg(args, "SALT_BUCKETS", "1").toInt)
    require(config.inDir != null && config.outDir != null && config.markerDir != null,
      "IN_DIR, OUT_DIR and MARKER_DIR are required (flag or env var)")

    withSession("graft-split", args) { spark =>
      getArg(args, "MODE", "batch") match {
        case "streaming" =>
          val ckpt = getArg(args, "CHECKPOINT_DIR")
          require(ckpt != null, "CHECKPOINT_DIR is required in streaming mode")
          val processed = new StreamingSplitJob(spark, config, ckpt).run()
          println(s"[split] mode=streaming kind=${config.kind} " +
            s"processed=${processed.mkString(",")}")
        case _ =>
          val summary = new SplitJob(spark, config).run()
          println(s"[split] kind=${summary.kind} inputs=${summary.inputDates} " +
            s"done=${summary.doneDates} processed=${summary.processedDates.mkString(",")} " +
            s"skippedMissing=${summary.skippedMissing.mkString(",")} " +
            s"skippedEmpty=${summary.skippedEmpty.mkString(",")} " +
            s"droppedNullRows=${summary.droppedNullRows.toSeq.sorted
              .map { case (d, n) => s"$d:$n" }.mkString(",")}")
      }
    }
  }
}
