package graft.split

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-native variant of the split pipeline: a Structured Streaming
  * file source with `Trigger.AvailableNow` replaces the marker ledger's
  * listing/anti-join — the source's checkpoint tracks which input files are
  * done (SURVEY.md §1.1: the idiomatic Spark analog of the reference's
  * hand-rolled batch incrementality).
  *
  * Markers remain the EXTERNAL contract (written after each date's outputs
  * commit, same JSON as the batch path); the checkpoint is internal state
  * only (SURVEY.md §7.4). Run-to-run incrementality: a second run with the
  * same checkpoint processes nothing; new files under `inDir` are picked up
  * on the next run.
  *
  * Caveat vs the batch ledger: "done" is per input FILE in the checkpoint;
  * the guards differ slightly (an empty file is checkpointed as consumed,
  * where the batch path re-examines it forever — the reference's livelock
  * quirk, SURVEY.md §2.2.4, is deliberately NOT reproduced here).
  */
final class StreamingSplitJob(spark: SparkSession, config: SplitConfig,
    checkpointDir: String) {

  def run(): Seq[String] = {
    val inDir = PathOps.normalizePrefix(config.inDir)
    // schema from a one-time batch peek (file-stream sources need one)
    val schema = spark.read.parquet(inDir).schema
    val processed = scala.collection.mutable.ListBuffer.empty[String]
    // full config pass-through: streaming honors preserveOrder and the
    // hot-key bounding knobs exactly like the batch path
    val splitter = new Splitter(spark, config.keyCol, config.preserveOrder,
      config.maxRecordsPerFile, config.saltBuckets)
    val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)

    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(inDir)
      .withColumn("__src", input_file_name())

    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val dates = batch.select(col("__src")).distinct().collect()
          .map(r => PathOps.basename(r.getString(0)).stripSuffix(".parquet")).sorted
        dates.foreach { date =>
          val forDate = batch
            .filter(col("__src").endsWith(s"/$date.parquet")).drop("__src")
          val outputs = splitter.writeGroups(forDate, config.outDir, date)
          ledger.commit(config.markerDir, config.kind, date,
            inDir + s"$date.parquet", outputs.sorted)
          processed.synchronized { processed += date }
        }
      }
      .start()
    q.awaitTermination()
    processed.toList.sorted
  }
}
