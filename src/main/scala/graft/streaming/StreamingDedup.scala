package graft.streaming

import graft.operators.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the incremental signature-store dedup
  * ([[graft.operators.IncrementalDedup]]): each micro-batch plays the role
  * of one ingestion date — its documents are MinHash-signed ONCE, appended
  * to the persistent signature store under the batch id, and band-joined
  * against the accumulated store; the emitted pairs are exactly
  * `processDate`'s, so the stream's cumulative output equals the union of
  * daily batch outputs equals the from-scratch batch result
  * (IncrementalDedupSpec's invariant, re-pinned for the stream in
  * StreamingSpec).
  *
  * foreachBatch rather than a stateful operator, deliberately: the
  * signature store must outlive the stream (it IS the product — the next
  * day's batch or ad-hoc batch jobs join against it), so state belongs in
  * the store, not in opaque HDFSBackedStateStore files. Idempotence on
  * micro-batch retry comes from the storage layer, like the split engine's
  * markers: signature appends overwrite only their own `ds=b<id>`
  * partition, and pair output is partitioned by batch id with dynamic
  * overwrite — a replayed batch replaces its own output instead of
  * duplicating it.
  */
object StreamingDedup {

  /** Attach the incremental-dedup sink to a streaming Dataset of documents
    * (must carry `idCol` and `text`). Emits verified-threshold candidate
    * pairs (a_id, b_id, est_jaccard) to `pairsOut`, partitioned by the
    * originating micro-batch. */
  def run(docs: DataFrame, store: String, pairsOut: String,
      checkpoint: String, threshold: Double = 0.5, idCol: String = "doc_id",
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalDedup.processDate(batch.sparkSession, batch, store,
          s"b$id", threshold, idCol)
        .withColumn("batch", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(pairsOut)
    }
}
