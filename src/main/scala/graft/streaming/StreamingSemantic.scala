package graft.streaming

import graft.operators.IncrementalSemantic
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the incremental SEMANTIC near-dup store
  * ([[graft.operators.IncrementalSemantic]], q178) — the foreachBatch
  * contract every other incremental family has: each micro-batch plays
  * one ingestion date, hashing ITS OWN embeddings once against the
  * banding model frozen at store init and appending band rows + vectors
  * under the batch's `ds=b<id>` partitions. Band hashes are a per-row
  * pure function of (vector, frozen config), so the streamed store over
  * any batch split is bit-equal to a batch-built store over the same
  * rows, and [[IncrementalSemantic.newPairs]] reports identically from
  * either (pinned in StreamingSpec: the union of per-batch reports
  * equals the exact all-pairs set, each pair once).
  *
  * CONTRACT: [[IncrementalSemantic.initModel]] must have run BEFORE the
  * stream starts (the width law needs the horizon size — a streaming
  * source cannot supply it). Retry idempotence is the storage layer's:
  * a replayed micro-batch drops its own partitions first
  * ([[IncrementalSemantic.dropDate]] — bucketed appends have no dynamic
  * partition overwrite). `onNewPairs` receives each batch's verified
  * pair report, MATERIALIZED (a deferred plan would scan later batches'
  * partitions and double-report cross-batch pairs — the q178 eagerness
  * rule) and RELEASED when the callback returns: consume or copy it
  * inside the callback. */
object StreamingSemantic {

  /** Attach the hash-append-report sink to a streaming Dataset of
    * embeddings (must carry `idCol` and `vecCol`; model for `table`
    * already initialized). */
  def run(emb: DataFrame, table: String, checkpoint: String,
      threshold: Double = 0.9, idCol: String = "vec_id",
      vecCol: String = "embedding", availableNow: Boolean = false,
      onNewPairs: DataFrame => Unit = _ => (),
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(emb, checkpoint, availableNow, suppress) { (batch, id) =>
      val spark = batch.sparkSession
      IncrementalSemantic.dropDate(spark, table, s"b$id")
      IncrementalSemantic.appendDate(batch, table, s"b$id",
        idCol = idCol, vecCol = vecCol)
      // eager: the report must be pinned to THIS batch's store state
      val pairs = IncrementalSemantic
        .newPairs(spark, table, s"b$id", threshold).localCheckpoint()
      try onNewPairs(pairs)
      finally graft.operators.Components.freeLocalCheckpoint(pairs)
    }
}
