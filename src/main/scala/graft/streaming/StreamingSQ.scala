package graft.streaming

import graft.operators.IncrementalSQ
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the persisted SQ8 store
  * ([[graft.operators.IncrementalSQ]], q152) — the same foreachBatch
  * contract as [[StreamingVectors]]: each micro-batch plays one ingestion
  * date, encoding ITS OWN embeddings once against the grid frozen at store
  * init and appending the uint8 codes under the batch's `ds=b<id>`
  * partition. Encoding is a per-row pure function of (vector, frozen
  * grid), so the streamed store over any batch split is bit-equal to a
  * batch-built store over the same rows and [[IncrementalSQ.search]]
  * serves identical results from either (pinned in IncrementalSQSpec).
  *
  * CONTRACT: [[IncrementalSQ.initGrid]] must have run BEFORE the stream
  * starts. Retry idempotence comes from the storage layer: a replayed
  * micro-batch first drops its own partition ([[IncrementalSQ.dropDate]])
  * and then re-appends — bucketed `saveAsTable` appends have no dynamic
  * partition overwrite, the explicit drop is that mode spelled out. */
object StreamingSQ {

  /** Attach the encode-and-append sink to a streaming Dataset of
    * embeddings (must carry `idCol` and `vecCol`; grid for `table`
    * already initialized). */
  def run(emb: DataFrame, table: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(emb, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalSQ.dropDate(batch.sparkSession, table, s"b$id")
      IncrementalSQ.appendDate(batch, table, s"b$id",
        idCol = idCol, vecCol = vecCol)
    }
}
