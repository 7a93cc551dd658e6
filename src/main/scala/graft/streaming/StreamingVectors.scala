package graft.streaming

import graft.operators.IncrementalVectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the persisted incremental vector index
  * ([[graft.operators.IncrementalVectors]], q133/q136) — the last index
  * family that had no streaming ingestion path: each micro-batch plays
  * the role of one ingestion date, encoding ITS OWN vectors once against
  * the models frozen at store init (PQ codebook + IVF quantizer
  * centroids) and appending the encodings to the two bucketed store
  * tables under the micro-batch's `ds=b<id>` partition. Because encoding
  * is a per-row pure function of (vector, frozen model), the streamed
  * store over any batch split is bit-equal to a batch-built store over
  * the same rows — so [[IncrementalVectors.adcSearch]] and
  * [[IncrementalVectors.ivfSearch]] serve identical results from either
  * (pinned in StreamingSpec). This is the production RAG ingestion
  * shape: the quantizer trains once, then fresh embeddings stream in and
  * become searchable at the next batch commit with no re-encoding of
  * history.
  *
  * CONTRACT: [[IncrementalVectors.initModel]] must have run (on the
  * initial corpus slice) BEFORE the stream starts — the model tables are
  * the store's frozen state, and the first micro-batch encodes against
  * them. foreachBatch for the usual reason (the store is the PRODUCT —
  * ad-hoc batch searches join against it while the stream runs), and
  * retry idempotence comes from the storage layer: a replayed
  * micro-batch first drops its own `ds=b<id>` partitions
  * ([[IncrementalVectors.dropDate]]) and then re-appends, so at-least-
  * once delivery never double-counts a vector (bucketed `saveAsTable`
  * appends have no dynamic-partition-overwrite mode — the explicit drop
  * is that mode, spelled out). */
object StreamingVectors {

  /** Attach the encode-and-append sink to a streaming Dataset of
    * embeddings (must carry `idCol` and `vecCol`; models for `table`
    * already initialized). */
  def run(emb: DataFrame, table: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(emb, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalVectors.dropDate(batch.sparkSession, table, s"b$id")
      IncrementalVectors.appendDate(batch, table, s"b$id",
        idCol = idCol, vecCol = vecCol)
    }
}
