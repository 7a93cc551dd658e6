package graft.streaming

import graft.operators.Matryoshka
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the persisted matryoshka index
  * ([[graft.operators.Matryoshka]], q157) — the [[StreamingVectors]]
  * contract for the prefix-probed family: each micro-batch plays one
  * ingestion date, assigning ITS OWN vectors once by prefix distance
  * against the quantizer frozen at store init and appending
  * (cell, id, full vector, norm) rows under the batch's `ds=b<id>`
  * partition. Assignment is a per-row pure function of (prefix, frozen
  * centroids), so the streamed store serves bit-equal to a batch-built
  * one (pinned in MatryoshkaSpec).
  *
  * CONTRACT: [[Matryoshka.initModel]] must have run BEFORE the stream
  * starts. Retry idempotence is the storage layer's: a replayed batch
  * drops its own partition ([[Matryoshka.dropDate]]) then re-appends. */
object StreamingMatryoshka {

  /** Attach the assign-and-append sink to a streaming Dataset of
    * embeddings (must carry `idCol` and `vecCol`; model for `table`
    * already initialized). */
  def run(emb: DataFrame, table: String, checkpoint: String,
      pDim: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding",
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(emb, checkpoint, availableNow, suppress) { (batch, id) =>
      Matryoshka.dropDate(batch.sparkSession, table, s"b$id")
      Matryoshka.appendDate(batch, table, s"b$id",
        pDim = pDim, idCol = idCol, vecCol = vecCol)
    }
}
