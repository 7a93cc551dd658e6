package graft.streaming

import graft.operators.IncrementalSpans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of incremental repeated-span detection
  * ([[graft.operators.IncrementalSpans]], q109) — completing the
  * incremental-store trio's streaming coverage (dedup, postings, spans):
  * each micro-batch tokenizes and window-hashes its own documents ONCE
  * and appends per-hash counts to the persistent store under the
  * micro-batch's partition. Counts are additive state, so a report
  * against the accumulated store equals the from-scratch
  * [[graft.operators.Corpus.repeatedSpans]] over everything that has
  * streamed in (pinned in StreamingSpec).
  *
  * foreachBatch for the usual reason (the store is the PRODUCT, it lives
  * in the storage layer), and retry idempotence comes from the store's
  * contract: a replayed micro-batch overwrites its own `ds=` partition
  * (dynamic partition overwrite) instead of double-counting. */
object StreamingSpans {

  /** Attach the span-count sink to a streaming Dataset of documents (must
    * carry `doc_id` and `text`). */
  def run(docs: DataFrame, store: String, checkpoint: String,
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalSpans.appendCounts(batch, store, s"b$id")
    }
}
