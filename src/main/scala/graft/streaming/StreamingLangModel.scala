package graft.streaming

import graft.operators.IncrementalLangModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the incremental NB language-ID model
  * ([[graft.operators.IncrementalLangModel]], q145) — labeled training
  * documents stream in, each micro-batch counts ITS OWN docs once
  * (trigram counts + per-language priors, the 50% content-addressed
  * holdout applied per row) and appends the sums under the batch's
  * partition. NB state is ADDITIVE, so the accumulated store scores
  * bit-equal to a one-shot train over everything that has streamed in
  * (pinned in StreamingSpec) — the classifier improves continuously
  * with no retraining pass, which is precisely how a labeling fleet
  * wants its language model to behave.
  *
  * foreachBatch for the usual reason (the store is the PRODUCT); retry
  * idempotence from the store's contract (a replayed micro-batch
  * overwrites its own `ds=` partitions via dynamic partition overwrite
  * instead of double-counting). The takedown dual is
  * [[StreamingTombstones]]' langmodel path — exact unlearning, with
  * the documented exactly-once-across-batches upstream contract. */
object StreamingLangModel {

  /** Attach the NB-count sink to a streaming Dataset of labeled
    * documents (must carry `doc_id`, `lang` and `text`). */
  def run(docs: DataFrame, store: String, checkpoint: String,
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalLangModel.appendCounts(batch, store, s"b$id")
    }
}
