package graft.streaming

import graft.operators.{IncrementalPostings, IncrementalStore, TableLoc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of incremental index maintenance
  * ([[graft.operators.IncrementalPostings]], q120): each micro-batch
  * tokenizes its own documents and appends their (term, doc_id, tf) rows
  * to the persistent store under the micro-batch's partition — the
  * streaming arrival of the ingestion dates the batch operator models.
  * tf rows are additive state, so the store's report equals the
  * from-scratch [[graft.operators.Search.postings]] over everything that
  * has streamed in (pinned in StreamingSpec).
  *
  * foreachBatch for the usual reason (the store is the PRODUCT, it lives
  * in the storage layer), and retry idempotence comes from the store's
  * contract: a replayed micro-batch overwrites its own `ds=` partition
  * (dynamic partition overwrite) instead of double-counting. */
object StreamingPostings {

  /** Attach the indexing sink to a streaming Dataset of documents (must
    * carry `doc_id` and `text`). */
  def run(docs: DataFrame, store: String, checkpoint: String,
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalPostings.appendCounts(batch, store, s"b$id")
    }

  /** BUCKETED-store dual feeding the q158 BM25 serve: each micro-batch
    * appends its tf rows to the term-bucketed table AND its per-doc
    * lengths to the doc-bucketed norms table — the full lexical-index
    * state, so [[IncrementalPostings.bm25Bucketed]] answers from a
    * store that streamed in (streamed == batch, pinned in
    * StreamingSpec; both are additive state). Retry idempotence is the
    * family's explicit-drop rule: bucketed `saveAsTable` appends have
    * no dynamic partition overwrite, so a replayed batch drops its own
    * `ds=b<id>` partitions from BOTH tables first. */
  def runBucketed(docs: DataFrame, table: String, checkpoint: String,
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      IncrementalStore.dropDate(batch.sparkSession,
        Seq(TableLoc(table), TableLoc(s"${table}_dl")), s"b$id")
      IncrementalPostings.appendCountsBucketed(batch, table, s"b$id")
      IncrementalPostings.appendNorms(batch, table, s"b$id")
    }
}
