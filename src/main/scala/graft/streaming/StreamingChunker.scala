package graft.streaming

import graft.operators.Corpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of corpus chunking ([[graft.operators.Corpus.chunk]],
  * q97): a document's chunks are a pure function of that document alone,
  * so unlike [[StreamingDedup]] the stream carries NO cross-batch state —
  * each micro-batch chunks its own documents and appends them to the
  * chunk store. The cumulative store therefore equals the from-scratch
  * batch result by construction, and the spec pins it
  * (stream-union == batch, the StreamingDedup equivalence pattern).
  *
  * foreachBatch rather than a plain streaming transform for the same
  * reason as StreamingDedup: the chunk table is the PRODUCT (RAG indexers
  * and packers join against it), so it lives in the storage layer, and
  * retry idempotence comes from there too — output is partitioned by
  * micro-batch id with dynamic partition overwrite, so a replayed batch
  * replaces its own chunks instead of duplicating them. */
object StreamingChunker {

  /** Attach the chunking sink to a streaming Dataset of documents (must
    * carry `doc_id` and `text`). Emits (doc_id, chunk_id, n_tokens,
    * chunk_fp) rows to `chunksOut`, partitioned by originating batch. */
  def run(docs: DataFrame, chunksOut: String, checkpoint: String,
      window: Int = 64, stride: Int = 48,
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      Corpus.chunk(batch, window, stride)
        .withColumn("batch", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(chunksOut)
    }
}
