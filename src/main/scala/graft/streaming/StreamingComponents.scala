package graft.streaming

import graft.operators.IncrementalComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the incremental clustering store
  * ([[graft.operators.IncrementalComponents]]) — the same foreachBatch
  * contract as every other family's dual (StreamingDedup, StreamingVectors,
  * the span/postings sinks): each micro-batch plays one ingestion date;
  * its documents are archived to the corpus store, signed once, verified
  * against the accumulated signature store, and folded into the label +
  * rep-map stores via `processDate`. The stream's final labels equal the
  * batch pipeline's equal the from-scratch clustering (pinned in
  * StreamingSpec via the q148 invariant chain).
  *
  * The corpus archive exists because exact verification is part of the
  * contract: a candidate pair is only an edge once true Jaccard clears the
  * threshold, and that needs both endpoint TEXTS. Verification is bounded
  * to candidate endpoints (processDate semi-joins before shingling), so
  * the archive is read selectively, never re-shingled wholesale.
  *
  * Idempotence on micro-batch retry comes from the storage layer, the
  * split-engine marker convention: the corpus/signature appends overwrite
  * only their own `ds=b…` partition; label rows are append-once behind a
  * left-anti; and a replayed batch whose crash window fell between the
  * label write and the rep-map write HEALS — the replay recomputes edges
  * from the signature store, the not-yet-merged representatives still
  * differ after contraction, and the rep-map composition reruns
  * (spec-pinned: deleting the latest rep-map version and replaying the
  * date restores identical labels).
  *
  * Batch ids are zero-padded: the rep-map's "latest version" read orders
  * versions lexicographically (the q91 `d0 < d1` convention), which `b2` /
  * `b10` would break. */
object StreamingComponents {

  private[streaming] def batchDs(id: Long): String = f"b$id%09d"

  /** Attach the incremental-clustering sink to a streaming Dataset of
    * documents (must carry `idCol` and `text`). Stores live under
    * `base/{corpus,sigs,labels,repmap}`; read results with
    * [[IncrementalComponents.currentLabels]]. */
  def run(docs: DataFrame, base: String, checkpoint: String,
      threshold: Double = 0.5, idCol: String = "doc_id",
      availableNow: Boolean = false,
      suppress: Option[DataFrame => DataFrame] = None): StreamingQuery =
    MicroBatch.sink(docs, checkpoint, availableNow, suppress) { (batch, id) =>
      val s = batch.sparkSession
      val slice = batch.select(col(idCol), col("text"))
      // skip empty batches (AvailableNow on an empty source fires one):
      // an empty slice writes no data files, and the archive must be
      // read with an explicit schema anyway — inference over a
      // zero-file directory throws, the exact failure readOrEmpty
      // guards against for the label/repmap stores
      if (!slice.isEmpty) {
        slice.withColumn("ds", lit(batchDs(id)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ds")
          .parquet(s"$base/corpus")
        val corpusSchema = org.apache.spark.sql.types.StructType.fromDDL(
          s"$idCol BIGINT, text STRING, ds STRING")
        val all = s.read.schema(corpusSchema).parquet(s"$base/corpus")
          .select(col(idCol), col("text"))
        IncrementalComponents.processDate(s, slice, all,
          s"$base/sigs", s"$base/labels", s"$base/repmap", batchDs(id),
          threshold, idCol)
      }
    }
}
