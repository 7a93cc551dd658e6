package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The micro-batch sink every streaming dual attaches: a `foreachBatch`
  * writer checkpointed under `checkpoint` (a restart resumes from the
  * committed offsets), `Trigger.AvailableNow` when asked (drain what has
  * arrived, then stop — tests and backfills), and the optional
  * per-batch `suppress` transform ([[Suppression.filterBatch]]) applied
  * before `body` sees the batch and its id. */
private[streaming] object MicroBatch {

  def sink(source: DataFrame, checkpoint: String, availableNow: Boolean,
      suppress: Option[DataFrame => DataFrame] = None)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (raw: DataFrame, id: Long) =>
        body(suppress.fold(raw)(f => f(raw)), id)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }
}
