package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming dual of the DELETION-PROPAGATION pass (q160–q166) — the
  * shape a production takedown pipeline actually has: opt-out /
  * copyright-removal REQUESTS arrive continuously (a queue, not a cron
  * job), and each micro-batch physically removes its ids from every
  * registered store family while the serving stack stays online. Every
  * other mutation path in the store contract already had a streaming
  * dual (ingestion: StreamingVectors/SQ/Matryoshka/Postings/Components/
  * Spans/Dedup); this one completes the symmetry for the destructive
  * direction.
  *
  * The caller wires one delete callback per family — the SAME tombstone
  * entry points the batch pass uses ([[graft.operators
  * .IncrementalPostings.deleteDocs]], [[graft.operators.Matryoshka
  * .deleteIds]], …) — so the removal semantics (marker-committed
  * rewrite, rows GONE not masked, lease exclusion against concurrent
  * folds) are inherited, not re-implemented.
  *
  * RETRY IDEMPOTENCE is two layers deep, and both matter for
  * at-least-once delivery: (a) a replayed micro-batch re-runs its
  * rewrites under the SAME generation `b<batchId>`, and a completed
  * rewrite at that gen is a documented no-op ([[graft.operators
  * .StoreMaintenance.rewrite]]: the partitions are already folded into
  * its label); (b) even a tombstone id delivered again in a LATER batch
  * is harmless — the anti-join of already-deleted rows removes nothing.
  * A crash BETWEEN families (batch applied to family 1, not yet to
  * family 2) heals the same way: the replay no-ops family 1 and
  * completes family 2.
  *
  * CAVEAT — layer (b) holds only for the ANTI-JOIN families (rows
  * keyed by the tombstoned id). The SUBTRACT families
  * ([[graft.operators.IncrementalSpans.deleteDocs]],
  * [[graft.operators.IncrementalLangModel.deleteDocs]] — additive counts
  * with no per-doc rows) would subtract a re-delivered document TWICE:
  * for those, pass `processedLog` — a tiny per-batch id ledger that
  * turns at-least-once delivery into exactly-once EFFECT. Each batch
  * anti-joins its requests against every id an earlier (completed)
  * batch logged, runs the deletes on the survivors, and only THEN
  * appends its own ids under its batch partition — so at every crash
  * point the replay is safe: log-absent ⇒ the deletes re-run and the
  * per-family same-gen no-op absorbs any partial completion; log-present
  * ⇒ the deletes are known complete and the batch skips them. Without
  * `processedLog` the upstream queue must deliver each takedown exactly
  * once across batches itself.
  *
  * An EMPTY micro-batch is skipped outright — a tombstone rewrite's
  * cost is one distributed read + bucketed write of the store, which an
  * empty request batch must not pay (the empty-batch guard is the
  * difference between "idle stream costs nothing" and "idle stream
  * rewrites every store once per trigger"). */
object StreamingTombstones {

  /** Attach the takedown sink to a streaming Dataset of tombstone ids
    * (FIRST column = the id; extra columns — request time, reason —
    * ride along and are ignored by the anti-join). `deletes` is one
    * `(tombstones, gen) => Unit` per store family, each typically a
    * partially-applied family tombstone entry point.
    *
    * The generation is `b<batchId>_<checkpoint hash>`, NOT the bare
    * batch id: rewrite generations must be fresh per logical mutation
    * (the [[graft.operators.StoreMaintenance.rewrite]] contract — a
    * re-run at an already-consumed gen is a no-op), and bare batch ids
    * collide the moment a SECOND stream points at the same store — both
    * start at batch 0, the first folds the whole store into its `r_b0`
    * generation, and the second's `r_b0` rewrite would no-op, silently
    * SKIPPING its deletions (a data-retention violation with no error).
    * The checkpoint hash is stable across restarts of the SAME stream,
    * so crash-replay idempotence (same batch ⇒ same gen ⇒ no-op) is
    * untouched; distinct streams get distinct gens and compose as
    * ordinary sequential rewrites instead of aliasing. */
  /** 64-bit FNV-1a of the checkpoint URI (the repo's hash convention):
    * deterministic across JVMs, and wide enough that two streams'
    * (batchId, nonce) generation labels aliasing is negligible. */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
    h
  }

  def run(requests: DataFrame, checkpoint: String,
      deletes: Seq[(DataFrame, String) => Unit],
      availableNow: Boolean = false,
      processedLog: Option[String] = None): StreamingQuery = {
    val nonce = f"${fnv64(
      new org.apache.hadoop.fs.Path(checkpoint).toUri.toString)}%016x"
    MicroBatch.sink(requests, checkpoint, availableNow) { (batch, id) =>
      val spark = batch.sparkSession
      // the guard and the N rewrites re-read the batch: pin it once
      // (takedown-list-sized, bounded by contract)...
      val raw = batch.localCheckpoint()
      val key = raw.columns.head
      val ids = processedLog.fold(raw) { log =>
        // exactly-once EFFECT for the subtract families: drop every id
        // a completed earlier batch already logged (see the caveat in
        // the object scaladoc for the crash-window argument)
        val root = new org.apache.hadoop.fs.Path(log)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(root)) raw
        else raw.join(
          spark.read.parquet(log).select(org.apache.spark.sql.functions
            .col(key)),
          Seq(key), "left_anti").localCheckpoint()
      }
      try if (!ids.isEmpty) {
        deletes.foreach(_(ids, s"b${id}_$nonce"))
        // the ledger append lands ONLY after every delete returned
        // (log-present must always mean deletes-complete) and
        // OVERWRITES this batch's own partition on a replay — never
        // double-logs
        if (processedLog.isDefined)
          graft.operators.IncrementalStore.appendPath(
            ids.select(key), processedLog.get, s"b${id}_$nonce")
      } finally {
        // FREE the pins once the batch is done — a long-running stream
        // must not accumulate one pinned snapshot per micro-batch
        // until the ContextCleaner happens to GC it
        graft.operators.Components.freeLocalCheckpoint(ids)
        graft.operators.Components.freeLocalCheckpoint(raw)
      }
    }
  }
}
