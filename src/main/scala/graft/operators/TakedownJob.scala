package graft.operators

import graft.split.{MarkerLedger, PathOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One store family registered with the takedown orchestrator
  * ([[TakedownJob]]): how to apply one request batch's tombstone ids to
  * the family's persistent store. `delete` receives the batch's
  * surviving id frame (single column `id`) and the batch's DETERMINISTIC
  * generation label, and must route through the family's own
  * marker-committed delete entry point ([[IncrementalPostings
  * .deleteDocs]], [[IncrementalSemantic.deleteIds]],
  * [[IncrementalLangModel.deleteDocs]] via an id→document join, …) so
  * the rewrite protocol — same-gen no-op, crashed-rewrite resume, lease
  * exclusion — is inherited, not re-implemented.
  *
  * `subtractive` marks families whose deletes DECREMENT additive state
  * ([[IncrementalSpans.deleteDocs]], [[IncrementalLangModel.deleteDocs]])
  * rather than dropping id-keyed rows: applying the same batch twice
  * corrupts them, so [[TakedownJob]] refuses OUT-OF-ORDER batches (a
  * missing date older than the newest done marker) when any is
  * registered — see the run loop's fence. */
final case class TakedownFamily(
    name: String,
    delete: (DataFrame, String) => Unit,
    subtractive: Boolean = false)

/** Orchestrator configuration.
  *
  * @param kind       job tag stamped into every marker AND prefixed onto
  *                   every rewrite generation (`{kind}_{date}` — the
  *                   exactly-once key, see [[TakedownJob]]).
  * @param requestDir request catalog: one `{date}.parquet` per takedown
  *                   batch — FIRST column is the id; extra columns
  *                   (request time, reason) ride along and are ignored.
  *                   Flat, like [[CurateConfig.inDir]].
  * @param markerDir  the done-marker ledger (`{date}.json`, written LAST).
  * @param families   the registered stores — independent by
  *                    construction, so a batch's per-family deletes
  *                    overlap on a bounded driver pool ([[FamilyPar]],
  *                    bound `maxConcurrentFamilies`, 1 = sequential);
  *                    the deterministic-gen no-op shield makes any
  *                    completion subset at a crash retry-safe.
  * @param dedupeAcrossDates anti-join each batch's ids against every
  *                   already-APPLIED batch's ids before deleting (default
  *                   on). Required whenever a SUBTRACT family
  *                   ([[IncrementalSpans.deleteDocs]],
  *                   [[IncrementalLangModel.deleteDocs]] — additive
  *                   counts, not id-keyed rows) is registered: an id
  *                   re-requested in a LATER batch would otherwise
  *                   subtract its counts twice. Anti-join families are
  *                   merely saved a no-op rewrite. */
final case class TakedownConfig(
    kind: String,
    requestDir: String,
    markerDir: String,
    families: Seq[TakedownFamily],
    dedupeAcrossDates: Boolean = true,
    maxConcurrentFamilies: Int = 4)

/** Run summary — the reference's O15 shape for the takedown job.
  * `idsApplied` maps each processed date to the count of ids the
  * families actually deleted (post cross-date dedupe). */
final case class TakedownSummary(
    kind: String,
    requestDates: Int,
    doneDates: Int,
    missingDates: Seq[String],
    processedDates: Seq[String],
    skippedMissing: Seq[String],
    idsApplied: Map[String, Long])

/** LEDGER-DRIVEN TAKEDOWN ORCHESTRATION — the destructive dual of
  * [[CurateJob]], completing the batch/streaming × ingest/delete square
  * (ingestion batch = CurateJob, ingestion streaming = the Streaming*
  * duals, deletion streaming = [[graft.streaming.StreamingTombstones]],
  * deletion batch = THIS): opt-out / copyright-removal requests land as
  * dated id-list batches, and each batch must reach EVERY registered
  * store family exactly once, no matter how many times the job crashes
  * and re-runs. The protocol is the reference's marker ledger
  * (reference/src/Split/parquet-splitter.py:117-196 — list dates,
  * anti-join done markers, process the missing, commit a marker LAST;
  * [[graft.split.MarkerLedger.run]]), with the exactly-once guarantee coming from a property the ingest
  * side never needed: the per-date rewrite generation is DETERMINISTIC
  * (`{kind}_{date}`), and a [[StoreMaintenance.rewrite]] whose `r_<gen>`
  * label is already committed is a documented no-op.
  *
  * Per missing date (sorted; sequential like the reference — each
  * batch's rewrites already fan out across all executors):
  *   1. the batch's ids are read (first column, de-duplicated) and —
  *      with `dedupeAcrossDates` — anti-joined against every APPLIED
  *      batch's ids (markers done at entry, plus dates processed
  *      earlier in THIS run), so a re-requested id reaches the subtract
  *      families exactly once across the whole request history;
  *   2. every registered family deletes the survivors under the date's
  *      deterministic gen — one marker-committed rewrite per backing
  *      store, the family's own takedown entry point;
  *   3. the marker commits — the batch is done exactly when every
  *      family's rewrite is durable (marker-LAST, the commit point).
  * An EMPTY surviving set skips step 2 outright (a tombstone rewrite
  * costs a distributed read + bucketed write of the store, which an
  * already-covered batch must not re-pay) and still commits the marker.
  *
  * CRASH ANALYSIS — why every window is safe:
  *   - crash before any rewrite: no marker, next run redoes the date
  *     from step 1 (reads are pure).
  *   - crash mid-rewrite in family k: the rewrite's pending sentinel
  *     marks it; the retry re-runs the SAME gen — families 1..k-1 see
  *     their committed `r_<gen>` label and no-op, family k's fold
  *     resumes at its label, families k+1.. run fresh. The tombstone
  *     frame is recomputed identically (the request file is immutable
  *     and the applied-set at that date is marker-derived, so the
  *     dedupe anti-join re-plans bit-equal).
  *   - crash between the last rewrite and the marker: the retry no-ops
  *     every family (all labels committed) and just writes the marker —
  *     exactly-once EFFECT even though the date "re-runs".
  * This is strictly stronger than [[graft.streaming.StreamingTombstones]]
  * needs its `processedLog` for: there, re-DELIVERY in a later batch
  * gets a fresh batchId (a fresh gen), so the no-op shield misses;
  * here the gen is the request date itself, and cross-date re-requests
  * are handled by the dedupe anti-join against the durable request
  * files — no extra ledger state to maintain.
  *
  * MARKER-DELETE REPROCESS (the split engine's golden semantics) is
  * exactly-once too, with one retention-shaped bound: re-running a date
  * whose marker was deleted no-ops for as long as every family still
  * holds that date's `r_<gen>` label partition. A LATER date's rewrite
  * folds earlier labels into its own, so reprocessing a date older than
  * the newest applied batch re-runs its anti-joins (harmless — the rows
  * are already gone) but would re-SUBTRACT ids unique to that date in a
  * subtract family. Contract, mirroring [[CurateJob]]'s fold note:
  * marker-delete reprocessing is valid for the NEWEST applied date
  * always, and for older dates only where no subtract family is
  * registered.
  *
  * Scale shape: the ledger is driver-side strings (one per request
  * batch); a batch's id list is request-sized, so the single bounded
  * `count()` (emptiness + summary) and the dedupe anti-join cost
  * list×history, never corpus anything. Everything corpus-sized is the
  * families' own rewrites — one distributed read + bucketed write per
  * (store, date), which is why requests should be batched into dated
  * files per processing window rather than one file per request; a
  * whole-source mass takedown (corpus-scale id set) belongs on the
  * families' `large = true` path wired into its `delete` closure
  * ([[StoreMaintenance.tombstoneLarge]]). */
object TakedownJob {
  /** The SUPPRESSION FEED: ids of every COMMITTED request batch —
    * `None` when no batch has committed yet. This is what makes a
    * takedown STICK at a pipeline that keeps ingesting: a re-crawled
    * document re-enters the corpus through a later ingestion date
    * unless curation anti-joins its slices against the takedown
    * history — wire this into [[CurateConfig.suppressIds]] and
    * "forgotten" stays forgotten (oracle-gated end to end as q183).
    *
    * FAILS LOUD on a committed batch whose request file is GONE: the
    * request files are the erasure source of truth, and silently
    * building the feed without one would re-admit that batch's
    * documents on the next re-crawl — the exact silent failure the
    * feed exists to prevent. Retain request files for as long as the
    * marker ledger lives (they are id lists; bytes are never the
    * issue) — or delete the marker WITH the file to disown the batch
    * explicitly.
    *
    * List×history-sized: the read
    * touches only the dated id-list files, never a store. */
  def appliedIds(spark: SparkSession, requestDir: String,
      markerDir: String): Option[DataFrame] = {
    val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)
    val prefix = PathOps.normalizePrefix(requestDir)
    val fs = new org.apache.hadoop.fs.Path(prefix)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = ledger.doneDatesFlat(markerDir).toSeq.sorted
    val gone = done.filterNot(d =>
      fs.exists(new org.apache.hadoop.fs.Path(prefix + s"$d.parquet")))
    if (gone.nonEmpty) throw new IllegalStateException(
      s"committed takedown batch(es) ${gone.mkString(", ")} have no " +
        s"request file under $prefix — the suppression feed cannot be " +
        "built faithfully and a re-crawl would re-admit their " +
        "documents; restore the files, or delete their markers to " +
        "disown the batches explicitly")
    if (done.isEmpty) None
    else {
      // ONE multi-path scan, not a per-batch union: at years of
      // takedown batches an N-way union's plan ANALYSIS alone dominates
      // the feed (measured in README, "Orchestrator ledger and
      // suppression feed — measured at 10-year scale"). Contract: the
      // request catalog has one producer and a stable id column name,
      // so the batches read as one schema.
      val raw = spark.read.parquet(done.map(d => prefix + s"$d.parquet"): _*)
      Some(raw.select(col(raw.columns.head).as("id")).distinct())
    }
  }
}

final class TakedownJob(spark: SparkSession, config: TakedownConfig) {
  private val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)

  /** A batch's id frame: FIRST column, aliased `id`, de-duplicated. */
  private def batchIds(path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    raw.select(col(raw.columns.head).as("id")).distinct()
  }

  def run(): TakedownSummary = {
    // the config contract made loud (ADVICE r17): dedupeAcrossDates is
    // REQUIRED with a subtract family — without it an id re-requested in
    // a later batch subtracts its counts twice, the exact corruption the
    // gone-request-file and out-of-order fences below fail loud for
    require(config.dedupeAcrossDates || !config.families.exists(_.subtractive),
      "dedupeAcrossDates=false with subtractive families registered (" +
        config.families.filter(_.subtractive).map(_.name).mkString(", ") +
        ") — a cross-batch re-requested id would subtract twice; enable " +
        "dedupeAcrossDates or deregister the subtract families")
    // request dates: the flat catalog contract, like [[CurateJob]]'s
    val backlog = ledger.backlog(config.requestDir, config.markerDir)
    val done = backlog.done

    // OUT-OF-ORDER FENCE for subtract families: a missing batch OLDER
    // than the newest done marker is indistinguishable between a
    // late-staged fresh batch (safe) and a marker-deleted reprocess
    // whose r_<gen> label a later batch's rewrite has already folded
    // (re-subtracts — the one window the deterministic-gen shield
    // cannot cover). Anti-join families are immune (re-deleting
    // absent rows is a no-op), so the fence arms only when a
    // subtractive family is registered. The actionable recovery makes
    // the refusal cheap: a genuinely fresh old batch is semantically
    // date-free — re-stage its ids under a NEW date after the newest
    // marker and it applies exactly once.
    if (config.families.exists(_.subtractive))
      for (newest <- done.toSeq.sorted.lastOption;
           stale <- backlog.missing.find(_ < newest))
        throw new IllegalStateException(
          s"batch $stale precedes the newest done marker $newest with " +
            "subtractive families registered — if its marker was deleted, " +
            "a re-run would re-subtract ids a later batch's rewrite " +
            "already folded; restore the marker, or re-stage the ids " +
            s"under a new date after $newest")

    var idsApplied = Map.empty[String, Long]
    // dates whose ids the families have fully absorbed: markers done at
    // entry + dates this run completed. A done batch whose request file
    // aged out weakens the dedupe anti-join — harmless for anti-join
    // families (a re-deleted id removes nothing), but with a SUBTRACT
    // family registered the weakened dedupe could re-subtract a
    // re-requested id, so that combination fails loud (appliedIds'
    // source-of-truth rule).
    val goneDone = done.filterNot(ledger.hasInput(backlog, _))
    if (goneDone.nonEmpty && config.dedupeAcrossDates &&
        config.families.exists(_.subtractive))
      throw new IllegalStateException(
        s"committed batch(es) ${goneDone.toSeq.sorted.mkString(", ")} " +
          "have no request file — the cross-batch dedupe cannot be " +
          "honored and a re-requested id would re-subtract; restore " +
          "the files or delete their markers to disown the batches")
    var applied = done -- goneDone

    val cycle = ledger.run(backlog, config.kind) { date =>
      val ids = batchIds(backlog.inputKey(date))
      // PINNED once per date: the anti-join over the applied-history
      // multi-path scan would otherwise replan per family (the run
      // already pays a count(), so the cache is free) — list-sized,
      // released as soon as the date's rewrites are durable
      val survivors =
        (if (config.dedupeAcrossDates && applied.nonEmpty) {
          // one multi-path scan of the applied history (not an N-way
          // union — see appliedIds' plan-analysis note)
          val hist = spark.read.parquet(
            applied.toSeq.sorted.map(backlog.inputKey): _*)
          ids.join(hist.select(col(hist.columns.head).as("id")),
            Seq("id"), "left_anti")
        } else ids).persist()
      try {
        val n = survivors.count() // bounded: request-list-sized; pins too
        if (n > 0) {
          val gen = s"${config.kind}_$date"
          // independent family rewrites overlap (the survivors frame
          // is pinned by the count above, so threads share the cached
          // blocks); a crash leaves an arbitrary completed subset,
          // which the deterministic-gen no-op shield already covers
          FamilyPar.foreach(config.families,
            config.maxConcurrentFamilies)(_.delete(survivors, gen))
        }
        idsApplied += date -> n
      } finally survivors.unpersist(false)
      applied += date
      Some(config.families.map(_.name)) // the cycle commits the marker LAST
    }
    TakedownSummary(config.kind, backlog.input.size, done.size, backlog.missing,
      cycle.committed, cycle.skippedMissing, idsApplied)
  }
}
