package graft.operators

import graft.split.{MarkerLedger, PathOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One incremental store family registered with the curation
  * orchestrator ([[CurateJob]]): how to land one ingestion date's slice
  * in the family's persistent store, how to drop that date again (the
  * crash-resume retry guard — every family's documented recovery for a
  * half-appended date), and optionally the family's DAY REPORT (the
  * near-dup pairs / gate stats the date's arrival surfaces).
  *
  * `foldedThrough` (optional) returns the family's RETENTION-FOLD
  * horizon — wire [[StoreMaintenance.foldHorizon]] over the family's
  * tables and [[CurateJob]] mechanically REFUSES to process a missing
  * date at or before it: a fold consumed that date's own partitions, so
  * the drop-then-retry recovery is a silent no-op and the re-append
  * would double-count against the consolidated label (the retention
  * contract in [[CurateJob]]'s scaladoc, now a loud failure instead of
  * a documented hazard wherever the hook is wired).
  *
  * The report function receives the date it reports FOR; to make a
  * reprocessed date (marker deleted, or crash-resumed after later dates
  * landed) bit-equal to its original run, it must serve AS-OF that date
  * (the store families' `upTo` convention — e.g.
  * [[IncrementalSemantic.newPairs]](…, upTo = Some(date))). A report
  * without as-of re-derives against the store's CURRENT state, which is
  * still correct forward-only but not reprocess-stable.
  *
  * `exists` (optional) answers "is the family's backing state created
  * yet?" — wire the family's table/path existence probe. It guards the
  * ONE composition where a report runs against a store no append ever
  * touched: an EMPTY first date (an all-suppressed re-crawl) skips the
  * append, so nothing created the backing tables, and a report that
  * scans them would abort the run (AnalysisException) before the
  * marker commits — wedging the very date the suppression feed exists
  * to produce. On an empty date [[CurateJob]] writes the report only
  * when `exists` answers true (a non-empty date just appended, so its
  * state trivially exists); with the hook unwired, empty-date reports
  * run unconditionally — the pre-r19 behavior. One consequence to
  * know: a marker-delete REPROCESS of an empty first date after the
  * store was since created DOES write its (empty) report partition,
  * so the marker's `outputs` list can differ from the original run's
  * — the as-of caveat above already carries the same class of
  * reprocess asymmetry. */
final case class CurateFamily(
    name: String,
    append: (DataFrame, String) => Unit,
    drop: (SparkSession, String) => Unit,
    report: Option[(SparkSession, String) => DataFrame] = None,
    foldedThrough: Option[SparkSession => Option[String]] = None,
    exists: Option[SparkSession => Boolean] = None)

/** Orchestrator configuration.
  *
  * @param kind      job tag stamped into every marker (the reference's
  *                  marker `kind` field).
  * @param inDir     input catalog: one `{date}.parquet` per ingestion
  *                  date — a single parquet object (the reference's S3
  *                  input shape) OR a Spark dataset directory of that
  *                  name (the shape a 100 TB per-date drop actually has).
  * @param markerDir the done-marker ledger (`{date}.json`, written LAST).
  * @param reportDir day reports land under `{reportDir}/{family}/ds={date}`
  *                  via dynamic partition overwrite (idempotent re-runs).
  * @param families  the registered stores — independent by construction
  *                  (each owns its tables/paths), so a date's per-family
  *                  blocks overlap on a bounded driver pool
  *                  ([[FamilyPar]], bound `maxConcurrentFamilies`);
  *                  reported outputs keep registration order.
  * @param suppressIds the SUPPRESSION FEED — ids every date's slice is
  *                  anti-joined against (on `suppressCol`) before any
  *                  family appends. Wire [[TakedownJob.appliedIds]] here
  *                  and a taken-down document STAYS out of the corpus
  *                  even when a later ingestion date re-delivers it (a
  *                  re-crawl) — without this, curation silently undoes
  *                  takedowns (oracle-gated end to end as q183). The
  *                  feed is read ONCE PER RUN and pinned (takedown
  *                  batches committing mid-run take effect on the next
  *                  run — determinism over freshness: every date of one
  *                  run filters against the same history, and the feed
  *                  read is paid once, not once per date); reprocess
  *                  parity (marker-delete) holds only while the takedown
  *                  ledger hasn't grown since the original run — the
  *                  as-of caveat [[CurateFamily.report]] already carries.
  * @param suppressCol the slice column the suppression ids key on.
  * @param maxConcurrentFamilies bound on the per-date family fan-out
  *                  (default 4 — see [[FamilyPar]]'s sizing note); 1
  *                  restores the strictly sequential loop. */
final case class CurateConfig(
    kind: String,
    inDir: String,
    markerDir: String,
    reportDir: String,
    families: Seq[CurateFamily],
    suppressIds: SparkSession => Option[DataFrame] = _ => None,
    suppressCol: String = "id",
    maxConcurrentFamilies: Int = 4)

/** Run summary — the reference's O15 shape for the curation job. */
final case class CurateSummary(
    kind: String,
    inputDates: Int,
    doneDates: Int,
    missingDates: Seq[String],
    processedDates: Seq[String],
    skippedMissing: Seq[String])

/** LEDGER-DRIVEN INCREMENTAL CURATION — the reference's one genuinely
  * novel idea (list input dates, anti-join the done-marker ledger,
  * process exactly the missing dates, commit a marker LAST —
  * reference/src/Split/parquet-splitter.py:117-196, written once in
  * [[graft.split.MarkerLedger.run]] and faithful for the split engine in
  * [[graft.split.SplitJob]]) generalized over the
  * incremental store families: a production pipeline runs "for each new
  * ingestion date: append to the dedup + semantic + postings + …
  * stores, emit the day's pair/gate reports" as ONE crash-resumable,
  * marker-committed unit, not as N hand-sequenced family calls.
  *
  * Per missing date (sorted; sequential like the reference — each date's
  * appends already fan out across all executors, and failure attribution
  * stays per-date):
  *   1. every registered family DROPS the date first (bounded-metadata
  *      DDL, a no-op on a fresh date) — the crash-resume contract: a
  *      prior run that died mid-date left SOME families appended and no
  *      marker, and every family documents drop-then-retry as its
  *      half-appended-date recovery;
  *   2. every family APPENDS its slice of the date's input;
  *   3. every reporting family's day report is written to
  *      `{reportDir}/{family}/ds={date}` (dynamic partition overwrite —
  *      a re-run replaces only its own partition). The write is an
  *      eager action, so the report is pinned to the store state at
  *      THIS date, never to later appends (the q178 eagerness rule);
  *   4. the marker commits — the date is done exactly when everything
  *      above is durable (marker-LAST, the commit point).
  * A failure anywhere aborts the run with no marker: the next run
  * re-lists, finds the date still missing, and step 1 makes the retry
  * idempotent. A second run over a fully-processed catalog is a no-op;
  * deleting one date's marker reprocesses exactly that date (the split
  * engine's golden semantics, spec-pinned in CurateJobSpec).
  *
  * RETENTION composes BETWEEN runs, with one contract to respect: run
  * store maintenance ([[StoreMaintenance.compact]] and friends) after
  * `run()` returns, never concurrently (the append leases make the
  * overlap fail fast anyway), and only fold dates whose markers you
  * will not delete — a fold CONSUMES per-date history (the families'
  * documented rewrite semantics), so deleting the marker of a folded
  * date would make the next run re-append rows the consolidated
  * partition already holds (double-count). Marker-delete reprocessing
  * is valid exactly while every registered family still holds the
  * date's own partitions — i.e. for dates newer than every family's
  * fold horizon. (A maintenance fold that CRASHES leaves its pending
  * sentinel, and the next run's appends fail fast with the crashed
  * label in the message — re-run that fold to completion first, the
  * families' standard recovery.)
  *
  * Scale shape: the ledger is driver-side strings — one per date
  * partition, not per row (ten years of daily drops ≈ 3,650 entries);
  * everything row-sized flows through the families' own bucketed
  * append/serve plans. A missing input file is warn-and-skip (the
  * reference's O7); an EMPTY date (post-suppression) commits normally
  * with a `{date}.empty` flag beside its marker — no store holds a
  * partition for it, and [[StoreInventory.missingVsLedger]] reads the
  * flag as expected-absent (the split engine's empty-input livelock
  * quirk is a pinned reference behavior there, not a contract here). */
final class CurateJob(spark: SparkSession, config: CurateConfig) {
  private val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)

  def run(): CurateSummary = {
    // the flat catalog contract (see [[CurateConfig.inDir]]): nested drops
    // are invisible rather than discovered-then-skipped
    val backlog = ledger.backlog(config.inDir, config.markerDir)

    // the suppression feed, read ONCE for the whole run and pinned
    // (persist + count: list×history-sized ids held in the block
    // manager, RELEASED in the finally below — a localCheckpoint would
    // outlive the run for the session) — every date filters against the
    // same history and the request-catalog read is paid once, not once
    // per date
    var suppressEval: Option[Option[DataFrame]] = None
    def suppress: Option[DataFrame] = suppressEval.getOrElse {
      val v = config.suppressIds(spark).map { sup =>
        val pinned = sup.select(col(sup.columns.head).as(config.suppressCol))
          .distinct().persist()
        pinned.count() // materialize: one feed read for the whole run
        pinned
      }
      suppressEval = Some(v)
      v
    }

    val cycle = try ledger.run(backlog, config.kind) { date =>
      // refuse a date a retention fold already consumed: its own
      // partitions are gone, so the drop below would silently no-op
      // and the re-append would double-count against the consolidated
      // label — the folded-history contract, enforced where wired
      config.families.foreach(f => f.foldedThrough.foreach(h =>
        h(spark).foreach(hz => require(date > hz,
          s"date $date is at or before family ${f.name}'s retention-" +
            s"fold horizon $hz — its per-date history was consumed, " +
            "reprocessing would double-count; if this is a " +
            "marker-deleted reprocess, restore the marker (the fold " +
            "output already contains the date); if it is a fresh " +
            s"late-arriving backfill, re-stage it under a new date " +
            s"after $hz"))))
      val raw = spark.read.parquet(backlog.inputKey(date))
      // suppression BEFORE any append: a taken-down id re-delivered by
      // this date must never reach a store (anti-join is
      // list×slice-sized — the feed is takedown-history ids, not corpus)
      val slice = suppress.fold(raw)(sup =>
        raw.join(sup, Seq(config.suppressCol), "left_anti"))
      // an EMPTY date (an all-suppressed re-crawl — exactly what the
      // feed exists to produce — or an empty drop) lands NO partition
      // in any store, so it is flagged `{date}.empty` alongside its
      // marker: the ledger-keyed inventory reads the flag as
      // expected-absent instead of false-flagging every family
      // forever. One short-circuited take(1) action per date; the
      // appends are skipped outright (zero-row writes would create no
      // partition anyway — the flag makes that a stated invariant).
      val empty = slice.isEmpty
      // per-family block (crash-resume drop FIRST, then append, then
      // report), fanned out across the independent families on a
      // bounded driver pool — each family owns its tables/paths, so
      // the only thing the sequential loop serialized was fixed
      // latency (leases, DDL, commit protocol); see [[FamilyPar]] for
      // why an arbitrary completion subset at a failure recovers
      // exactly like the sequential prefix did (this drop re-runs)
      val outputs = FamilyPar.map(config.families,
          config.maxConcurrentFamilies) { f =>
        f.drop(spark, date)
        if (!empty) f.append(slice, date)
        // an empty date appended nothing, so a family whose backing
        // state does not exist yet (empty FIRST date) has nothing a
        // report could scan — skip it rather than abort pre-marker
        // (the [[CurateFamily.exists]] contract); a non-empty date
        // just appended, so its state exists by construction
        f.report.filter(_ => !empty || f.exists.forall(_(spark)))
          .map { rep =>
            val dir = PathOps.normalizePrefix(config.reportDir) + f.name
            rep(spark, date).withColumn("ds", lit(date))
              .write.mode("overwrite").partitionBy("ds")
              .option("partitionOverwriteMode", "dynamic")
              .parquet(dir)
            s"$dir/ds=$date"
          }
      }.flatten
      val flag = new org.apache.hadoop.fs.Path(
        PathOps.normalizePrefix(config.markerDir) + s"$date.empty")
      val mfs = flag.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (empty) mfs.create(flag, true).close()
      else mfs.delete(flag, false) // a re-staged non-empty reprocess heals
      Some(outputs) // the cycle commits the marker LAST
    } finally suppressEval.foreach(_.foreach(_.unpersist(false)))
    CurateSummary(config.kind, backlog.input.size, backlog.done.size,
      backlog.missing, cycle.committed, cycle.skippedMissing)
  }
}
