package graft.operators

import graft.split.{MarkerLedger, PathOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One store family registered with the maintenance orchestrator
  * ([[MaintainJob]]): how to run one maintenance window over the
  * family's stores (the fold/compaction calls — typically
  * [[StoreMaintenance.compact]] at the window horizon, with the
  * family's additive merge), optionally the family's RETENTION policy
  * (a [[StoreMaintenance.expire]] call at the policy
  * cutoff — run AFTER the window's folds, so "align expiry horizons
  * with fold horizons" is the orchestrator's mechanical ordering, not
  * operator advice: folding to `c_w` first makes everything at or
  * before `w` provably expirable, and an expiry at cutoff `w` then
  * drops the label whole — nothing is ever stranded behind a
  * past-cutoff label), and optionally the family's health AUDIT
  * (drift PSI, occupancy, inventory — whatever the family watches),
  * evaluated AFTER folds and expiry so it describes the store a reader
  * actually sees. All three receive the window label.
  *
  * Retention vs the ingestion ledger: expiry keeps the expired dates'
  * CURATE MARKERS (the dates stay "done"), so [[CurateJob]] never
  * re-appends them — deleting an expired date's marker would resurrect
  * its data on the next curate run, which is a deliberate operator
  * action, never something a maintenance window does. */
final case class MaintainFamily(
    name: String,
    maintain: (SparkSession, String) => Unit,
    expire: Option[(SparkSession, String) => StoreMaintenance.ExpireResult] =
      None,
    audit: Option[(SparkSession, String) => DataFrame] = None)

/** Orchestrator configuration.
  *
  * @param kind      job tag stamped into the window marker.
  * @param markerDir the done-window ledger (`{window}.json`, written
  *                  LAST — a completed window is skipped wholesale).
  * @param auditDir  audits land under `{auditDir}/{family}/w={window}`
  *                  via dynamic partition overwrite (idempotent re-runs).
  * @param families  the registered stores — independent by
  *                  construction, so a window's per-family blocks
  *                  (maintain → expire → audit, the aligned-horizons
  *                  ordering preserved WITHIN each family) overlap on a
  *                  bounded driver pool ([[FamilyPar]]).
  * @param maxConcurrentFamilies fan-out bound (1 = sequential). */
final case class MaintainConfig(
    kind: String,
    markerDir: String,
    auditDir: String,
    families: Seq[MaintainFamily],
    maxConcurrentFamilies: Int = 4)

/** Run summary — the reference's O15 shape for a maintenance window.
  * `expired` maps each retention-bearing family to the partitions its
  * policy dropped this window (empty seq = idempotent no-op resume). */
final case class MaintainSummary(
    kind: String,
    window: String,
    skipped: Boolean,
    maintained: Seq[String],
    audited: Seq[String],
    expired: Map[String, Seq[String]] = Map.empty)

/** MAINTENANCE-WINDOW ORCHESTRATION — the third leg of the operational
  * triad ([[CurateJob]] ingests, [[TakedownJob]] erases, THIS
  * consolidates and audits): a production pipeline runs "fold every
  * store family's pre-horizon partitions, then capture each family's
  * health audit" as ONE resumable window, not as N hand-sequenced
  * maintenance calls whose partial completion nobody tracks.
  *
  * Per window (one `run(window)` call):
  *   1. every registered family runs its maintenance — the families'
  *      own fold entry points, so a window interrupted anywhere resumes
  *      for free: a [[StoreMaintenance.compact]] whose `c_<window>`
  *      label already committed is a documented no-op, a crashed one
  *      heals at its pending sentinel when re-run with the same label,
  *      and the maintenance leases fail fast against concurrent appends
  *      (run windows BETWEEN orchestrated curation runs, the
  *      [[CurateJob]] retention contract);
  *   2. every retention-bearing family's expiry runs — AFTER the folds
  *      (the aligned-horizons ordering [[MaintainFamily]] documents);
  *      expiry is bounded DDL, idempotent, and a crash between expiry
  *      and the marker resumes clean: the re-run's folds no-op (their
  *      labels are committed or already expired — a label absent with
  *      no pending sentinel is a prior completed fold), and the re-run
  *      expiry finds nothing left at the cutoff;
  *   3. every auditing family's report is written to
  *      `{auditDir}/{family}/w={window}` (dynamic partition overwrite —
  *      a resumed window replaces only its own partition), AFTER folds
  *      and expiry so the audit describes the store a reader sees —
  *      an inventory audit here is where "oldest-held ≤ policy" is
  *      asserted;
  *   4. the window marker commits — the window is done exactly when
  *      every fold, expiry, and audit is durable (marker-LAST, the
  *      commit point, parquet-splitter.py:176-186).
  * A marker-present window is skipped WHOLESALE — at hundreds of store
  * tables even a no-op fold pays a lease acquisition and a partition
  * listing per table, which a completed window must not re-pay.
  *
  * The window label doubles as the fold horizon by convention (`run
  * ("d1")` compacts effective dates ≤ d1 in every registered family) —
  * the one-label-everywhere discipline is what makes the resume
  * analysis compositional: every family's fold in window w carries
  * label `c_w`, so "window w completed in family F" is exactly "label
  * c_w committed in F's tables", with no cross-family bookkeeping.
  *
  * Scale shape: the orchestrator moves no rows itself — everything
  * corpus-sized is the families' own fold plans (distributed read +
  * bucketed write per table); audits are model-bounded by the families'
  * audit contracts; the ledger is one driver-side string per window. */
final class MaintainJob(spark: SparkSession, config: MaintainConfig) {
  private val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)

  def run(window: String): MaintainSummary = {
    if (ledger.doneDatesFlat(config.markerDir).contains(window))
      MaintainSummary(config.kind, window, skipped = true, Nil, Nil)
    else {
      // per-family block, fanned out across the independent families
      // ([[FamilyPar]]): the fold → expiry → audit ordering is a
      // WITHIN-family contract (aligned horizons; audits describe the
      // post-fold store), so fusing the three loops into one per-family
      // task preserves it exactly while overlapping the families'
      // lease/DDL/fold latencies; every step is idempotent or
      // label-resumed, so an arbitrary completion subset at a crash
      // recovers exactly like the sequential prefix did
      val results = FamilyPar.map(config.families,
          config.maxConcurrentFamilies) { f =>
        f.maintain(spark, window)
        // retention AFTER the folds: everything at or before an aligned
        // cutoff now sits under a droppable label (no stranded rows)
        val exp = f.expire.map(e => f.name -> e(spark, window).dropped)
        val aud = f.audit.map { a =>
          val dir = PathOps.normalizePrefix(config.auditDir) + f.name
          a(spark, window).withColumn("w", lit(window))
            .write.mode("overwrite").partitionBy("w")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(dir)
          f.name
        }
        (exp, aud)
      }
      val expired = results.flatMap(_._1).toMap
      val audited = results.flatMap(_._2)
      // marker LAST — the commit point (parquet-splitter.py:176-186)
      ledger.commit(config.markerDir, config.kind, window, config.auditDir,
        config.families.map(_.name))
      MaintainSummary(config.kind, window, skipped = false,
        config.families.map(_.name), audited, expired)
    }
  }
}
