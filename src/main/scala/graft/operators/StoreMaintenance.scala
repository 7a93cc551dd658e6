package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retention maintenance for the incremental per-date stores (the q92
  * signature bands, q128 postings, q133 codes/cells tables and the q109
  * span-count path store) — one protocol over both store kinds, which
  * differ only in their [[StoreLoc]]. All of them append one set of
  * files per ingestion date FOREVER — correct (rows are additive or disjoint
  * state) but unbounded: at thousands of dates the per-bucket file count
  * grows linearly and scan open-cost starts to dominate the reports the
  * layouts exist to serve (the same unbounded-growth property as the
  * reference's marker ledger; Lucene solves it with segment merges,
  * Iceberg/Delta with compaction passes — this is that pass).
  *
  * [[compact]] folds every date partition at-or-before a horizon into ONE
  * consolidated partition `c_<horizon>`, PRESERVING the table's bucket
  * spec (read from catalog metadata, never re-declared): the fold reads
  * the old span once and writes it once through the same bucketed-append
  * path the daily ingests use, so every plan property the layout grants —
  * the zero-exchange postings report, the ADC no-reshuffle, the IVF
  * bucket prune — holds identically on the compacted store, and the
  * reports are bit-equal (rows are merely re-binned across `ds`; every
  * reader aggregates over dates — pinned in StoreMaintenanceSpec,
  * oracle-gated as q135). Already-compacted partitions fold again
  * (`c_d1` is "everything ≤ d1" and folds into a later `c_d5`), so
  * periodic compaction keeps the partition count proportional to the
  * retention window, not the table's age.
  *
  * CRASH SAFETY (exactly-once rows without a transactional format): the
  * consolidated partition is not authoritative until a `_compact_…_done`
  * marker lands next to the store's partition dirs — publish, THEN
  * marker, THEN drop the old partitions, THEN clear the sentinel and
  * last the marker (sentinel first so a reader never sees "sentinel
  * without marker" after the olds are gone — that state means
  * "uncommitted label" to [[consistentScan]]). A re-run
  * resumes from any interruption: no marker ⇒ the consolidated partition
  * is a partial write, drop it and redo from the still-intact old
  * partitions; marker present ⇒ the fold is complete, just finish
  * dropping whatever old partitions remain. The marker plays the role of
  * the split engine's commit-point JSON (written LAST, after the data it
  * vouches for). A production deployment on an eventually-consistent
  * object store would swap this for a transactional table format's
  * commit; the protocol is the same. Resumption is ORDERED, not merely
  * possible: a `_fold_pending_<label>` sentinel (see the fold-pending
  * note below) makes every other fold and every append fail fast until
  * the crashed fold is re-run to completion under its own label, so an
  * orphaned half-committed generation can never be folded as ordinary
  * data (double count) and a post-marker resume can never drop a date
  * appended after the crash (data loss).
  *
  * Scale shape: one distributed read + one distributed bucketed write of
  * the folded span (kept partitions are NEVER rewritten), plus bounded
  * catalog metadata (the partition list). Nothing store-sized touches
  * the driver. */
object StoreMaintenance {

  private def effectiveDate(ds: String): String = ds.stripPrefix("c_")

  // ---- writer/compactor mutual exclusion ---------------------------------
  //
  // The fold's marker protocol protects against CRASHES, not concurrency: a
  // daily-append job that overlaps a scheduled fold would race the
  // partition drops (the fold's file listing predates the append — the
  // appended rows land in a partition the fold is about to drop). The
  // leases below make that overlap fail FAST on whichever side arrives
  // second, in BOTH directions: a fold holds the exclusive
  // `_maintenance_lease` in the store root for its duration; an append
  // holds a shared `_append_lease_<nonce>` for the duration of ITS write
  // ([[withAppendLease]]). Each side declares its own lease FIRST and only
  // then checks for the other, so in every interleaving at least one side
  // sees the other's file and aborts: a fold that starts after an append's
  // check now finds the append's lease in its post-acquire listing and
  // backs off, closing the window where it could drop the partition the
  // in-flight append is writing. (Two overlapping starts can mutually
  // abort — fail-fast, a retry succeeds; appends to different dates never
  // conflict with each other because append leases are shared.) Best
  // effort by design — create-exclusive is atomic on HDFS and local
  // filesystems but only best-effort on eventually-consistent object
  // stores, where the transactional-format commit (the object scaladoc's
  // deployment note) is the real answer.
  //
  // Staleness mirrors the Warehouse orphan rule, hardened for shared
  // filesystems: the lease embeds (pid, timestamp, hostname, nonce), and
  // the pid-liveness check applies ONLY when the hostname matches this
  // host — on HDFS a live fold's lease written from another host must not
  // be judged dead just because that pid is absent locally. Foreign-host
  // (or legacy host-less) leases are reclaimed only by stillness past
  // [[DefaultLeaseMaxAgeHours]] — a crashed foreign-host fold is
  // recoverable without manual lease surgery, while a LIVE foreign fold
  // (hours, not days) is never at risk.
  //
  // Read hardening (round 14): a lease read in the window between the
  // create-exclusive claim and the content write used to parse as a
  // host-less holder with ts=0, which the stillness rule judged aged —
  // i.e. the sweep could DELETE a live in-flight lease. The content now
  // carries a leading format marker and a field count, so a partial read
  // can never parse as a valid-but-ancient holder: anything unparseable is
  // an UNKNOWN holder aged by the lease FILE's mtime (fresh in the write
  // window ⇒ live; a genuinely abandoned corrupt lease still ages out
  // instead of wedging the store forever). Sweeps re-read the lease
  // immediately before deleting and only delete content they judged —
  // a lease replaced between judgment and delete survives. Both are
  // best-effort narrowings of windows a plain filesystem cannot close
  // (the transactional-format commit remains the object-store answer).

  /** Default staleness horizon for lease reclamation: a lease older than
    * this is treated as abandoned even when its holder cannot be probed
    * (foreign host, unreadable content). Folds and appends are
    * minutes-long operations; 24 h is orders of magnitude past any live
    * hold while still bounding how long a crashed foreign-host fold can
    * block a store. */
  val DefaultLeaseMaxAgeHours: Double = 24.0

  private[operators] def leaseFile(location: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(location, "_maintenance_lease")

  private val AppendLeasePrefix = "_append_lease_"
  private val LeaseFormatMarker = "v2"

  // ---- fold-pending sentinel (crash-ORDERING, on top of the leases) ------
  //
  // The leases exclude LIVE overlap; the marker makes one fold's own
  // crash resumable. Neither orders a crashed fold against the NEXT
  // mutation: a fold that dies between publishing its label partition and
  // its marker (or between the marker and finishing the old-partition
  // drops) leaves its stale lease to the dead-pid/age sweep, after which
  //   (a) a DIFFERENT-label fold would read the orphaned label partition
  //       as an ordinary old and fold it TOGETHER with the very
  //       partitions it duplicates — every row double-counted into a
  //       committed generation, silently; and
  //   (b) an append could land a fresh date partition that the crashed
  //       fold's own same-gen resume (marker already present ⇒ skip to
  //       the drop phase) would DROP without ever folding — data loss
  //       through the documented recovery path.
  // The `_fold_pending_<label>` sentinel closes both: created before the
  // fold's first effect and removed only after its last, it makes
  // "resume the crashed fold with the SAME label first" an ENFORCED
  // contract (the SQ-refit `_grid_prev` discipline, generalized) — any
  // other fold and any append fail fast with the crashed label in the
  // message, and the same-label re-run heals every crash point and
  // clears the sentinel.

  private val FoldPendingPrefix = "_fold_pending_"

  private[operators] def pendingFile(location: String,
      label: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(location, s"$FoldPendingPrefix$label")

  /** Labels of folds that started on this store and have not finished. */
  private def pendingFolds(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(FoldPendingPrefix))
      .map(_.stripPrefix(FoldPendingPrefix)).toSeq

  /** Run one fold under the pending sentinel: refuse while a DIFFERENT
    * label's fold is unfinished; plant this label's sentinel before the
    * first effect; clear it only after `body` returns (an exception or a
    * crash leaves it, forcing the same-label resume). Caller holds the
    * maintenance lease, so sentinel creation cannot race another fold.
    *
    * `freshNoOp` runs BEFORE the sentinel is created on a fresh invocation
    * (sentinel absent): it cleans any orphan marker a prior COMPLETED fold
    * left behind and answers "is this label already committed?" — true ⇒
    * return without ever planting the sentinel. A replayed
    * already-completed fold used to plant the sentinel first and only then
    * discover the no-op, and in that window concurrent
    * [[consistentScan]] readers saw "sentinel present
    * + marker absent" and excluded the COMMITTED label partition (serving
    * without the entire folded history); the check-then-skip is safe here
    * because the caller's maintenance lease already excludes racing
    * mutations.
    *
    * `body` receives whether the sentinel PRE-EXISTED — the discriminator
    * between "resume of a crashed fold" (every on-disk state is the
    * crashed fold's own, and appends have been blocked since before its
    * first effect) and "fresh fold invocation" (anything this label left
    * on disk is residue of a PRIOR COMPLETED fold, because the sentinel
    * outlives both the marker and the drops — see [[foldBody]]). The
    * trailing delete is an idempotent backstop: a completing body removes
    * the sentinel itself, BEFORE the marker (reader-ordering). */
  private def withPendingSentinel(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, label: String)
      (freshNoOp: () => Boolean)(body: Boolean => Unit): Unit = {
    val others = pendingFolds(fs, root).filterNot(_ == label)
    if (others.nonEmpty) throw new IllegalStateException(
      s"fold '$label' rejected: crashed/unfinished fold '${others.head}' on " +
        s"$root must be re-run to completion (same label) first — folding " +
        "around its orphaned generation partition would double-count rows")
    val pending = pendingFile(root.toString, label)
    val preExisted = fs.exists(pending)
    if (!preExisted && freshNoOp()) return
    if (!preExisted) fs.create(pending, true).close()
    body(preExisted)
    fs.delete(pending, false)
    ()
  }

  private def localHost: String =
    scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
      .getOrElse("unknown-host")

  private def leaseContent(): String =
    s"$LeaseFormatMarker ${ProcessHandle.current().pid()} " +
      s"${System.currentTimeMillis()} $localHost ${java.util.UUID.randomUUID()}"

  /** `readable` = the content parsed as a complete lease record; an
    * unreadable holder is never pid-probed and its `ts` is the lease
    * file's mtime (see the read-hardening note above). `raw` is the exact
    * content the judgment was made on — sweeps compare it before delete. */
  private case class LeaseHolder(pid: Long, ts: Long, host: String,
      raw: String, readable: Boolean)

  private def leaseHolder(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[LeaseHolder] =
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val parts = s.trim.split(" ")
      if (parts.headOption.contains(LeaseFormatMarker)) {
        // current format: exactly "v2 pid ts host nonce" — a truncated
        // write has the marker but not the count, and falls to unreadable
        require(parts.length == 5)
        LeaseHolder(parts(1).toLong, parts(2).toLong, parts(3), s,
          readable = true)
      } else {
        // legacy formats: "pid ts" (host-less ⇒ foreign, age-only) and
        // "pid ts host nonce"
        LeaseHolder(parts(0).toLong, parts(1).toLong,
          if (parts.length >= 3) parts(2) else "?", s, readable = true)
      }
    }.toOption
      .orElse(scala.util.Try { // unreadable ⇒ unknown holder, aged by mtime
        LeaseHolder(-1L, fs.getFileStatus(p).getModificationTime, "?",
          raw = "", readable = false)
      }.toOption)

  private def leaseStale(holder: LeaseHolder): Boolean = {
    // pid liveness is only meaningful on the host that wrote the lease,
    // and only for a fully-readable record
    val dead = holder.readable && holder.pid > 0 && holder.host == localHost && {
      val h = ProcessHandle.of(holder.pid)
      !h.isPresent || !h.get().isAlive
    }
    val aged = System.currentTimeMillis() - holder.ts >
      (DefaultLeaseMaxAgeHours * 3600 * 1000).toLong
    dead || aged
  }

  /** Delete `p` only if its content still is what we judged stale — a
    * lease released and re-acquired between judgment and delete must not
    * have its NEW holder's claim destroyed. Returns whether the sweep
    * happened (false ⇒ treat the lease as live). */
  private def sweepIfUnchanged(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, judged: LeaseHolder): Boolean =
    leaseHolder(fs, p) match {
      case None => true // already gone
      case Some(now) if now.raw == judged.raw && now.readable == judged.readable =>
        fs.delete(p, false); true
      case _ => false // replaced since judgment ⇒ a new live holder
    }

  private def liveAppendLeases(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[LeaseHolder] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith(AppendLeasePrefix))
      .flatMap { st =>
        leaseHolder(fs, st.getPath) match {
          case Some(h) if leaseStale(h)
              && sweepIfUnchanged(fs, st.getPath, h) =>
            None // swept the crashed append
          case other => other
        }
      }

  /** Take the maintenance lease for `location` or throw. A live lease —
    * including one held by THIS process (a concurrent fold in the same
    * JVM) — rejects; a stale one (dead pid on THIS host, or older than
    * [[DefaultLeaseMaxAgeHours]]) is reclaimed. After acquiring, any live
    * append lease ([[withAppendLease]]) forces a back-off: the fold
    * releases its own lease and throws, so it can never drop a partition
    * an in-flight append is writing. */
  def acquireLease(spark: SparkSession, location: String): Unit = {
    val p = leaseFile(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p.getParent)) fs.mkdirs(p.getParent)
    leaseHolder(fs, p).foreach { h =>
      if (!leaseStale(h) || !sweepIfUnchanged(fs, p, h)) {
        // a sweep can fail because a NEW holder replaced the lease between
        // judgment and delete — re-read so the message names the holder
        // that actually blocks us, not the stale one we judged
        val now = leaseHolder(fs, p).getOrElse(h)
        throw new IllegalStateException(
          s"maintenance lease on $location held by live pid ${now.pid} " +
            s"on ${now.host} — a fold is in progress; retry after it completes")
      }
    }
    val out = fs.create(p, false) // create-exclusive: lose the race ⇒ throw
    try out.writeBytes(leaseContent())
    finally out.close()
    // declared first, THEN look for writers — any append that our listing
    // misses necessarily created its lease after ours and will see ours
    val writers = liveAppendLeases(fs, p.getParent)
    if (writers.nonEmpty) {
      fs.delete(p, false)
      throw new IllegalStateException(
        s"fold backed off: ${writers.size} append(s) in progress on " +
          s"$location (pid ${writers.head.pid} on ${writers.head.host}) — " +
          "retry after they complete")
    }
  }

  /** Release a lease this process holds (no-op when absent). */
  def releaseLease(spark: SparkSession, location: String): Unit = {
    val p = leaseFile(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  /** Writer-side guard: throw if a LIVE fold holds `location`'s lease
    * (sweeping a stale one while here). Check-only — for the full
    * write-duration guard, use [[withAppendLease]]. */
  def assertNoActiveFold(spark: SparkSession, location: String): Unit = {
    val p = leaseFile(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    leaseHolder(fs, p).foreach { h =>
      if (!leaseStale(h) || !sweepIfUnchanged(fs, p, h)) {
        // re-read for the message: the blocker may be a REPLACEMENT holder
        val now = leaseHolder(fs, p).getOrElse(h)
        throw new IllegalStateException(
          s"append rejected: maintenance fold in progress on $location " +
            s"(lease pid ${now.pid} on ${now.host}) — retry after the fold completes")
      }
    }
    // a CRASHED fold (stale lease swept above, sentinel left) must be
    // resumed before appends: its same-label resume skips straight to the
    // old-partition drops when the marker already landed, and a date
    // appended in between would be dropped WITHOUT ever being folded
    val pend = pendingFolds(fs, new org.apache.hadoop.fs.Path(location))
    if (pend.nonEmpty) throw new IllegalStateException(
      s"append rejected: crashed/unfinished fold '${pend.head}' on " +
        s"$location must be re-run to completion (same label) before " +
        "appends resume — its drop phase would discard rows appended now")
  }

  /** Run `body` (an incremental-store append) under a SHARED append lease
    * on the store: the lease file is created FIRST in the store root, the
    * fold lease is checked second (abort-and-clean-up if a live fold
    * holds it), and the append lease is removed when the write finishes.
    * Symmetric with [[acquireLease]]'s post-acquire writer listing — see
    * the mutual-exclusion note above for why declare-then-check on both
    * sides leaves no interleaving where a fold and an append both
    * proceed. A path store's root is created first; a table that does not
    * exist yet runs its first append under [[TableLoc.withInitLease]]
    * (the loser of two concurrent first appends fails fast). */
  def withAppendLease[T](spark: SparkSession, loc: StoreLoc)(body: => T): T =
    loc match {
      case t: TableLoc if !t.exists(spark) => t.withInitLease(spark) {
        // the table may have been created between our exists-check and
        // our claim — the creator already released the init lease, so
        // take the normal shared path over the now-real location
        if (t.exists(spark)) sharedAppendLease(spark, t.root(spark))(body)
        else body
      }
      case _ => sharedAppendLease(spark, loc.root(spark))(body)
    }

  private def sharedAppendLease[T](spark: SparkSession,
      dir: org.apache.hadoop.fs.Path)(body: => T): T = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val mine = new org.apache.hadoop.fs.Path(dir,
      s"$AppendLeasePrefix${java.util.UUID.randomUUID()}")
    val out = fs.create(mine, false)
    try out.writeBytes(leaseContent())
    finally out.close()
    try {
      assertNoActiveFold(spark, dir.toString)
      body
    } finally fs.delete(mine, false)
  }

  // ---- reader-side fold consistency ---------------------------------------
  //
  // The leases exclude live writer/fold overlap and the sentinel orders a
  // crashed fold against the next MUTATION — but neither protects a READER:
  // in the window between a fold publishing its label partition and the
  // old-partition drops completing (live, or arbitrarily long after a
  // crash), the table holds BOTH the olds and the label — a plain scan
  // double-reads every folded row (and under a refit's staged model serves
  // a ranking that is neither pre- nor post-refit). The marker disambiguates
  // every state, so a reader can always resolve the authoritative set:
  //   - no pending sentinel            ⇒ the table is quiescent, scan all;
  //   - sentinel + marker ABSENT       ⇒ the label partition is an
  //     uncommitted partial write — the olds are the truth, exclude it;
  //   - sentinel + marker PRESENT      ⇒ the fold committed — the label
  //     (plus, for a horizon compact, the partitions past its horizon) is
  //     the truth; the undropped olds are pending-delete duplicates.

  /** Has `label`'s fold committed on the store rooted at `root`? (Bounded
    * metadata: one file-existence probe.) */
  private[operators] def foldCommitted(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, label: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(root, s"_compact_${label}_done"))

  // ---- durable fold/expiry provenance (the inventory's ordering tokens) ---
  //
  // The transient fold marker is deleted in the epilogue, so after a
  // completed generation rewrite NOTHING on disk said which dates its label
  // consumed — [[StoreInventory.missingVsLedger]] had to infer it from the
  // r_* partition's file mtimes vs marker mtimes, which is exact only on
  // one filesystem with one clock and sub-tick commit spacing (the ADVICE
  // r18 finding). Two small DURABLE files close that, written by the fold
  // machinery itself:
  //   - `_folded_set_<r_label>`: the label's coverage, recorded at fold
  //     time from the fold's own olds() listing — `date:<d>` per plain
  //     date, `through:<X>` per consumed c_X horizon (its content is
  //     provably ≤ X), merged transitively from consumed r_* labels'
  //     sidecars. A consumed legacy r_* with no sidecar adds `legacy`
  //     (coverage unknowable → readers keep the mtime fallback for it).
  //     Written BEFORE the commit marker (a crash before the marker redoes
  //     both; after it the sidecar is already durable) and deleted only
  //     when the label partition itself is consumed by a later fold.
  //   - `_expired_through`: the max retention cutoff ever applied by
  //     [[expire]] (monotonic; lexicographic date order) —
  //     a date at or under it was dropped BY POLICY, not mutated by hand.
  private val FoldedSetPrefix = "_folded_set_"
  private[operators] val ExpiredThroughFile = "_expired_through"

  /** The label's durable coverage sidecar: (throughHorizon, plainDates,
    * sawLegacy). None = no sidecar (a pre-r19 fold — mtime fallback). */
  private[operators] def foldedSet(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, label: String)
      : Option[(Option[String], Set[String], Boolean)] = {
    val p = new org.apache.hadoop.fs.Path(root, s"$FoldedSetPrefix$label")
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in)
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
      val through = lines.filter(_.startsWith("through:"))
        .map(_.stripPrefix("through:")).maxOption
      val dates = lines.filter(_.startsWith("date:"))
        .map(_.stripPrefix("date:")).toSet
      (through, dates, lines.contains("legacy"))
    }.toOption
  }

  /** Record `label`'s coverage from the dates it is about to consume —
    * called by the fold bodies right before the commit marker, for
    * generation (`r_*`) labels only (a `c_X` label's coverage IS its
    * name). Transitive: consumed labels contribute their own recorded
    * coverage. */
  private def writeFoldedSet(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, label: String,
      olds: Seq[String]): Unit = {
    val (plain, labels) = olds.partition(d =>
      !d.startsWith("c_") && !d.startsWith("r_"))
    var throughs = labels.filter(_.startsWith("c_")).map(_.stripPrefix("c_"))
    var dates = plain.toSet
    var legacy = false
    labels.filter(_.startsWith("r_")).foreach { l =>
      foldedSet(fs, root, l) match {
        case Some((t, ds, leg)) =>
          throughs = throughs ++ t; dates = dates ++ ds; legacy ||= leg
        case None => legacy = true // pre-sidecar fold: coverage unknown
      }
    }
    val content = (throughs.maxOption.map(t => s"through:$t").toSeq ++
      dates.toSeq.sorted.map(d => s"date:$d") ++
      (if (legacy) Seq("legacy") else Nil)).mkString("\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(
      root, s"$FoldedSetPrefix$label"), true)
    try out.writeBytes(content) finally out.close()
  }

  /** Delete a consumed label's sidecar (drop-phase hygiene; idempotent). */
  private def deleteFoldedSet(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, label: String): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(
      root, s"$FoldedSetPrefix$label"), false)
    ()
  }

  /** The max cutoff [[expire]] ever applied to the store
    * rooted at `root` (None = no expiry ran). */
  private[operators] def expiredThroughAt(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(root, ExpiredThroughFile)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    }.toOption.filter(_.nonEmpty)
  }

  private def recordExpiredThrough(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, cutoff: String): Unit =
    // monotonic max — a replayed old-cutoff expiry must never shrink the
    // recorded horizon (caller holds the maintenance lease)
    if (!expiredThroughAt(fs, root).exists(cutoff <= _)) {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        root, ExpiredThroughFile), true)
      try out.writeBytes(cutoff) finally out.close()
    }

  /** The latest date a retention fold has CONSUMED in `stores` — the
    * max horizon over their `c_<upTo>` labels (None with no fold, or
    * absent stores). Per-date history at or before this date no longer
    * exists as its own partitions, so drop-then-re-append reprocessing
    * of such a date would double-count its rows against the
    * consolidated label — [[CurateJob]] wires this through
    * [[CurateFamily.foldedThrough]] to refuse exactly that (bounded
    * metadata, one partition listing per store). */
  def foldHorizon(spark: SparkSession, stores: Seq[StoreLoc]): Option[String] =
    stores.filter(_.exists(spark))
      .flatMap(_.partitions(spark))
      .filter(_.startsWith("c_")).map(_.stripPrefix("c_"))
      .maxOption

  /** The curation fence horizon for `stores`: the max of the fold horizon
    * (history consumed into a `c_*` label) and the expiry horizon (history
    * dropped by policy, [[expire]]'s durable `_expired_through` record) —
    * dates at or under it must never re-append: a fold consumed a date's
    * history into a label, an expiry made it GONE, and re-appending either
    * kind is wrong (double-count / policy resurrection), so curation
    * fences on the max of both ([[graft.operators.OpsFamilies]] wires
    * it). Absent stores contribute nothing. */
  def retentionHorizon(spark: SparkSession,
      stores: Seq[StoreLoc]): Option[String] =
    (foldHorizon(spark, stores).toSeq ++
      stores.filter(_.exists(spark))
        .flatMap(s => expiredThroughAt(s.fs(spark), s.root(spark)))
    ).maxOption

  /** The AUTHORITATIVE rows of a per-date store — its plain scan hardened
    * against the fold crash/drop windows above. Every serve path reads
    * stores through this, so a crash at ANY point of a
    * compact/rewrite/tombstone/refit pass leaves serves consistent
    * (pre-fold before the marker, post-fold after), never double-reading
    * half-dropped history (a path fold's label dir lands by rename before
    * the marker, so a partial label dir only exists after a crash between
    * rename and marker). Cost when no fold is pending — the steady state
    * — is one directory listing. An absent store reads exactly like the
    * plain reader (throws), preserving caller contracts. `over` replaces
    * the store's own reader for callers that must pin an explicit schema
    * (the components family's empty-store fallback). */
  def consistentScan(spark: SparkSession, loc: StoreLoc,
      over: Option[DataFrame] = None): DataFrame = {
    val root = loc.root(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = over.getOrElse(loc.scan(spark))
    pendingFolds(fs, root).headOption.fold(df) { label =>
      if (!foldCommitted(fs, root, label)) df.filter(col("ds") =!= label)
      else if (label.startsWith("r_")) df.filter(col("ds") === label)
      else {
        // horizon compact: the label plus everything PAST the horizon
        // (exactly the complement of compact's foldable set)
        val horizon = effectiveDate(label)
        df.filter(col("ds") === label ||
          regexp_replace(col("ds"), "^c_", "") > horizon)
      }
    }
  }

  /** Did `gen`'s rewrite on `loc` take its FIRST durable effect? True
    * iff its fold-pending sentinel never landed (or the store itself does
    * not exist) AND its generation partition does not exist. The refit
    * families use this after a rewrite abort to tell "nothing happened —
    * safe to unstage the new model" (lease contention with a live append)
    * from "the fold has state — the same-gen resume is mandatory".
    *
    * The partition check is load-bearing: a throw AFTER the fold fully
    * completed (sentinel already cleared — e.g. a lease-release IO error
    * surfacing through [[rewrite]]'s finally) must NOT read as "never
    * started", or the caller would roll its model back over rows already
    * migrated to the new one (the round-15 ADVICE finding on
    * [[IncrementalSQ.refitGrid]]). A completed fold always leaves its
    * `r_<gen>` partition; a never-started one never creates it (gen
    * freshness is the [[rewrite]] caller contract). */
  private[operators] def rewriteNeverStarted(spark: SparkSession,
      loc: StoreLoc, gen: String): Boolean =
    !loc.exists(spark) || {
      val root = loc.root(spark)
      !loc.fs(spark).exists(pendingFile(root.toString, s"r_$gen")) &&
        !loc.partitions(spark).contains(s"r_$gen")
    }

  /** Fold every partition with effective date ≤ `upTo` into one
    * consolidated `c_<upTo>` partition. Idempotent and crash-resumable
    * (see object scaladoc); a no-op when nothing is foldable (0 or 1 old
    * partitions, or only the consolidated label itself) and on an absent
    * path store. Concurrency contract: run it like any table-maintenance
    * pass — not while a writer is appending the same store (readers
    * planned before the final partition drops see a consistent snapshot
    * only if their file listing predates the drops).
    *
    * `merge` optionally rewrites the folded rows before they land —
    * for ADDITIVE stores this is where compaction shrinks ROWS, not just
    * files (the q128 tf rows sum across dates: merging
    * `Σ tf GROUP BY term, doc_id` preserves every report bit-exactly
    * while collapsing a doc's N date rows to one — Lucene's segment-merge
    * doc elision, Spark-shaped; the span store's (h, cnt) rows likewise).
    * The caller owns the invariant: the transform must preserve every
    * reader's aggregate over the store and emit the store's exact column
    * set (minus `ds`). */
  def compact(spark: SparkSession, loc: StoreLoc, upTo: String,
      merge: DataFrame => DataFrame = identity): Unit =
    // a single foldable partition is a no-win rename — require 2. A
    // repeated compact at a horizon whose `c_<upTo>` already committed
    // is a NO-OP even when fresh pre-horizon dates landed since (a label
    // with no pending sentinel at entry is a prior completed fold —
    // see foldBody); fold late arrivals with a LATER, distinct horizon.
    fold(spark, loc, s"c_$upTo", ds => effectiveDate(ds) <= upTo,
      minOlds = 2, merge)

  /** What [[expire]] did: the partitions physically dropped, and the
    * labels SKIPPED because their content cannot be attributed to dates
    * (a `c_X` with X past the cutoff, or any `r_*` generation label) —
    * those may still hold pre-cutoff rows; fold/expire at aligned
    * horizons to drain them. */
  final case class ExpireResult(dropped: Seq[String], retained: Seq[String])

  /** RETENTION EXPIRY — the storage-limit pair to the takedown path:
    * physically DROP every partition whose content is provably at or
    * before `cutoff` — plain ingestion dates `ds ≤ cutoff` and
    * consolidated labels `c_X` with `X ≤ cutoff` (a label's content is
    * exactly the dates folded through X). Where [[compact]] keeps every
    * row and shrinks files, expiry makes data GONE; a time-based
    * retention policy is this, run at each horizon. On a counting store
    * (spans, the NB model's tri/prior stores) the expiry IS exact
    * unlearning of the expired dates — additive state minus a date's
    * partition equals a train without it.
    *
    * Partitions that MIGHT hold pre-cutoff rows but cannot be split —
    * a `c_X` with X > cutoff (per-row dates are consumed by the fold)
    * or an `r_*` generation label (no date semantics at all) — are
    * SKIPPED and reported in [[ExpireResult.retained]], never
    * half-dropped: align expiry horizons with fold horizons (expire at
    * X right after compacting to X) and nothing is ever stranded.
    *
    * Bounded metadata per partition — no data motion, no rewrite;
    * idempotent and trivially crash-resumable (a re-run drops whatever
    * is left). Holds the maintenance lease for the duration and fails
    * closed on an unfinished fold, like every store mutation. An absent
    * path store expires to nothing; an absent table throws. */
  def expire(spark: SparkSession, loc: StoreLoc,
      cutoff: String): ExpireResult = {
    if (!loc.mutable(spark)) return ExpireResult(Nil, Nil)
    val root = loc.root(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    acquireLease(spark, root.toString)
    try {
      val pend = pendingFolds(fs, root)
      if (pend.nonEmpty) throw new IllegalStateException(
        s"expire rejected: crashed/unfinished fold '${pend.head}' on " +
          s"${loc.name} must be re-run to completion first — expiry's " +
          "drops would race its drop phase")
      val parts = loc.partitions(spark)
      val dropped = parts.filter { ds =>
        !ds.startsWith("r_") && effectiveDate(ds) <= cutoff
      }
      val retained = parts.filter { ds =>
        ds.startsWith("r_") ||
          (ds.startsWith("c_") && effectiveDate(ds) > cutoff)
      }
      dropped.foreach { ds =>
        // a dropped c_X label's fold marker goes WITH it, marker first so
        // a crash between the two deletes re-heals: an orphan
        // _compact_<ds>_done would otherwise survive until the next
        // same-label fold's freshNoOp cleanup — a latent window where the
        // marker asserts a label that is gone
        fs.delete(new org.apache.hadoop.fs.Path(root,
          s"_compact_${ds}_done"), false)
        loc.dropPartition(spark, ds)
      }
      // durable AFTER the drops (a crash mid-drop re-runs and re-records):
      // the policy horizon the ledger-keyed inventory credits — without
      // it every expired date would read as "mutated outside the
      // orchestrator" forever (ADVICE r18)
      recordExpiredThrough(fs, root, cutoff)
      ExpireResult(dropped.sorted, retained.sorted)
    } finally releaseLease(spark, root.toString)
  }

  /** Rewrite EVERY row of a per-date store through `transform`, folding
    * all partitions into one `r_<gen>` generation partition — the
    * whole-store maintenance primitive under
    * [[IncrementalVectors.splitHotCells]] and the deletion-propagation
    * primitive (a transform that must touch an arbitrary subset of rows
    * has to rewrite the partitions holding them; folding while at it is
    * [[compact]] for free). Same marker protocol, same crash-resume
    * windows, same layout preservation; `gen` must be fresh per pass (a
    * repeated gen whose rewrite already completed is a no-op — the
    * partitions are already folded into its label). Per-date history is
    * consumed by design: re-running an old ingestion date is no longer
    * possible afterwards, exactly as with a date-horizon compact. */
  def rewrite(spark: SparkSession, loc: StoreLoc, gen: String,
      transform: DataFrame => DataFrame): Unit =
    fold(spark, loc, s"r_$gen", _ => true, minOlds = 1, transform)

  /** Shared fold machinery: publish the transformed union of the selected
    * old partitions as `label`, commit with a marker, then drop the olds
    * (see the object scaladoc for the crash-window analysis). */
  private def fold(spark: SparkSession, loc: StoreLoc, label: String,
      foldable: String => Boolean, minOlds: Int,
      transform: DataFrame => DataFrame): Unit = {
    if (!loc.mutable(spark)) return
    val root = loc.root(spark)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, s"_compact_${label}_done")
    // hold the maintenance lease for the whole fold (appends fail fast
    // against it); released on any in-process exit — a hard crash leaves
    // it for the dead-pid / stale-by-age sweep
    acquireLease(spark, root.toString)
    try withPendingSentinel(fs, root, label)(freshNoOp = () => {
      // fresh invocation (no crashed fold to resume — the sentinel
      // outlives both the marker and the drops, so a crash at ANY point
      // leaves it): anything this label left on disk is residue of a
      // PRIOR COMPLETED fold. An orphan marker — crash between the
      // epilogue's sentinel delete and marker delete — must not be
      // mistaken for an in-flight commit whose drops are owed (new dates
      // may have appended since; the drop phase would discard them
      // unfolded). Remove it. An existing label partition is that prior
      // fold's COMMITTED output: a repeated label is a documented no-op —
      // resolved BEFORE the sentinel is planted, so concurrent readers
      // never see "sentinel + no marker" and exclude the committed label.
      if (fs.exists(marker)) fs.delete(marker, false)
      val committed = loc.partitions(spark).contains(label)
      if (committed) loc.unstage(spark, label)
      committed
    }) { _ =>
      foldBody(spark, loc, label, foldable, minOlds, transform, fs, marker)
    } finally releaseLease(spark, root.toString)
  }

  private def foldBody(spark: SparkSession, loc: StoreLoc, label: String,
      foldable: String => Boolean, minOlds: Int,
      transform: DataFrame => DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Unit = {
    val root = marker.getParent
    def olds(): Seq[String] = loc.partitions(spark)
      .filter(ds => ds != label && foldable(ds))
    if (!fs.exists(marker)) {
      val old = olds()
      // below the threshold a fold never starts, so there is nothing to
      // resume and nothing worth folding
      if (old.size < minOlds) { loc.unstage(spark, label); return }
      // at/above the threshold with no marker, a `label` partition can
      // only be a crashed fold's own uncommitted partial write (a fresh
      // invocation with a committed label returned in freshNoOp above,
      // and appends were sentinel-blocked throughout the crashed fold) —
      // the old partitions are intact and authoritative: drop it and redo
      if (loc.partitions(spark).contains(label)) loc.dropPartition(spark, label)
      loc.publish(spark, transform(loc.read(spark, old)), label)
      // a generation label's durable coverage sidecar lands BEFORE the
      // commit marker (pre-marker crash redoes both; post-marker it is
      // already durable) — the ledger-keyed inventory's exact ordering
      // token, replacing the cross-filesystem mtime inference
      if (label.startsWith("r_")) writeFoldedSet(fs, root, label, old)
      // commit point: from here the consolidated partition is the truth
      fs.create(marker, true).close()
    }
    // marker present ⇒ fold complete; finish (or resume) the drops —
    // a consumed generation label's own sidecar goes with its partition
    // (its coverage was merged into this label's sidecar above)
    olds().foreach { ds =>
      loc.dropPartition(spark, ds)
      if (ds.startsWith("r_")) deleteFoldedSet(fs, root, ds)
    }
    // EPILOGUE ORDER is reader-load-bearing: the sentinel must go before
    // the marker. Readers treat "sentinel present + marker absent" as
    // "label uncommitted" — deleting the marker first (the round-15
    // ordering) opened a window where the olds were already dropped and
    // every serve read EMPTY (and a crash inside it made that state
    // permanent until a same-label resume). With the sentinel gone first,
    // readers see a quiescent store (olds dropped, label committed —
    // scan-all is correct), and the worst crash leaves only an orphan
    // marker, cleaned at the next same-label entry above.
    fs.delete(pendingFile(root.toString, label), false)
    fs.delete(marker, false)
    ()
  }

  /** Anti-join transform for DELETION PROPAGATION (tombstone passes): drops
    * every row whose `keyCol` appears in `tombstones` (whose FIRST column
    * is read as the key set). Feed it to [[rewrite]] to
    * physically remove a document's rows from a per-date store — an
    * opt-out or takedown must make the rows GONE from the files, not
    * masked at read time. The tombstone set is takedown-list-sized
    * (bounded, not corpus-sized), so the anti-join broadcasts; the
    * rewrite itself is one distributed read + one bucketed write of the
    * store — the unavoidable price of physical deletion in immutable
    * files, paid without re-reading the source corpus. */
  def tombstone(tombstones: org.apache.spark.sql.DataFrame, keyCol: String)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    val keys = tombstones
      .select(col(tombstones.columns.head).as(keyCol)).distinct()
    df => df.join(broadcast(keys), Seq(keyCol), "left_anti")
  }

  /** [[tombstone]] for MASS deletions — a whole-source/domain takedown
    * whose key set is CORPUS-scale (10⁸+ ids), where the broadcast
    * variant would OOM the driver and every executor. The anti-join is
    * forced to a SORT-MERGE join (never broadcast): both sides
    * hash-partition on the key and SPILL under pressure — a shuffled-hash
    * build of the key set is the exact shape the two-level pairing work
    * measured OOM-aborting under the 4 GiB MemProbe ceiling
    * ([[Similarity.bandedCandidatePairs]]'s merge-hint note), and a
    * 10⁸-id build side under mis-sized partitions would hit the same
    * wall; merge trades a (spillable) sort for that unbounded per-task
    * build state. The per-date stores are bucketed AND sorted on their
    * delete key (postings on doc_id, codes/cells on id), so at cluster
    * scale the store side's distribution and ordering are already
    * satisfied — only the tombstone set shuffles and sorts. Same output
    * as [[tombstone]] by construction (spec-pinned); callers choose by
    * key-set size — takedown LISTS broadcast, takedown SOURCES merge. */
  def tombstoneLarge(tombstones: org.apache.spark.sql.DataFrame,
      keyCol: String)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    val keys = tombstones
      .select(col(tombstones.columns.head).as(keyCol)).distinct()
      .hint("merge")
    df => df.join(keys, Seq(keyCol), "left_anti")
  }
}
