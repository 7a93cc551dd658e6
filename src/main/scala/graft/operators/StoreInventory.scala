package graft.operators

import graft.split.MarkerLedger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORE OBSERVABILITY for the orchestrated families — the "is my
  * pipeline healthy" call an operator makes before trusting a serve:
  * which ingestion dates does each family actually hold, with how many
  * rows, and is any family LAGGING (a date present in some families but
  * not all — the residue of a mid-date crash cleaned up by hand, or a
  * store mutated outside the orchestrators)? [[CurateJob]] guarantees
  * per-date all-or-nothing within a run, but stores live for years and
  * humans touch them; the inventory is the detector that keeps the
  * guarantee observable.
  *
  * Scale shape: row counts are count-only aggregates grouped by the
  * partition column — the scan reads no data columns (footer row counts
  * serve it), and the output is families × partitions rows, driver-safe
  * at any corpus size. Reads go through the families' consistent-scan
  * resolution so a crashed fold's half-published label never
  * double-counts. */
object StoreInventory {

  /** One inventoried backing store: a catalog table or a filesystem
    * path store (`ds=`-partitioned plain parquet — the spans and
    * components families). Both share the fold protocol files
    * (`_fold_pending_*`, `_compact_*_done`, `_expired_through`,
    * `_folded_set_*`) in their roots, so every detector rule below
    * applies identically. */
  final case class Entry(family: String, store: StoreLoc)

  /** (partition values, store root) — None when the store is absent. */
  private def resolve(spark: SparkSession, e: Entry)
      : Option[(Seq[String], org.apache.hadoop.fs.Path)] =
    if (!e.store.exists(spark)) None
    else Some((e.store.partitions(spark), e.store.root(spark)))

  /** One row per (family, ds) a family's store holds:
    * `(family, ds, n_rows)`. Consolidated (`c_*`) and generation
    * (`r_*`) labels report as-is — they ARE the store's state; the
    * per-date view below them is gone by design. A path store whose root
    * exists but holds no `ds=` partition yet (a dir created by a
    * zero-row dynamic-overwrite write) contributes no rows rather than
    * a schema-inference failure. */
  def dates(spark: SparkSession, families: Seq[Entry]): DataFrame = {
    val present = families.filter(e => resolve(spark, e) match {
      case None => false
      case Some((ps, _)) => e.store.isInstanceOf[TableLoc] || ps.nonEmpty
    })
    require(present.nonEmpty,
      s"none of the inventory stores exist: ${families.map(_.store.name).mkString(", ")}")
    present.map { e =>
      StoreMaintenance.consistentScan(spark, e.store)
        .groupBy(col("ds")).agg(count(lit(1)).as("n_rows"))
        .select(lit(e.family).as("family"), col("ds"), col("n_rows"))
    }.reduce(_ unionAll _)
  }

  /** The LAGGING-FAMILY detector: `(family, ds)` pairs where `ds` is a
    * plain ingestion date held by at least one family but missing from
    * this one. Empty = every family holds the same date set (the
    * [[CurateJob]] invariant). Fold-aware, so maintenance never reads
    * as lag: dates at or before a family's `c_*` horizon are judged
    * present (they live under the consolidated label), and a family
    * holding any `r_*` generation label is skipped outright — a gen
    * rewrite folds EVERYTHING, so which absent dates predate it is
    * unknowable from partitions alone (keyed on the CURATION LEDGER,
    * [[missingVsLedger]] stays sharp through gen rewrites). A family
    * whose table does not EXIST reports one explicit `(family,
    * "(absent)")` row instead of reading as fully-lagging — the same
    * families [[dates]] omits, surfaced rather than smeared across
    * every date (ADVICE r17: the two views must agree on whether a
    * family exists). Driver-side metadata only (families × dates
    * strings — the ledger scale shape). */
  def missing(spark: SparkSession, families: Seq[Entry]): DataFrame = {
    import spark.implicits._
    val resolved = families.map(e => e -> resolve(spark, e))
    val absent = resolved.collect { case (e, None) => e.family }
    val parts: Seq[(String, Seq[String])] = resolved.collect {
      case (e, Some((ps, _))) => e.family -> ps
    }
    val plain = parts.flatMap { case (f, ps) =>
      ps.filter(p => !p.startsWith("c_") && !p.startsWith("r_"))
        .map(f -> _)
    }.toSet
    val allDates = plain.map(_._2).toSeq.distinct.sorted
    val pairs = for {
      (f, ps) <- parts if !ps.exists(_.startsWith("r_"))
      horizon = ps.filter(_.startsWith("c_"))
        .map(_.stripPrefix("c_")).maxOption
      d <- allDates
      if horizon.forall(d > _) && !plain.contains(f -> d)
    } yield (f, d)
    (absent.map(_ -> "(absent)") ++ pairs).toDF("family", "ds")
  }

  /** The lagging-family detector KEYED ON THE CURATION LEDGER — sharp
    * where [[missing]] goes blind: the expected-date set is
    * [[CurateJob]]'s committed markers (the pipeline's own record of
    * what landed), not the union of whatever partitions the families
    * still hold, so a gen-rewritten family (`r_*` labels — takedown,
    * refit, hot-cell split) is judged instead of skipped. Per family,
    * a committed date is PRESENT iff one of:
    *   - held as a plain partition;
    *   - at or under the family's `c_*` fold horizon (the label's
    *     content is exactly the dates folded through it);
    *   - at or under the store's durable `_expired_through` record —
    *     retention policy DROPPED it ([[StoreMaintenance.expire]]
    *     records the cutoff; without this, a `--RETAIN` deployment
    *     reads every legitimately expired date as lagging forever,
    *     the ADVICE r18 finding);
    *   - named by a COMPLETED `r_*` generation label's durable
    *     `_folded_set_*` sidecar (a `date:` entry or at/under its
    *     `through:` horizon) — the EXACT ordering token the fold
    *     itself recorded, immune to clocks and filesystems;
    *   - (legacy fallback, pre-sidecar labels only) committed at or
    *     before the label's newest file mtime. Inclusive (`<=`): with
    *     coarse mtime granularity a date committed in the same tick as
    *     the rewrite that folded it must credit, not mass-false-alarm;
    *     the symmetric cost — a same-tick post-rewrite hand-drop reads
    *     as credited — is bounded by the tick and disappears entirely
    *     once the store's rewrites carry sidecars. The fallback
    *     assumes marker dir and warehouse share a filesystem/clock
    *     (document of record: it exists only for labels written before
    *     the sidecar protocol).
    * An `r_*` label with a live `_fold_pending_*` sentinel and NO
    * `_compact_*_done` commit marker is a crashed, uncommitted rewrite
    * and earns no credit — but sentinel WITH the commit marker is a
    * fold that crashed between commit and cleanup, credited, both
    * matching [[StoreMaintenance.consistentScan]]'s resolution
    * exactly. Dates [[CurateJob]] flagged `{date}.empty`
    * (all-suppressed re-crawls) landed no partition anywhere by
    * construction and are skipped. Reported rows are therefore exactly
    * "store mutated OUTSIDE the orchestrator" — a fold or policy that
    * consumed the date never fires. A family whose table does not
    * exist reports `(family, "(absent)")` (the [[missing]]
    * convention). Driver-side metadata only: one marker-dir listing +
    * per-family partition listings + a bounded sidecar read per
    * generation label. Path stores share the fold protocol files, so
    * every credit rule applies to them identically. */
  def missingVsLedger(spark: SparkSession, families: Seq[Entry],
      markerDir: String): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val ledger = new MarkerLedger(hconf)
    // dates whose post-suppression slice was EMPTY landed no partition
    // anywhere by construction ([[CurateJob]]'s `{date}.empty` flag) —
    // expected-absent, not lagging
    val empty = ledger.listStems(markerDir, ".empty")
    val committed = ledger.doneTimesFlat(markerDir)
      .toSeq.filterNot(kv => empty.contains(kv._1)).sortBy(_._1)
    val rows = families.flatMap { e =>
      val fam = e.family
      resolve(spark, e).fold(Seq(fam -> "(absent)")) { case (ps, root) =>
        val plain = ps.filterNot(p =>
          p.startsWith("c_") || p.startsWith("r_")).toSet
        val horizon = ps.filter(_.startsWith("c_"))
          .map(_.stripPrefix("c_")).maxOption
        val fs = root.getFileSystem(hconf)
        val expired = StoreMaintenance.expiredThroughAt(fs, root)
        var creditedDates = Set.empty[String]
        var creditedThrough = Option.empty[String]
        var mtimeFoldedAt = Option.empty[Long]
        ps.filter(_.startsWith("r_")).foreach { lbl =>
          // a live sentinel means crashed MID-fold — unless the commit
          // marker also exists (crash landed between commit and the
          // epilogue's cleanup), in which case the fold IS committed,
          // exactly as consistentScan resolves it: credit it, or every
          // pre-rewrite date mass-false-alarms while serves read fine
          val pending = fs.exists(new org.apache.hadoop.fs.Path(root,
            s"_fold_pending_$lbl")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(root,
              s"_compact_${lbl}_done"))
          if (!pending) {
            val (needMtime: Boolean) =
              StoreMaintenance.foldedSet(fs, root, lbl) match {
                case Some((through, dates, legacy)) =>
                  creditedDates = creditedDates ++ dates
                  creditedThrough = (creditedThrough.toSeq ++ through)
                    .maxOption
                  legacy // sidecar is exact unless it merged a legacy fold
                case None => true // pre-sidecar label: mtime fallback
              }
            if (needMtime) {
              // fold time = the label's newest FILE mtime (dir mtimes are
              // synthetic on object stores); one bounded partition listing
              val dir = new org.apache.hadoop.fs.Path(root, s"ds=$lbl")
              if (fs.exists(dir)) {
                val at = (fs.getFileStatus(dir).getModificationTime +:
                  fs.listStatus(dir).map(_.getModificationTime).toSeq).max
                mtimeFoldedAt = Some(mtimeFoldedAt.fold(at)(math.max(_, at)))
              }
            }
          }
        }
        committed.collect {
          case (d, committedAt)
              if !plain.contains(d) && !horizon.exists(d <= _) &&
                !expired.exists(d <= _) &&
                !creditedDates.contains(d) &&
                !creditedThrough.exists(d <= _) &&
                !mtimeFoldedAt.exists(committedAt <= _) => fam -> d
        }
      }
    }
    rows.toDF("family", "ds")
  }
}
