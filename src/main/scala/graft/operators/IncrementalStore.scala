package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE maintenance-facing contract shared by every incremental
  * per-date store family (dedup bands/signatures, postings tf + norms,
  * span counts, PQ/IVF vectors, SQ8 codes, matryoshka postings, cluster
  * labels). Round 13 proved the risk of repeating it per family: one
  * rule change (append leases) touched eight files with near-identical
  * edits, and a ninth family would silently miss the next rule. The
  * shared surface is now HERE — a family module owns its schema, its
  * models, and its serve plans, and delegates the store mechanics:
  *
  *  - **append**: one ingestion date's rows land under a `ds=<date>`
  *    partition, under a SHARED append lease so a concurrent
  *    [[StoreMaintenance]] fold fails fast in both directions.
  *    [[appendBucketed]] (table stores — bucket spec fixed for the
  *    table's life, one shuffle per row ever, paid at write time) and
  *    [[appendPath]] (plain-parquet path stores — dynamic partition
  *    overwrite makes a re-run of the same date idempotent).
  *  - **as-of** ([[asOf]]): the date partitioning makes time-travel a
  *    partition PRUNE — consolidated `c_<date>` partitions compare by
  *    their effective date, `r_<gen>` rewrite generations are excluded
  *    (a rewrite consumes per-date history by documented design).
  *  - **re-run guard** ([[dropDate]]): bucketed `saveAsTable` appends
  *    cannot dynamic-overwrite, so a retry/replay drops its own date
  *    partition first (the streaming duals call it per micro-batch).
  *  - **retention / rewrite / deletion**: [[StoreMaintenance.compact]],
  *    [[StoreMaintenance.rewrite]] and [[StoreMaintenance.tombstone]]
  *    over either [[StoreLoc]] kind — marker-committed, crash-resumable.
  *  - **serve-side read**: [[StoreMaintenance.consistentScan]] — a
  *    crashed (or live) fold's half-committed window can never
  *    double-read folded rows or mix generations.
  *
  * Appends hold the lease for exactly the write's duration; `guard`
  * runs INSIDE the lease (families use it for state checks that must
  * not race a concurrent mutation — e.g. the pending-refit refusals). */
object IncrementalStore {

  /** Append one date's rows to a bucketed per-date TABLE store: shared
    * append lease, `ds=<date>` partition, bucket-and-sort on
    * `bucketCols` (the layout that lets every keyed serve stage read the
    * store exchange-free). `nBuckets` must stay constant for the
    * table's life. */
  def appendBucketed(df: DataFrame, table: String, date: String,
      bucketCols: Seq[String], nBuckets: Int = 8,
      guard: SparkSession => Unit = _ => ()): Unit =
    StoreMaintenance.withAppendLease(df.sparkSession, TableLoc(table)) {
      guard(df.sparkSession)
      df.withColumn("ds", lit(date))
        .write.mode("append").partitionBy("ds")
        .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(table)
    }

  /** Append one date's rows to a plain (non-bucketed) partitioned TABLE
    * store — for model-sized derived summaries (per-date occupancy
    * counts, gate tallies) that no keyed serve ever joins at scale:
    * bucketing would buy nothing and cost nBuckets tiny files per date.
    * Same shared append lease, same `ds=<date>` partition and re-run
    * contract ([[dropDate]]) as [[appendBucketed]]. */
  def appendTable(df: DataFrame, table: String, date: String,
      guard: SparkSession => Unit = _ => ()): Unit =
    StoreMaintenance.withAppendLease(df.sparkSession, TableLoc(table)) {
      guard(df.sparkSession)
      df.withColumn("ds", lit(date))
        .write.mode("append").partitionBy("ds")
        .saveAsTable(table)
    }

  /** Append one date's rows to a plain-parquet PATH store: shared append
    * lease, dynamic partition overwrite — a re-run of the same date
    * replaces only its own partition (idempotent retries, the split
    * engine's marker semantics). */
  def appendPath(df: DataFrame, store: String, date: String,
      guard: SparkSession => Unit = _ => ()): Unit =
    StoreMaintenance.withAppendLease(df.sparkSession, PathLoc(store)) {
      guard(df.sparkSession)
      df.withColumn("ds", lit(date))
        .write.mode("overwrite").partitionBy("ds")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(store)
    }

  /** AS-OF restriction on a per-date store scan — a partition prune, not
    * a rebuild: later dates' files are never listed. */
  def asOf(store: DataFrame, upTo: Option[String]): DataFrame =
    upTo.fold(store)(d =>
      store.filter(!col("ds").startsWith("r_") &&
        regexp_replace(col("ds"), "^c_", "") <= d))

  /** The drift audits' baseline among a store's partition labels: the
    * earliest plain date; after a generation rewrite consumed every date,
    * the newest `r_<gen>` label (the post-rewrite store IS the
    * distribution new dates compare against). None when neither exists. */
  def driftBaseline(parts: Seq[String]): Option[String] =
    parts.filterNot(p => p.startsWith("c_") || p.startsWith("r_")).minOption
      .orElse(parts.filter(_.startsWith("r_")).maxOption)

  /** Drop one ingestion date's partition from each existing store — the
    * re-run/retry guard (bounded metadata, no data motion). */
  def dropDate(spark: SparkSession, stores: Seq[StoreLoc], date: String): Unit =
    stores.foreach { s =>
      if (s.exists(spark)) s.dropPartition(spark, date)
    }

  /** One backing store a family's DELETION PROPAGATION must rewrite:
    * the store, the row transform (usually a tombstone anti-join on the
    * family's key column — [[keyTarget]]; the additive families pass
    * their own count-subtract transforms), and whether the store may be
    * absent (the postings family's optional norms table). */
  final case class DeleteTarget(store: StoreLoc,
      transform: DataFrame => DataFrame, optional: Boolean = false)

  /** [[DeleteTarget]] for the common case — physically drop every row
    * whose `keyCol` is tombstoned. `large` selects the non-broadcast
    * anti-join ([[StoreMaintenance.tombstoneLarge]]) for corpus-scale
    * key sets (whole-source takedowns); the default broadcasts
    * (takedown lists). */
  def keyTarget(store: StoreLoc, keyCol: String, tombstones: DataFrame,
      large: Boolean = false, optional: Boolean = false): DeleteTarget =
    DeleteTarget(store,
      if (large) StoreMaintenance.tombstoneLarge(tombstones, keyCol)
      else StoreMaintenance.tombstone(tombstones, keyCol),
      optional)

  /** THE shared deletion-propagation shape: run `guard` (the families'
    * pending-refit refusals — state checks that must precede any
    * mutation), then one marker-committed rewrite per backing store.
    * Round 13 proved (with append leases) that a rule repeated per
    * family silently misses the N+1th family; the delete rule now lives
    * here — a family declares its targets (key column or custom
    * transform per store) and inherits the rewrite protocol, the crash
    * ordering (fold-pending sentinel), and every future rule. Families
    * with derived state (the components' labels) recompute it AFTER the
    * propagation, from the post-delete stores. */
  def propagateDeletes(spark: SparkSession, gen: String,
      targets: Seq[DeleteTarget],
      guard: SparkSession => Unit = _ => ()): Unit = {
    guard(spark)
    targets.foreach { t =>
      if (!t.optional || t.store.exists(spark))
        StoreMaintenance.rewrite(spark, t.store, gen, t.transform)
    }
  }

  /** FILTERED-serve restriction shared by the index families' searches:
    * semi-join the store rows' `idCol` against `allowed`'s FIRST column
    * (an id allow-list, typically a pushed-down predicate over a
    * doc-keyed metadata table) BEFORE any scoring/ranking, so a filtered
    * top-k is exact over the filtered corpus rather than a post-filtered
    * — and possibly short — unfiltered top-k. A selective allow-list
    * broadcasts (preserving the stores' exchange-free serve plans); for
    * very broad filters at cluster scale, bucket the metadata table by
    * id to the store's spec so the semi-join co-locates shuffle-free. */
  def allowFilter(store: DataFrame, allowed: Option[DataFrame],
      idCol: String = "id"): DataFrame =
    allowed.fold(store) { a =>
      store.join(a.select(col(a.columns.head).as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    }
}
