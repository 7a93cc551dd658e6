package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cross-date near-dup detection for a date-partitioned corpus —
  * the shape a 100 TB training pipeline actually runs: each ingestion date
  * computes MinHash signatures for ITS OWN documents only, appends them to a
  * persistent signature store (parquet, partitioned by date), and band-joins
  * the new signatures against the accumulated store. Old documents are never
  * re-read or re-SHINGLED (the expensive text pass happens once per doc,
  * ever); the daily join still scans the accumulated signature store —
  * O(|store|) compact fixed-width rows, a tiny fraction of re-processing
  * texts. To remove even that shuffle, [[appendBandsBucketed]] /
  * [[newPairsBucketed]] persist the store bucketed on (band, bh): the
  * daily candidate join is then exchange-free on BOTH sides.
  *
  * Signatures are component-wise minima (see [[Dedup.minhashSignatures]]),
  * so they are mergeable state: the signature of a doc is independent of
  * which batch computed it, which is exactly what makes the incremental
  * union equal the from-scratch batch result (pinned in
  * IncrementalDedupSpec).
  *
  * Similarity here is the SIGNATURE-estimated Jaccard (fraction of equal
  * components, standard error ≈ √(j(1−j)/k)) — the store alone can score a
  * candidate without re-reading either document's text. Exact verification
  * (Dedup.minhashLsh) remains the right choice when the texts of both sides
  * are still cheap to reach.
  */
object IncrementalDedup {

  /** Compute and persist signatures for one date's documents. Overwrites
    * only this date's partition (idempotent re-run, like the split engine's
    * marker semantics). */
  def appendSignatures(docs: DataFrame, store: String, date: String,
      k: Int = 32, idCol: String = "doc_id"): Unit =
    IncrementalStore.appendPath(
      Dedup.minhashSignatures(docs, k, idCol), store, date)

  /** All signatures accumulated so far. */
  def loadSignatures(spark: SparkSession, store: String): DataFrame =
    StoreMaintenance.consistentScan(spark, PathLoc(store))

  /** Banded candidate pairs between `newSigs` and `allSigs` (which may
    * include newSigs itself), scored by signature-estimated Jaccard.
    * Emits (a_id, b_id, est_jaccard) with a_id < b_id and est ≥ threshold.
    * Uses [[Dedup.bandRows]] — literally the same band construction as the
    * batch LSH path — so candidate recall can never diverge from it.
    * `k` must match the component count the store was written with
    * (appendSignatures' k). */
  def newPairs(newSigs: DataFrame, allSigs: DataFrame, threshold: Double = 0.5,
      rowsPerBand: Int = 2, k: Int = 32): DataFrame = {
    // fail fast if the store was written with a different k than the
    // caller's: indexing components past the stored length would either
    // throw a cryptic ANSI array-index error (inside bandRows) or, with
    // ANSI off, silently underestimate Jaccard. The guard wraps the sig
    // column itself, so every consumer downstream reads a verified array.
    val checkedSig = when(size(col("sig")) === k, col("sig"))
      .otherwise(raise_error(concat(
        lit(s"signature length mismatch: expected k=$k, store has "),
        size(col("sig")).cast("string"), lit(" components"))))
    val x = Dedup.bandRows(newSigs.select(col("id"), checkedSig.as("sig")), k, rowsPerBand)
    val y = Dedup.bandRows(allSigs.select(col("id"), checkedSig.as("sig")), k, rowsPerBand)
    // cross-batch pairs keep (new=x, any=y); same-batch pairs dedupe by id
    scoreCandidates(bandCandidates(x, y), k, threshold)
  }

  /** Banded candidate pairs from two (id, sig, band, bh) sides: same-band
    * same-hash different-id, deduped to unordered (a_id, b_id). */
  private def bandCandidates(x: DataFrame, y: DataFrame): DataFrame =
    x.as("x").join(y.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a_id"),
        greatest(col("x.id"), col("y.id")).as("b_id"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .dropDuplicates("a_id", "b_id")

  /** Signature-estimated Jaccard over candidate pairs carrying siga/sigb.
    * Guards the signature length here too (not only in [[newPairs]]'s input
    * wrap): the bucketed path reads sigs straight from the store, and a k
    * mismatch must fail with a clear error, not a cryptic ANSI index error
    * or (ANSI off) a silently halved estimate. */
  private def scoreCandidates(candidates: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val est = (0 until k)
      .map(i => when(col("siga")(i) === col("sigb")(i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    val estChecked = when(
      size(col("siga")) === k && size(col("sigb")) === k, est)
      .otherwise(raise_error(concat(
        lit(s"signature length mismatch: expected k=$k, store has "),
        least(size(col("siga")), size(col("sigb"))).cast("string"),
        lit(" components"))))
    candidates
      .withColumn("est_jaccard", round(estChecked, 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
  }

  /** BUCKETED signature store — the shuffle-free production shape teased in
    * the class scaladoc. Band rows (id, sig, band, bh) are persisted as a
    * table bucketed on (band, bh) and partitioned by ingestion date: the
    * daily candidate join then reads BOTH sides from the bucketed layout
    * (new day = one pruned date partition, store = all of them), so the
    * join plans with ZERO exchanges — at 100 TB the accumulated store never
    * crosses the wire again; its one shuffle is amortized into each date's
    * write, once per row ever (pinned in IncrementalDedupSpec).
    *
    * Append-only by design (a date is written once, like the split engine's
    * markers); a re-run of a failed date should drop the table's date
    * partition first. `nBuckets` must stay constant for the table's life —
    * size it as |store at horizon| · rowBytes / targetPartitionBytes. */
  def appendBandsBucketed(docs: DataFrame, table: String, date: String,
      k: Int = 32, rowsPerBand: Int = 2, idCol: String = "doc_id",
      nBuckets: Int = 8): Unit =
    IncrementalStore.appendBucketed(
      Dedup.bandRows(Dedup.minhashSignatures(docs, k, idCol), k, rowsPerBand),
      table, date, Seq("band", "bh"), nBuckets)

  /** One incremental step against the bucketed store: pairs involving at
    * least one `date` document, scored by signature-estimated Jaccard —
    * same output as [[processDate]] on an equivalent parquet store, but the
    * candidate join is exchange-free (both sides bucket-aligned). `upTo`
    * is the family's AS-OF serve (a pure partition prune,
    * [[IncrementalStore.asOf]]): "the pairs `date` reported when the
    * store stood at `upTo`" — what makes a reprocessed date's report
    * bit-equal to its original run after later dates have landed (the
    * [[CurateJob]] reprocess contract). */
  def newPairsBucketed(spark: SparkSession, table: String, date: String,
      threshold: Double = 0.5, k: Int = 32,
      upTo: Option[String] = None): DataFrame = {
    val store = IncrementalStore.asOf(
      StoreMaintenance.consistentScan(spark, TableLoc(table)), upTo)
    val newDay = store.filter(col("ds") === date)
    scoreCandidates(bandCandidates(newDay, store), k, threshold)
  }

  /** DELETION PROPAGATION for the BUCKETED band store: physically remove
    * the tombstoned docs' band rows in one marker-committed rewrite — a
    * deleted doc can never again surface as a candidate pair, because its
    * signature rows are GONE from the files, not masked. Band rows are
    * doc-keyed disjoint state, so the store afterwards is bit-equal to
    * one built over the corpus minus the deleted docs. `tombstones`'
    * first column is the doc id set; `gen` per
    * [[StoreMaintenance.rewrite]]'s fresh-gen contract. */
  def deleteDocs(spark: SparkSession, table: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit =
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.keyTarget(TableLoc(table), "id", tombstones, large)))

  /** [[deleteDocs]] for the PATH-based signature store
    * ([[appendSignatures]]' layout) — same contract via
    * [[StoreMaintenance.rewrite]] over a [[PathLoc]]. */
  def deleteSignatures(spark: SparkSession, store: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit =
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.keyTarget(PathLoc(store), "id", tombstones, large)))

  /** One incremental step: signatures for `newDocs` are computed once,
    * persisted under `date`, and paired against everything in the store
    * (prior dates AND this one). `k` is used for both the signature
    * computation and the pairing bands. */
  def processDate(spark: SparkSession, newDocs: DataFrame, store: String,
      date: String, threshold: Double = 0.5, idCol: String = "doc_id",
      k: Int = 32): DataFrame = {
    appendSignatures(newDocs, store, date, k, idCol)
    val all = loadSignatures(spark, store)
    newPairs(all.filter(col("ds") === date), all, threshold, k = k)
  }
}
