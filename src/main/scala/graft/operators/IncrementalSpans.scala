package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cross-date exact-substring (repeated-span) detection — the
  * [[IncrementalDedup]] contract applied to the q101/q102 window-hash
  * family: each ingestion date tokenizes and hashes ITS OWN documents'
  * n-token windows ONCE, appends per-hash COUNTS to a persistent store
  * under its date partition, and any report joins window hashes against
  * the accumulated counts (Σ over dates ≥ 2 ⇒ duplicated somewhere in the
  * all-time corpus, including within this batch).
  *
  * Counts are ADDITIVE state — the sum over date partitions equals the
  * count over the union corpus, independent of how ingestion was split —
  * which is exactly what makes the incremental report equal the
  * from-scratch [[Corpus.repeatedSpans]] (pinned in IncrementalSpansSpec
  * and oracle-gated as q109 against q101's SQL). The expensive pass (text
  * tokenize + n-gram hash) happens once per document, ever; a daily
  * report touches only the new docs' grams plus one aggregate over the
  * store's compact fixed-width (h, cnt) rows.
  *
  * Idempotence mirrors the split engine's markers: a re-run date
  * overwrites only its own `ds=` partition (dynamic partition overwrite),
  * so retries never double-count. */
object IncrementalSpans {

  /** Hash one date's documents and append their per-hash window counts
    * under that date's partition (idempotent re-run). */
  def appendCounts(docs: DataFrame, store: String, date: String, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    IncrementalStore.appendPath(
      Corpus.spanGrams(docs, n, idCol, textCol)._2
        .groupBy(col("h")).agg(count(lit(1)).as("cnt")),
      store, date)

  /** DELETION PROPAGATION for the span-count store. Unlike the doc-keyed
    * stores, (h, cnt) rows carry no doc ids — a doc's contribution can
    * only be SUBTRACTED, so the pass needs the deleted documents' TEXTS
    * (`deletedDocs` — a takedown request has the document in hand): their
    * window-hash counts are recomputed with the same tokenizer/hash the
    * appends used and subtracted from the folded store in one
    * marker-committed [[StoreMaintenance.rewrite]]; rows that reach
    * zero are dropped. Counts are additive, so the store afterwards is
    * bit-equal to one built over the corpus minus the deleted docs —
    * including the case where a hash was duplicated ONLY via the deleted
    * doc (its count drops below 2 and the span stops reporting as dup).
    * `n` must match the store's window width. */
  def deleteDocs(deletedDocs: DataFrame, store: String, gen: String,
      n: Int = 8, idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val del = Corpus.spanGrams(deletedDocs, n, idCol, textCol)._2
      .groupBy(col("h")).agg(count(lit(1)).as("dcnt"))
    IncrementalStore.propagateDeletes(deletedDocs.sparkSession, gen, Seq(
      IncrementalStore.DeleteTarget(PathLoc(store), transform = df => df
        .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
        .join(del, Seq("h"), "left")
        .select(col("h"),
          (col("cnt") - coalesce(col("dcnt"), lit(0L))).as("cnt"))
        .filter(col("cnt") > 0))))
  }

  /** Hashes duplicated ANYWHERE in the accumulated store (Σ cnt ≥ 2).
    * Corpus-sized — keep it distributed, never broadcast it. */
  def dupHashes(spark: SparkSession, store: String): DataFrame =
    StoreMaintenance.consistentScan(spark, PathLoc(store))
      .groupBy(col("h")).agg(sum(col("cnt")).as("total"))
      .filter(col("total") >= 2)
      .select(col("h"))

  /** Per-doc span report for `docs` measured against the accumulated
    * store: same output contract as [[Corpus.repeatedSpans]]
    * (doc, n_windows, n_dup_windows, dup_ratio), but "duplicated" means
    * duplicated across EVERY ingested date, not just within `docs`. */
  def report(docs: DataFrame, store: String, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (base, grams) = Corpus.spanGrams(docs, n, idCol, textCol)
    Corpus.spanReport(base, grams, dupHashes(docs.sparkSession, store), idCol)
  }
}
