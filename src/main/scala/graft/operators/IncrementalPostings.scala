package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental inverted-index maintenance — the [[IncrementalDedup]] /
  * [[IncrementalSpans]] contract applied to [[Search.postings]]: each
  * ingestion date tokenizes ITS OWN documents once and appends their
  * (term, doc_id, tf) rows to a persistent store under its date
  * partition; any report derives df/cf and the top-k impact-ordered
  * postings from the accumulated store. This is how production indexes
  * actually grow — Lucene segment flush + merge, not nightly full
  * rebuilds over the all-time corpus.
  *
  * tf rows are ADDITIVE state: summing a doc's rows across date
  * partitions equals its tf over the union corpus no matter how
  * ingestion was split, so the incremental report is bit-equal to the
  * from-scratch [[Search.postings]] (pinned in IncrementalPostingsSpec,
  * oracle-gated as q120 against q118's SQL). The expensive pass
  * (tokenize + per-doc counting) happens once per document, ever; a
  * report touches only the store's compact fixed-width rows.
  *
  * Idempotence mirrors the split engine's markers: a re-run date
  * overwrites only its own `ds=` partition (dynamic partition
  * overwrite), so retries never double-count. */
object IncrementalPostings {

  /** Tokenize one date's documents and append their (term, doc_id, tf)
    * rows under that date's partition (idempotent re-run). */
  def appendCounts(docs: DataFrame, store: String, date: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    IncrementalStore.appendPath(
      Search.termFrequencies(docs, idCol, textCol), store, date)

  /** Index report over the accumulated store — same output contract as
    * [[Search.postings]] over the union of every ingested date. */
  def report(spark: SparkSession, store: String, k: Int = 3): DataFrame =
    Search.postingsFromTf(
      StoreMaintenance.consistentScan(spark, PathLoc(store))
        .groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")),
      k)

  /** BUCKETED tf store — the serving layout [[Search]]'s scaladoc promises:
    * tf rows persisted as a table bucketed on `term` and partitioned by
    * ingestion date. Every report stage is keyed on term (the tf merge, the
    * df/cf aggregate, the top-k window, the stats join), so a term-bucketed
    * scan satisfies ALL their distributions at once: the report plans with
    * ZERO hash exchanges (pinned in IncrementalPostingsSpec) — at 100 TB
    * the accumulated store never crosses the wire again; its one shuffle is
    * amortized into each date's write, once per row ever (the
    * [[IncrementalDedup.appendBandsBucketed]] precedent).
    *
    * Append-only by design (a date is written once, like the split engine's
    * markers); a re-run of a failed date should drop the table's date
    * partition first. `nBuckets` must stay constant for the table's life —
    * size it as |store at horizon| · rowBytes / targetPartitionBytes. */
  def appendCountsBucketed(docs: DataFrame, table: String, date: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 8): Unit =
    IncrementalStore.appendBucketed(
      Search.termFrequencies(docs, idCol, textCol),
      table, date, Seq("term"), nBuckets)

  /** Report over the bucketed store — same output contract as [[report]],
    * but every keyed stage reuses the bucket layout: the only exchange in
    * the plan is the output ORDER BY's range partitioning (the total-order
    * contract), never a hashpartitioning of the store. */
  def reportBucketed(spark: SparkSession, table: String, k: Int = 3): DataFrame =
    Search.postingsFromTf(
      StoreMaintenance.consistentScan(spark, TableLoc(table))
        .groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")),
      k)

  /** Append one date's per-document LENGTHS (doc_id, dl) to the norms
    * table `t_dl`, bucketed on doc_id — Lucene's norms file,
    * Spark-shaped: BM25's length normalization needs every document's
    * token count, and deriving it from the tf store at query time would
    * be a corpus-sized (doc_id) aggregate against a TERM-bucketed
    * layout (one full reshuffle per query). Indexed once per date here,
    * the serve-time merge (Σ dl across dates per doc) runs exchange-free
    * on the doc-bucketed scan. dl is computed scan-local (token-array
    * size — no aggregate), and dl ≡ Σ tf of [[appendCountsBucketed]]'s
    * rows for the same date by construction (same tokenizer). Documents
    * that tokenize to ZERO terms are excluded (dl > 0), matching the
    * one-shot [[Search.bm25]] derivation, which builds dl from the token
    * stream and so never sees an empty doc — without the filter,
    * store-served n_docs/avgdl would diverge from the one-shot/oracle on
    * any corpus containing a whitespace-only document. */
  def appendNorms(docs: DataFrame, table: String, date: String,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 8): Unit =
    IncrementalStore.appendBucketed(
      docs.select(col(idCol).as("doc_id"),
          size(filter(graft.functions.TextFunctions.tokens(col(textCol)),
            w => length(w) > 0)).cast("bigint").as("dl"))
        .filter(col("dl") > 0),
      s"${table}_dl", date, Seq("doc_id"), nBuckets)

  /** Compaction merge for the norms table `t_dl`: per-doc lengths are
    * additive across dates, so the fold sums them to one row per doc —
    * and STRIPS `dl = 0` rows while at it. MIGRATION: norms tables
    * written before [[appendNorms]] gained its `dl > 0` append filter
    * may still hold dl=0 rows (whitespace-only documents), which
    * silently inflate the store-served n_docs and deflate avgdl away
    * from the one-shot [[Search.bm25]] derivation; folding with this
    * merge (e.g. [[compactNorms]]) removes them from existing stores.
    * Emits the table's exact column set minus `ds`, per
    * [[StoreMaintenance.compact]]'s transform contract. */
  val normsMerge: DataFrame => DataFrame =
    _.groupBy("doc_id").agg(sum(col("dl")).as("dl"))
      .filter(col("dl") > 0)

  /** [[StoreMaintenance.compact]] applied to the norms table with
    * [[normsMerge]] — the retention pass for `t_dl`, and the one-off
    * cleanup path for pre-`dl > 0` stores (see the merge's scaladoc). */
  def compactNorms(spark: SparkSession, table: String, upTo: String): Unit =
    StoreMaintenance.compact(spark, TableLoc(s"${table}_dl"), upTo, normsMerge)

  /** DELETION PROPAGATION (tombstone pass) for the lexical store family —
    * the opt-out/takedown operator: physically remove the tombstoned
    * docs' rows from the term-bucketed tf table AND the doc-bucketed
    * norms table, one marker-committed [[StoreMaintenance.rewrite]] each.
    * tf and dl rows are doc-keyed additive state, so deletion is a
    * recompute-free row DROP — the store afterwards is bit-equal to one
    * built over the corpus minus the deleted docs (oracle-gated as q160):
    * n_docs, avgdl, df, and every score re-derive from the remaining
    * rows at serve time with no model to unlearn. `tombstones`' first
    * column is the doc_id set; `gen` labels the rewrite generation
    * (fresh per pass, re-run the SAME gen to resume a crashed pass).
    * `large` = the key set is CORPUS-scale (a whole-source takedown):
    * the anti-join shuffles instead of broadcasting
    * ([[StoreMaintenance.tombstoneLarge]]) — the doc-bucketed norms side
    * is already co-located on the key; the term-bucketed tf side pays
    * one hash exchange on doc_id, the bounded price of deleting against
    * the serving layout (oracle-gated as q177). */
  def deleteDocs(spark: SparkSession, table: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit =
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.keyTarget(TableLoc(table), "doc_id", tombstones, large),
      IncrementalStore.keyTarget(TableLoc(s"${table}_dl"), "doc_id",
        tombstones, large, optional = true)))

  /** BM25 ranked retrieval SERVED from the accumulated store — the
    * lexical twin of [[IncrementalVectors.adcSearch]]: query-term tf
    * rows come off the term-bucketed tf table (the `IN` filter pushes to
    * the term-sorted scan, so row-group stats skip non-matching data;
    * the (term, doc_id) merge's distribution is satisfied by the term
    * bucketing), per-doc lengths off the doc-bucketed norms table (the
    * (doc_id) merge likewise exchange-free), and [[Search.bm25Score]]
    * does the rest with aggregate-sized broadcast state. No token scan,
    * no re-tokenization — the indexing dates paid both, once per doc. */
  def bm25Bucketed(spark: SparkSession, table: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, allowed: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val tf = StoreMaintenance.consistentScan(spark, TableLoc(table))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy("doc_id", "term").agg(sum(col("tf")).as("tf"))
    val dl = StoreMaintenance.consistentScan(spark, TableLoc(s"${table}_dl"))
      .groupBy("doc_id").agg(sum(col("dl")).as("dl"))
    // `allowed` = filtered retrieval with CORPUS-wide statistics — see
    // [[Search.bm25Score]]'s contract note
    Search.bm25Score(tf, dl, k, k1, b, allowed)
  }
}
