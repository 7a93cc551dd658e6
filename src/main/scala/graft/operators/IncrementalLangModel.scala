package graft.operators

import graft.functions.{CharNgramRows, Fnv64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained naive-Bayes language-ID MODEL — the additive-
  * state store contract ([[IncrementalSpans]]' (h, cnt) shape) applied to
  * the q134 classifier: every piece of NB training state is a sum
  * (per-language trigram counts, per-language doc priors), so each
  * ingestion date counts ITS OWN labeled training documents once and
  * appends (cand, tri, c) and (cand, ndl) rows under its date partition;
  * the accumulated sums ARE the model a one-shot train over the union
  * corpus would fit — the classifier improves as labeled data streams in,
  * with no retraining pass, and scoring against the accumulated store is
  * bit-equal to from-scratch q134 (oracle-gated as q145 against q134's
  * own SQL; the derived quantities rebuild exactly: nl = Σc per language,
  * nd = Σndl, V = |distinct tri| of the summed model = |distinct tri| of
  * the union train corpus).
  *
  * The training membership (the 50% content-addressed FNV-mod holdout)
  * is decided per document, so it is stable across whatever date
  * partitioning delivers the corpus. Store rows are vocabulary-bounded
  * (≤ |charset|³·|langs| per date), far below the corpus — a daily append
  * costs one scan-local trigram pass over the new docs plus two tiny
  * aggregates. Idempotence per the family contract: a re-run date
  * overwrites only its own `ds=` partition. */
object IncrementalLangModel {

  /** Count one date's training documents (the q134 holdout rule) and
    * append trigram counts + priors under that date's partition. */
  def appendCounts(docs: DataFrame, store: String, date: String,
      idCol: String = "doc_id", langCol: String = "lang",
      textCol: String = "text"): Unit = {
    val isTrain =
      pmod(Fnv64.fnv64(col(idCol).cast("string")), lit(100L)) < 50
    docs.filter(isTrain)
      .select(col(langCol).as("cand"),
        CharNgramRows.charNgramRows(col(textCol), 3).as("tri"))
      .groupBy(col("cand"), col("tri")).agg(count(lit(1)).as("c"))
      .withColumn("ds", lit(date))
      .write.mode("overwrite").partitionBy("ds")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$store/tri")
    docs.filter(isTrain)
      .groupBy(col(langCol).as("cand")).agg(count(lit(1)).as("ndl"))
      .withColumn("ds", lit(date))
      .write.mode("overwrite").partitionBy("ds")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$store/prior")
  }

  /** The accumulated model: (cand, tri, c) trigram counts and
    * (cand, ndl) priors, summed over every ingested date. */
  def model(spark: SparkSession, store: String): (DataFrame, DataFrame) = (
    StoreMaintenance.consistentScan(spark, PathLoc(s"$store/tri"))
      .groupBy(col("cand"), col("tri")).agg(sum(col("c")).as("c")),
    StoreMaintenance.consistentScan(spark, PathLoc(s"$store/prior"))
      .groupBy(col("cand")).agg(sum(col("ndl")).as("ndl")))

  /** DELETION PROPAGATION = EXACT UNLEARNING for the counting model: NB
    * training state is a pure sum over training documents, so removing a
    * doc is an exact DECREMENT — the post-delete model is bit-equal to
    * one trained from scratch without it (no approximation; counting
    * models are the one family where a takedown can reach the MODEL
    * itself, not just the store rows — gradient models need refit, see
    * [[IncrementalVectors.refitQuantizer]]'s contract). The pass
    * recomputes the deleted docs' trigram counts and priors with the
    * exact append-side expressions and subtracts them in two
    * marker-committed [[StoreMaintenance.rewrite]] folds; rows that
    * reach zero are dropped, so the derived vocabulary V and the
    * candidate-language set shrink exactly as a from-scratch train over
    * the survivors would (oracle-gated as q166). Only tombstones inside
    * the 50% content-addressed train split affect the state — holdout
    * docs never entered it. Needs the deleted documents' text+label (a
    * takedown has the document in hand); re-run a crashed pass with the
    * SAME `gen`. */
  def deleteDocs(deletedDocs: DataFrame, store: String, gen: String,
      idCol: String = "doc_id", langCol: String = "lang",
      textCol: String = "text"): Unit = {
    val spark = deletedDocs.sparkSession
    val isTrain =
      pmod(Fnv64.fnv64(col(idCol).cast("string")), lit(100L)) < 50
    val del = deletedDocs.filter(isTrain)
    val delTri = del.select(col(langCol).as("cand"),
        CharNgramRows.charNgramRows(col(textCol), 3).as("tri"))
      .groupBy(col("cand"), col("tri")).agg(count(lit(1)).as("dc"))
    val delPrior = del.groupBy(col(langCol).as("cand"))
      .agg(count(lit(1)).as("dndl"))
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.DeleteTarget(PathLoc(s"$store/tri"),
        transform = df => df
          .groupBy(col("cand"), col("tri")).agg(sum(col("c")).as("c"))
          .join(delTri, Seq("cand", "tri"), "left")
          .select(col("cand"), col("tri"),
            (col("c") - coalesce(col("dc"), lit(0L))).as("c"))
          .filter(col("c") > 0)),
      IncrementalStore.DeleteTarget(PathLoc(s"$store/prior"),
        transform = df => df
          .groupBy(col("cand")).agg(sum(col("ndl")).as("ndl"))
          .join(delPrior, Seq("cand"), "left")
          .select(col("cand"),
            (col("ndl") - coalesce(col("dndl"), lit(0L))).as("ndl"))
          .filter(col("ndl") > 0))))
  }
}
