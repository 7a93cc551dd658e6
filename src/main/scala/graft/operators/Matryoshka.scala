package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted MATRYOSHKA vector index — the production serving shape the
  * q150 audit and q153 two-stage serve motivate (Kusupati et al.,
  * "Matryoshka Representation Learning", NeurIPS 2022), built as a store:
  * the IVF coarse quantizer is trained and probed on the cheap
  * `pDim`-PREFIX of each embedding (4× fewer multiplies per cell
  * distance at pDim = 16 of 64 — at fleet scale, stage 1 is where the
  * arithmetic lives), while the posting rows carry the FULL vector, so
  * within-cell ranking — stage 2 — is exact full-dimension cosine over
  * only the probed lists. One store, both stages: candidate generation
  * pays prefix arithmetic, re-ranking pays full precision, and nothing
  * is ever re-encoded at query time.
  *
  * Follows the [[IncrementalVectors]] store contract verbatim: the
  * prefix quantizer is frozen at init as the model table `t_ctr`
  * (pDim-dimensional centroids); each ingestion date assigns ITS OWN
  * vectors once by prefix distance and appends (cell, id, fullVec, norm)
  * rows to the cell-bucketed `t_cells` table; a probe's cell set becomes
  * a literal `IN` filter that prunes buckets at the scan. Assignment is
  * a per-row pure function of (prefix, frozen centroids), so incremental
  * == one-shot (spec-pinned) and the q157 oracle replays prefix k-means
  * training, full-corpus prefix assignment, prefix probe ranking, and
  * the full-dimension re-rank end to end.
  *
  * [[IncrementalVectors.ivfSearch]]'s caller contract applies: building
  * the serve plan runs one bounded eager action (the probed-cell
  * collect, |queries|·nProbe ints) — call per query batch. */
object Matryoshka {

  private def prefixed(emb: DataFrame, pDim: Int, idCol: String,
      vecCol: String): DataFrame =
    emb.select(col(idCol), slice(col(vecCol), 1, pDim).as(vecCol))

  /** Train the prefix quantizer on the initial corpus slice and persist
    * it (overwrite = re-init is a new store). */
  def initModel(initial: DataFrame, table: String, pDim: Int = 16,
      nCells: Int = 16, iterations: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val (_, centroids, release) = KMeans.fitCentroidsManaged(
      prefixed(initial, pDim, idCol, vecCol), nCells, iterations,
      idCol, vecCol)
    centroids.write.mode("overwrite").saveAsTable(s"${table}_ctr")
    release() // the write above was the last action over the fit's plans
  }

  /** Assign one date's vectors by PREFIX distance against the frozen
    * quantizer and append (cell, id, full vector, full norm) rows. */
  def appendDate(emb: DataFrame, table: String, date: String,
      pDim: Int = 16, nBuckets: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    // per-row prefix assignment against the collected frozen quantizer
    // (k·pDim doubles): one projection + the bucketed write — the old
    // assignment aggregates and the vectors-⋈-cells self-join are gone
    // (KMeans.assign's optimization note applies; the slice feeds the
    // model expression directly)
    val model = graft.functions.ModelExpressions
      .collectModel(spark.table(s"${table}_ctr"))
    IncrementalStore.appendBucketed(
      emb.select(col(idCol).as("id"), col(vecCol).as("e"),
          Similarity.norm(col(vecCol)).as("n"),
          graft.functions.ModelExpressions
            .cellAssignRows(slice(col(vecCol), 1, pDim), model)
            .as(Seq("cell", "__d2")))
        .select(col("cell"), col("id"), col("e"), col("n")),
      s"${table}_cells", date, Seq("cell"), nBuckets)
  }

  /** Drop one ingestion date's partition — the re-run/retry guard. */
  def dropDate(spark: SparkSession, table: String, date: String): Unit =
    IncrementalStore.dropDate(spark, Seq(TableLoc(s"${table}_cells")), date)

  /** DELETION PROPAGATION — the [[IncrementalVectors.deleteIds]] contract
    * for the matryoshka store's single cell table: one marker-committed
    * rewrite drops the tombstoned ids' posting rows; the frozen prefix
    * quantizer is a model artifact and stays. */
  def deleteIds(spark: SparkSession, table: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit =
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.keyTarget(TableLoc(s"${table}_cells"), "id",
        tombstones, large)))

  /** AS-OF restriction — the [[IncrementalVectors]] convention verbatim:
    * the date partitioning makes time-travel a partition PRUNE.
    * Consolidated `c_<date>` partitions compare by their effective date;
    * `r_<gen>` rewrite generations are excluded by any as-of. */
  private def asOf(store: DataFrame, upTo: Option[String]): DataFrame =
    IncrementalStore.asOf(store, upTo)

  /** Two-stage top-k: probe `nProbe` cells by exact PREFIX squared-L2 to
    * the frozen centroids (the quantizer's own metric), prune the
    * cell-bucketed scan to the probed cells, then rank candidates by
    * exact FULL-dimension cosine. Output (qid, rank, cid, cosine), ties
    * by cid — the [[IncrementalVectors.ivfSearch]] contract with prefix
    * probing. */
  def search(spark: SparkSession, table: String, queries: DataFrame,
      kNeighbors: Int = 3, nProbe: Int = 6, pDim: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      upTo: Option[String] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val centroids = spark.table(s"${table}_ctr")
    val probeW = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val probes = KMeans.cellDistances(
        KMeans.dimRows(prefixed(queries, pDim, idCol, vecCol), idCol, vecCol),
        centroids)
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nProbe)
      .select(col("id").as("qid"), col("cid").as("cell"))
    // bounded driver collect (|queries|·nProbe ints): literals let the
    // bucketed scan PRUNE — the ivfSearch rationale, verbatim
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    // filtered serve ([[IncrementalStore.allowFilter]]): candidates are
    // restricted after the bucket prune, before the full-dim re-rank
    val store = IncrementalStore.allowFilter(
      asOf(StoreMaintenance.consistentScan(spark,
          TableLoc(s"${table}_cells")), upTo)
        .filter(col("cell").isin(probedCells.map(Int.box): _*)), allowed)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"),
      Similarity.norm(col(vecCol)).as("qn"))
    val scored = broadcast(probes.join(q, "qid")).join(store,
        col("qid") =!= col("id") && probes("cell") === store("cell"))
      .withColumn("cosine",
        round(Similarity.dot(col("qe"), col("e")) / (col("qn") * col("n")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("id").as("cid"), col("cosine"))
  }
}
