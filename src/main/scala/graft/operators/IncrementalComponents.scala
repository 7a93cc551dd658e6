package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cross-date near-dup CLUSTERING — the fifth incremental
  * persisted family (dedup signatures q91/q92, postings q120/q128, spans
  * q109, vectors q133, and now cluster labels): a date-partitioned corpus
  * maintains its transitive near-dup components across ingestion dates
  * without ever re-clustering the accumulated corpus.
  *
  * The algorithm is distributed union-find with path compression, phrased
  * as dataframes:
  *
  *   1. Each date discovers its NEW exact-verified pairs (new docs × the
  *      accumulated signature store — [[IncrementalDedup]]'s contract, so
  *      texts are shingled once per doc, ever).
  *   2. Edge endpoints are CONTRACTED to their current component
  *      representative (stored docs collapse to their canonical id; unseen
  *      docs stay themselves). Label propagation then runs over the
  *      contracted edge set only — O(|new edges|), never O(|corpus|).
  *   3. The store updates: newly-clustered docs append an immutable
  *      (id, rep0) row under the current date; representative merges land
  *      in a VERSIONED rep→canon map (components-count-sized, i.e. tiny),
  *      fully composed each date so a read is labels ⋈ broadcast(repmap)
  *      with ONE coalesce — no chain-walking at serve time.
  *
  * Because component ids are min-reachable doc ids and min is associative,
  * contracting a component to its (min) representative before propagation
  * is lossless: the incremental labels after date d are bit-equal to a
  * from-scratch [[Components.connected]] over all pairs ≤ d (pinned in
  * IncrementalComponentsSpec; the q148 registry row gates the full replay
  * against q62's recursive-closure oracle).
  *
  * Scale shape per date: one signature append (new docs only), one banded
  * candidate join against the store, exact verification bounded to
  * candidate ENDPOINTS (semi-join before shingling — old texts are only
  * re-read for docs that actually matched a band), propagation over
  * contracted edges, one label append, one tiny repmap rewrite. Nothing is
  * corpus-sized except the signature-store scan the candidate join already
  * pays (and [[IncrementalDedup.newPairsBucketed]] shows how even that
  * becomes exchange-free).
  */
object IncrementalComponents {

  // explicit schema, not inference: a store dir can legitimately exist with
  // ZERO data files (a date whose repmap composition had only identity
  // entries writes nothing under dynamic overwrite), and schema inference
  // over an empty dir throws where an explicit schema reads empty.
  // Existence goes through the Hadoop FileSystem resolved FROM the path
  // (the MarkerLedger idiom) — a java.io.File probe is always false on
  // hdfs://, s3a://, or file:-URI stores, which would silently read an
  // existing store as empty and re-cluster from scratch.
  private def readOrEmpty(spark: SparkSession, path: String,
      schema: String): DataFrame = {
    val st = org.apache.spark.sql.types.StructType.fromDDL(schema)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val df = spark.read.schema(st).parquet(path)
      // ds-partitioned stores (labels, edges) read through the fold
      // crash-window resolution; the repmap partitions on its own `v`
      // version column and is pruned by version, not folded
      if (st.fieldNames.contains("ds"))
        StoreMaintenance.consistentScan(spark, PathLoc(path), Some(df))
      else df
    } else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
  }

  /** The stored immutable first-labels: (id, rep0, ds). */
  def loadLabels(spark: SparkSession, labelsPath: String): DataFrame =
    readOrEmpty(spark, labelsPath, "id BIGINT, rep0 BIGINT, ds STRING")

  /** The latest fully-composed representative map: (rep, canon). Only
    * non-identity entries are stored; absent rep ⇒ rep is its own canon. */
  def currentRepmap(spark: SparkSession, repmapPath: String): DataFrame = {
    val all = readOrEmpty(spark, repmapPath, "rep BIGINT, canon BIGINT, v STRING")
    // versions are the caller's date strings (lexicographically ordered by
    // the q91 convention d0 < d1 < …); the latest version is the whole map
    val latest = all.select(max(col("v"))).head()
    if (latest.isNullAt(0)) all.select(col("rep"), col("canon"))
    else all.filter(col("v") === latest.getString(0))
      .select(col("rep"), col("canon"))
  }

  /** Current component label per clustered doc: (id, component). The serve
    * path: labels ⋈ broadcast(tiny repmap), one coalesce. */
  def currentLabels(spark: SparkSession, labelsPath: String,
      repmapPath: String): DataFrame =
    loadLabels(spark, labelsPath)
      .join(broadcast(currentRepmap(spark, repmapPath)),
        col("rep0") === col("rep"), "left")
      .select(col("id"), coalesce(col("canon"), col("rep0")).as("component"))

  private def partitionDirs(spark: SparkSession, path: String,
      pcol: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(s"$pcol="))
      .map(_.stripPrefix(s"$pcol="))
  }

  /** Retention compaction for the label store — the q135 contract
    * (StoreMaintenance.compact) applied to a PATH store: fold every
    * `ds` partition with effective date ≤ `upTo` into one consolidated
    * `c_<upTo>` partition. Label rows are written once per doc and never
    * rewritten (disjoint state), so the fold is a pure re-bin: every
    * reader unions over `ds`, hence reports are bit-equal before/after
    * (spec-pinned; the q149 registry row gates a compaction-in-the-middle
    * cycle on q62's oracle). Same crash protocol as StoreMaintenance:
    * append the consolidated partition, THEN the `_done` marker, THEN
    * drop the olds, THEN clear the marker — a re-run resumes from any
    * interruption window. */
  def compactLabels(spark: SparkSession, labelsPath: String,
      upTo: String): Unit = {
    // same writer/compactor mutual exclusion as the StoreMaintenance
    // folds: hold the lease for the fold's duration; processDate checks it
    StoreMaintenance.acquireLease(spark, labelsPath)
    try compactLabelsBody(spark, labelsPath, upTo)
    finally StoreMaintenance.releaseLease(spark, labelsPath)
  }

  private def compactLabelsBody(spark: SparkSession, labelsPath: String,
      upTo: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(labelsPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val label = s"c_$upTo"
    val marker = new org.apache.hadoop.fs.Path(labelsPath, s"_compact_${label}_done")
    def olds(): Seq[String] = partitionDirs(spark, labelsPath, "ds")
      .filter(ds => ds != label && ds.stripPrefix("c_") <= upTo)
    if (!fs.exists(marker)) {
      val old = olds()
      // one old partition is a no-win rename, and the ≥2 threshold keeps
      // the partial-write rule sound: an unmarked consolidated partition
      // next to <2 olds is a PRIOR completed fold, not a partial
      if (old.size < 2) return
      val labelDir = new org.apache.hadoop.fs.Path(labelsPath, s"ds=$label")
      if (fs.exists(labelDir)) fs.delete(labelDir, true) // uncommitted partial
      loadLabels(spark, labelsPath)
        .filter(col("ds").isin(old: _*))
        .select(col("id"), col("rep0")).withColumn("ds", lit(label))
        .write.mode("overwrite").partitionBy("ds")
        .option("partitionOverwriteMode", "dynamic").parquet(labelsPath)
      fs.create(marker, true).close()
    }
    olds().foreach(ds =>
      fs.delete(new org.apache.hadoop.fs.Path(labelsPath, s"ds=$ds"), true))
    fs.delete(marker, false)
    ()
  }

  /** Drop every superseded rep-map version. Safe without a marker: each
    * version is SELF-CONTAINED (fully composed), `currentRepmap` reads
    * only the latest, and a crash mid-delete merely leaves extra old
    * versions — still correct, retried next pass. Keeping old versions
    * is only useful for as-of reads (the q144 convention); a serving
    * deployment prunes them. */
  def pruneRepmapVersions(spark: SparkSession, repmapPath: String): Unit = {
    val vs = partitionDirs(spark, repmapPath, "v")
    if (vs.size > 1) {
      val fs = new org.apache.hadoop.fs.Path(repmapPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      vs.filter(_ != vs.max).foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(repmapPath, s"v=$v"), true))
    }
  }

  /** DELETION PROPAGATION for the clustering store family — the hardest
    * tombstone pass, because component membership is a FUNCTION of the
    * verified edge set: removing a doc can SPLIT a component (the doc may
    * have been its only bridge), so label rows cannot simply be dropped.
    * Requires the store to have been built with the EDGE STORE
    * ([[processDate]]'s `edgesPath`); with it the pass is edge-sized,
    * never corpus-sized:
    *
    *   1. the tombstoned docs' signature rows are dropped (they can never
    *      pair again — [[IncrementalDedup.deleteSignatures]]);
    *   2. every edge touching a tombstone is dropped (one
    *      marker-committed [[StoreMaintenance.rewrite]]);
    *   3. components are recomputed over the REMAINING edges — the same
    *      closed-form propagation the daily step runs, O(|edges|);
    *   4. the label store is rewritten from that map, and the repmap
    *      version history (whose canons may BE deleted docs) is cleared —
    *      the rewritten labels are already canonical.
    *
    * The result equals a from-scratch clustering of the corpus minus the
    * deleted docs (oracle-gated as q162), and the docs are GONE from
    * every table, not masked. A crashed pass is resumed by re-running
    * with the SAME `gen` to completion (each rewrite is marker-committed,
    * the recompute idempotent); serves between a crash and its resume may
    * see the pre-delete labels — the pass is not done until it returns. */
  def deleteDocs(spark: SparkSession, tombstones: DataFrame,
      sigStore: String, labelsPath: String, repmapPath: String,
      edgesPath: String, gen: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(edgesPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root),
      s"deletion propagation needs the edge store ($edgesPath missing): " +
        "build the store with processDate(edgesPath = Some(...)) — " +
        "without the edges, deletion requires re-clustering the corpus")
    IncrementalDedup.deleteSignatures(spark, sigStore, tombstones, gen)
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.DeleteTarget(PathLoc(edgesPath),
        transform = df => StoreMaintenance.tombstone(tombstones, "a_id")(
          StoreMaintenance.tombstone(tombstones, "b_id")(df)))))
    val remaining = readOrEmpty(spark, edgesPath,
      "a_id BIGINT, b_id BIGINT, ds STRING").select(col("a_id"), col("b_id"))
    if (remaining.isEmpty)
      // no edges survive: no doc is clustered — the label store clears
      fs.delete(new org.apache.hadoop.fs.Path(labelsPath), true)
    else {
      val newmap = Components.connected(remaining)
      StoreMaintenance.rewrite(spark, PathLoc(labelsPath), gen,
        transform = _ => newmap
          .select(col("id"), col("component").as("rep0")))
      Components.freeLocalCheckpoint(newmap)
    }
    fs.delete(new org.apache.hadoop.fs.Path(repmapPath), true)
    ()
  }

  /** Drop one ingestion date's composed repmap VERSION — with
    * [[IncrementalStore.dropDate]] over the signature, label and edge
    * stores, the [[CurateJob]] crash-resume guard (drop-then-retry).
    * Each version is self-contained, so the previous one remains the
    * latest afterwards, exactly the pre-date state, and a retried
    * [[processDate]] replays as a first run. Bounded filesystem
    * metadata. */
  def dropRepmapVersion(spark: SparkSession, repmapPath: String,
      date: String): Unit = {
    val v = new org.apache.hadoop.fs.Path(repmapPath, s"v=$date")
    v.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(v, true)
    ()
  }

  /** Ingest one date: append signatures, discover + verify this date's new
    * pairs, contract, propagate, and update the label store. `newDocs`
    * must be exactly the date's slice of `allDocs`. Candidate estimation
    * uses `min(0.2, threshold)` — never tighter than the caller's
    * threshold, so a sub-0.2 threshold is honored — and exact verification
    * (at `threshold`) decides final pair membership. Note the estimate
    * pre-filter makes band recall probabilistic in the tail: a true pair
    * whose k=32 signature estimate falls below the floor is dropped on
    * this path (P ≈ 3e-4 per borderline pair), so bit-equality to a
    * from-scratch clustering holds with overwhelming probability, not
    * structurally. */
  def processDate(spark: SparkSession, newDocs: DataFrame, allDocs: DataFrame,
      sigStore: String, labelsPath: String, repmapPath: String, date: String,
      threshold: Double = 0.5, idCol: String = "doc_id",
      edgesPath: Option[String] = None): Unit =
    // hold an append lease on the label store for the whole step — a
    // compactLabels fold that starts mid-step backs off against it
    // (appendSignatures below guards the signature store the same way)
    StoreMaintenance.withAppendLease(spark, PathLoc(labelsPath)) {
      processDateLocked(spark, newDocs, allDocs, sigStore, labelsPath,
        repmapPath, date, threshold, idCol, edgesPath)
    }

  private def processDateLocked(spark: SparkSession, newDocs: DataFrame,
      allDocs: DataFrame, sigStore: String, labelsPath: String,
      repmapPath: String, date: String, threshold: Double,
      idCol: String, edgesPath: Option[String]): Unit = {
    IncrementalDedup.appendSignatures(newDocs, sigStore, date)
    val allSigs = IncrementalDedup.loadSignatures(spark, sigStore)
      .select(col("id"), col("sig"))
    val newSigs = IncrementalDedup.loadSignatures(spark, sigStore)
      .filter(col("ds") === date).select(col("id"), col("sig"))
    val cand = IncrementalDedup.newPairs(newSigs, allSigs,
      threshold = math.min(0.2, threshold))
      .select(col("a_id"), col("b_id"))
    // exact verification bounded to candidate endpoints: only docs that
    // matched a band get their text re-shingled
    val endpointIds = cand.select(col("a_id").as(idCol))
      .unionAll(cand.select(col("b_id").as(idCol))).distinct()
    val touched = allDocs.join(endpointIds, Seq(idCol), "left_semi")
    // eager: every downstream read must see the store as of THIS date, and
    // the propagation loop reuses the edge set across rounds
    val edges = Dedup.verifyPairs(touched, cand, threshold, idCol)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    // optionally persist THIS date's verified edges (the deletion-
    // propagation prerequisite — see [[deleteDocs]]): edges are computed
    // here anyway, and pair-keyed disjoint state appends like labels.
    // Written before the label updates and dynamically overwritten per
    // date, so a re-run of the date replaces its own rows (idempotent).
    edgesPath.foreach(p => IncrementalStore.appendPath(edges, p, date))
    if (!edges.isEmpty) {
      // ONE labels read and ONE repmap read serve the whole date: the
      // checkpointed (id, rep0, component) frame feeds the contraction,
      // the first-label anti-join, AND the rep recomposition below — the
      // label store (corpus-scale at the horizon) is scanned once per
      // date, not three times, and the repmap version probe (a driver
      // head) runs once, not twice
      val oldMap = currentRepmap(spark, repmapPath)
      val cur = loadLabels(spark, labelsPath)
        .join(broadcast(oldMap), col("rep0") === col("rep"), "left")
        .select(col("id"), col("rep0"),
          coalesce(col("canon"), col("rep0")).as("component"))
        .localCheckpoint()
      def mapped(side: String): DataFrame = cur
        .select(col("id").as(side), col("component").as(s"c_$side"))
      val contracted = edges
        .join(mapped("a_id"), Seq("a_id"), "left")
        .join(mapped("b_id"), Seq("b_id"), "left")
        .select(coalesce(col("c_a_id"), col("a_id")).as("ca"),
          coalesce(col("c_b_id"), col("b_id")).as("cb"))
        .filter(col("ca") =!= col("cb"))
      if (!contracted.isEmpty) {
        val newmap = Components.connected(contracted, "ca", "cb")
        // docs clustered for the first time get their immutable (id, rep0)
        // row under THIS date (the date that clustered them, which may be
        // later than their ingestion date — a doc pairs when its partner
        // arrives)
        val labs = cur.select(col("id"))
        newmap.join(labs, Seq("id"), "left_anti")
          .select(col("id"), col("component").as("rep0"))
          .withColumn("ds", lit(date))
          .write.mode("overwrite").partitionBy("ds")
          .option("partitionOverwriteMode", "dynamic").parquet(labelsPath)
        // recompose the rep map over every stored rep0: old canon chains
        // through this date's merges, then identity entries drop. The
        // post-append rep0 set is the pre-append set ∪ newmap's component
        // values — every contracted cluster contains ≥1 first-seen doc
        // (each verified edge has a new-date endpoint, which cannot be in
        // the label store), and that doc's appended rep0 IS the cluster's
        // component — so no post-append store re-read is needed
        val reps = cur.select(col("rep0")).unionAll(
          newmap.select(col("component").as("rep0"))).distinct()
        val composed = reps
          .join(broadcast(oldMap), col("rep0") === col("rep"), "left")
          .select(col("rep0"), coalesce(col("canon"), col("rep0")).as("oc"))
          .join(broadcast(newmap.select(col("id").as("oc"),
            col("component").as("nc"))), Seq("oc"), "left")
          .select(col("rep0").as("rep"), coalesce(col("nc"), col("oc")).as("canon"))
          .filter(col("rep") =!= col("canon"))
        composed.withColumn("v", lit(date))
          .write.mode("overwrite").partitionBy("v")
          .option("partitionOverwriteMode", "dynamic").parquet(repmapPath)
        Components.freeLocalCheckpoint(newmap)
      }
      Components.freeLocalCheckpoint(cur)
    }
    Components.freeLocalCheckpoint(edges)
  }
}
