package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained SQ8 index — the
  * [[IncrementalVectors]] store contract applied to the third index family
  * ([[SQ]], q147): the per-dimension affine grid is trained ONCE on the
  * initial corpus slice and frozen as a model table; each ingestion date
  * then encodes ITS OWN vectors once against the frozen grid and appends
  * the uint8 codes to an id-bucketed store table; searches serve
  * asymmetrically (exact query × reconstructed codes) from the accumulated
  * store with no re-encoding. This is how a memory-constrained serving
  * fleet actually runs SQ8: the grid is fleet-wide frozen state, fresh
  * embeddings append as they arrive, and the 4×-compressed store is the
  * only thing the servers hold.
  *
  * Store layout per base name `t`:
  *  - `t_grid` — the frozen per-dimension grid (dim, mn, span): D rows,
  *    broadcast into every encode and serve (the model is data, so it
  *    lives in the store — the [[IncrementalVectors.initModel]] rule);
  *  - `t_codes` — uint8 codes in row form (id, dim, code), partitioned by
  *    ingestion date, BUCKETED ON `id`: both serve-side aggregates (the
  *    corpus-norm `groupBy(id)` and the dot-product `groupBy(qid, id)`)
  *    have their distribution satisfied by the id bucketing, so the
  *    store-side rows never cross the wire at serve time (pinned in
  *    IncrementalSQSpec — zero exchanges at or below the code scan).
  *
  * Because the grid is frozen, encoding is a per-row pure function of
  * (vector, grid) — the accumulated store over any date split is bit-equal
  * to a one-shot encode of the union corpus against the same grid
  * (incremental == from-scratch, spec-pinned; the q152 registry row gates
  * the full replay: init-slice grid training, per-date saturated encode,
  * reconstruction, decimal-summed asymmetric serve). The price of freezing
  * is SATURATION: later dates' components outside the trained range clamp
  * to code 0/255 ([[SQ.encode]]'s rule) — reconstruction error grows with
  * drift, which is exactly what the q141 PSI audit detects and
  * [[refitGrid]] repairs.
  *
  * Idempotence follows the family contract: append-only by design; a
  * re-run or replayed micro-batch drops its own date partition first
  * ([[dropDate]] — [[graft.streaming.StreamingSQ]] calls it at the top of
  * every batch). `nBuckets` is fixed for the table's life.
  */
object IncrementalSQ {

  /** Train the per-dimension grid on the initial corpus slice and persist
    * it as the store's model table (overwrite = re-init is a new store).
    * One dim-keyed min/max aggregate — D output rows. */
  def initGrid(initial: DataFrame, table: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    SQ.stats(initial, idCol, vecCol)
      .write.mode("overwrite").saveAsTable(s"${table}_grid")

  /** Refuse any append or serve while an interrupted [[refitGrid]] is
    * pending (`t_grid_prev` exists): in that window the NEW grid is
    * already published but the codes are still OLD-grid — an append would
    * encode under the new grid and then be bit-corrupted by the mandated
    * same-gen refit resume (which reconstructs ALL rows via the old-grid
    * snapshot), and a search would score old codes against the new grid.
    * Fail closed; the documented recovery is re-running `refitGrid` with
    * the same gen to completion. */
  private def requireNoPendingRefit(spark: SparkSession, table: String,
      action: String): Unit =
    if (spark.catalog.tableExists(s"${table}_grid_prev"))
      throw new IllegalStateException(
        s"$action rejected: an interrupted grid refit is pending on $table " +
          s"(${table}_grid_prev exists) — re-run refitGrid with the same " +
          "gen to completion first")

  /** Encode one date's vectors against the frozen grid and append to the
    * id-bucketed code table. The encode join is scan-local (grid
    * broadcast); the expensive work happens here once per row, ever.
    * Refuses while a refit is pending (see [[requireNoPendingRefit]]). */
  def appendDate(emb: DataFrame, table: String, date: String,
      nBuckets: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    // the pending-refit check runs INSIDE the lease (the guard hook) so
    // it cannot race a refit that starts between check and write
    IncrementalStore.appendBucketed(
      SQ.encode(emb, spark.table(s"${table}_grid"), idCol, vecCol),
      s"${table}_codes", date, Seq("id"), nBuckets,
      guard = requireNoPendingRefit(_, table, "append"))
  }

  /** Drop one ingestion date's partition — the re-run/retry guard. */
  def dropDate(spark: SparkSession, table: String, date: String): Unit =
    IncrementalStore.dropDate(spark, Seq(TableLoc(s"${table}_codes")), date)

  /** Asymmetric top-k serve from the accumulated store: [[SQ.search]]'s
    * output contract (qid, rank, cid, cosine) with the reconstruction fed
    * by the persisted codes — queries stay exact, the store never
    * re-encodes. Queries must be a bounded set (broadcast). */
  def search(spark: SparkSession, table: String, queries: DataFrame,
      kNeighbors: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding", upTo: Option[String] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    requireNoPendingRefit(spark, table, "search")
    val grid = spark.table(s"${table}_grid")
    val codes = IncrementalStore.allowFilter(
        IncrementalStore.asOf(
          StoreMaintenance.consistentScan(spark,
            TableLoc(s"${table}_codes")), upTo),
        allowed)
      .select(col("id"), col("dim"), col("code"))
    SQ.search(queries, SQ.reconstruct(codes, grid), kNeighbors, idCol, vecCol)
  }

  /** DELETION PROPAGATION: physically remove the tombstoned ids' code
    * rows in one marker-committed rewrite. Codes are id-keyed disjoint
    * state, so the store afterwards is bit-equal to one that never
    * ingested those vectors; the frozen grid is a model ARTIFACT, not
    * per-doc state — deletion removes the vectors' rows, [[refitGrid]]
    * is the (separate) lever if their influence on the grid itself must
    * go. Refuses while a refit is pending, like every other mutation. */
  def deleteIds(spark: SparkSession, table: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit =
    IncrementalStore.propagateDeletes(spark, gen, Seq(
        IncrementalStore.keyTarget(TableLoc(s"${table}_codes"), "id",
          tombstones, large)),
      guard = requireNoPendingRefit(_, table, "delete"))

  /** Refit the grid on `fitDf` and MIGRATE the code store — the "act" to
    * drift detection, the [[IncrementalVectors.refitQuantizer]] shape for
    * the scalar family. Codes are NOT invertible to exact vectors, so
    * unlike the IVF migration (vectors inline) the re-encode needs the
    * source embeddings: old codes are first reconstructed under the OLD
    * grid (the best information the store holds — production fleets that
    * dropped the float32 corpus do exactly this), then re-encoded under
    * the new grid in one marker-committed rewrite. Callers that still
    * hold the original corpus should instead re-init a fresh store —
    * reconstruct-re-encode compounds quantization error once, which is
    * the documented trade for never re-reading the corpus.
    *
    * CRASH SAFETY: the old grid is snapshotted DURABLY to `t_grid_prev`
    * (stamped with `gen`) before the new grid is published, and dropped
    * only after the rewrite's marker commits — at every crash point the
    * store either still serves consistently (grid+codes both old) or a
    * re-run reconstructs the codes against the true old grid from the
    * persisted snapshot, never against the freshly-published one. A
    * crashed refit MUST be retried with the SAME `gen` (and the same
    * `fitDf`) until it completes; starting a different gen while a prev
    * snapshot from an unfinished refit exists throws. */
  def refitGrid(spark: SparkSession, table: String, fitDf: DataFrame,
      gen: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val prevT = s"${table}_grid_prev"
    def snapshot(): Unit =
      spark.table(s"${table}_grid").withColumn("gen", lit(gen))
        .write.mode("errorifexists").saveAsTable(prevT)
    if (spark.catalog.tableExists(prevT)) {
      // bounded metadata read: the snapshot's gen stamp (1 value)
      val g = spark.table(prevT).select(col("gen")).limit(1)
        .collect().headOption.map(_.getString(0))
      g match {
        case Some(prev) =>
          require(prev == gen,
            s"interrupted refit '$prev' on $table must be re-run " +
              s"to completion (same gen) before starting '$gen'")
        case None =>
          // a ZERO-ROW snapshot: the snapshot write crashed after
          // registering the table but before any rows landed — the grid
          // publish is sequenced AFTER the snapshot, so the live grid is
          // still the old one; drop the partial and re-snapshot (the
          // round-13 require() would otherwise reject every gen,
          // including the one its own message says to retry with)
          spark.sql(s"DROP TABLE IF EXISTS $prevT")
          snapshot()
      }
    } else snapshot()
    // publish the new grid (idempotent on retry: same fitDf ⇒ same grid)
    SQ.stats(fitDf, idCol, vecCol)
      .write.mode("overwrite").saveAsTable(s"${table}_grid")
    val oldGrid = spark.table(prevT).drop("gen")
    val newGrid = spark.table(s"${table}_grid")
    try StoreMaintenance.rewrite(spark, TableLoc(s"${table}_codes"), gen,
      transform = df => {
        val xh = SQ.reconstruct(df.select(col("id"), col("dim"),
          col("code")), oldGrid)
        xh.join(broadcast(newGrid), Seq("dim"))
          .select(col("id"), col("dim"),
            when(col("span") === 0d, lit(0))
              .otherwise(greatest(lit(0), least(lit(255),
                floor((col("xh") - col("mn")) / col("span") * lit(255d)
                  + lit(0.5d)).cast("int"))))
              .cast("int").as("code"))
      })
    catch {
      // an abort BEFORE the fold's first effect (no pending sentinel AND
      // no r_<gen> partition — e.g. lease contention with a live append)
      // left the codes untouched: RESTORE the old grid from its snapshot
      // and unstage, so the contention loser doesn't wedge the store
      // behind a mandatory same-gen resume. The partition check matters:
      // a throw AFTER the fold completed (sentinel cleared, e.g. a
      // lease-release IO error) must keep the NEW grid — the codes are
      // already migrated to it, and a restore would corrupt every decode.
      // A restore crash re-enters the normal pending path (grid_prev
      // still present ⇒ same-gen resume). Any mid-fold failure keeps the
      // snapshot — resume is mandatory.
      case e: Throwable =>
        if (StoreMaintenance.rewriteNeverStarted(spark,
            TableLoc(s"${table}_codes"),
            gen)) {
          spark.table(prevT).drop("gen")
            .write.mode("overwrite").saveAsTable(s"${table}_grid")
          spark.sql(s"DROP TABLE IF EXISTS $prevT")
        }
        throw e
    }
    // rewrite committed (marker landed): the old-grid snapshot is garbage
    spark.sql(s"DROP TABLE IF EXISTS $prevT")
  }
}
