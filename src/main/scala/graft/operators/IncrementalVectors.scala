package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained VECTOR index — the
  * [[IncrementalDedup]] / [[IncrementalPostings]] bucketed-store contract
  * applied to ANN serving (the last index family that was still rebuilt
  * from scratch inside every query): each ingestion date encodes ITS OWN
  * embeddings once against models frozen at store init, and appends the
  * encodings to two bucketed tables laid out for their query patterns. A
  * production RAG stack works exactly this way — FAISS-style IVF/PQ
  * indexes train a quantizer once, then encode and append each ingestion
  * batch, and queries read the accumulated index with no re-encoding.
  *
  * Store layout per base name `t`:
  *  - `t_cb` — PQ codebook (cid, m-implicit dim, c): the 16 hash-least
  *    vectors of the INITIAL corpus slice ([[PQ.codebook]]'s content-
  *    addressed seeding, frozen at init — the model is data, so it lives
  *    in the store, not in driver state);
  *  - `t_ctr` — IVF coarse-quantizer centroids (cid, dim, c): the repo's
  *    deterministic k-means ([[KMeans.fitCentroidsManaged]], hash-least
  *    init + fixed Lloyd rounds) fitted on the initial slice — the same
  *    closed-form training [[Similarity.knnIvfDeterministic]] replays in
  *    SQL;
  *  - `t_codes` — PQ codes (id, m, code) partitioned by ingestion date,
  *    BUCKETED ON `id`: the ADC aggregate groups by (qid, id), so an
  *    id-clustered scan satisfies its distribution and the M·N code rows
  *    never cross the wire ([[adcSearch]] plans with no exchange at or
  *    below the code scan — pinned in IncrementalVectorsSpec);
  *  - `t_cells` — IVF postings (cell, id, e, n) partitioned by date,
  *    BUCKETED ON `cell` with the vector and its norm inline (the
  *    inverted-list layout): a query probes nProbe cells, and the
  *    driver-side probed-cell set (bounded: |queries|·nProbe ints — the
  *    k-means-centroid metadata precedent) becomes an `IN` filter that
  *    PRUNES BUCKETS, so the scan reads ≈ nProbe/nCells of the store.
  *
  * Encoding is a per-row pure function of (vector, frozen model), so the
  * accumulated store over any date split is bit-equal to a one-shot batch
  * encode — incremental == from-scratch for free (spec-pinned), and the
  * oracle (q133) replays init, encode, and both searches end to end.
  *
  * Idempotence follows [[IncrementalPostings.appendCountsBucketed]]:
  * append-only by design; a re-run of a failed date drops that date's
  * partition first. `nBuckets` is fixed for the table's life — size it
  * as |store at horizon| · rowBytes / targetPartitionBytes. */
object IncrementalVectors {

  /** Train both models on the initial corpus slice and persist them as
    * the store's model tables (overwrite = re-init is a new store). The
    * slice must have ≥ k vectors; training is [[PQ.codebook]]'s seeding
    * plus a bounded k-means fit whose dims cache is released before
    * return. */
  def initModel(initial: DataFrame, table: String, k: Int = 16,
      nCells: Int = 16, iterations: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    PQ.codebook(initial, k, idCol, vecCol)
      .write.mode("overwrite").saveAsTable(s"${table}_cb")
    val (_, centroids, release) =
      KMeans.fitCentroidsManaged(initial, nCells, iterations, idCol, vecCol)
    centroids.write.mode("overwrite").saveAsTable(s"${table}_ctr")
    release() // the write above was the last action over the fit's plans
  }

  /** Encode one date's vectors against the frozen models and append:
    * PQ codes to the id-bucketed code table, (cell, vector, norm) rows
    * to the cell-bucketed postings table. The expensive work (M·K
    * subspace distances + k-cell assignment per vector) happens here
    * once per row, ever — queries never re-encode. */
  /** Refuse appends while an interrupted [[refitQuantizer]] is pending
    * (`t_ctr_next` exists). A mid-refit append is not bit-corrupted the
    * way the [[IncrementalSQ]] one is (vectors live inline, so the
    * resumed rewrite reassigns them correctly under the new centroids) —
    * but it breaks the serve-side consistency rule [[liveCentroids]]
    * relies on: after the cell rewrite commits, a fresh date partition
    * would make the store look "not yet rewritten" again, flipping serves
    * back to the OLD centroids over NEW assignments. Fail closed; resume
    * the refit (same gen) to completion, then append. */
  private def requireNoPendingRefit(spark: SparkSession, table: String):
      Unit =
    if (spark.catalog.tableExists(s"${table}_ctr_next"))
      throw new IllegalStateException(
        s"append rejected: an interrupted quantizer refit is pending on " +
          s"$table (${table}_ctr_next exists) — re-run refitQuantizer with " +
          "the same gen to completion first")

  def appendDate(emb: DataFrame, table: String, date: String, m: Int = 8,
      nBuckets: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    // each write holds its own append lease (the family rule — an append
    // racing a fold's partition drops would lose rows silently); the
    // pending-refit check runs inside each lease via the guard hook.
    // NOT atomic across the two tables (and since round 20 the writes
    // OVERLAP on the FamilyPar pool — they target disjoint tables with
    // their own leases, and the only thing sequencing bought was one
    // serialized commit latency per date): a failure mid-append leaves
    // the date HALF-appended — either table may hold it (codes-only
    // under the old sequencing). Recovery is unchanged and covers both
    // orders: [[dropDate]] drops the date from BOTH tables, half-written
    // ones included, then the append retries whole.
    //
    // cell assignment is a PER-ROW function of (vector, frozen model): the
    // centroid table is bounded driver metadata (k·D doubles), so the cells
    // append is ONE scan-local projection + the bucketed write — the old
    // plan's assignment aggregates (2 exchanges) and the vectors-⋈-cells
    // self-join (a third exchange, shuffling every vector by id just to
    // re-attach its own cell) are gone; the heavy column never leaves the
    // scan until the write. Null-assignment rows (no contributing dims)
    // are filtered exactly as the old inner join dropped them.
    // Both models collect BEFORE the fan-out (bounded driver metadata;
    // plan-construction must stay single-threaded against the catalog).
    val cb = spark.table(s"${table}_cb")
    val ctrModel = graft.functions.ModelExpressions
      .collectModel(spark.table(s"${table}_ctr"))
    FamilyPar.foreach(Seq(
      () => IncrementalStore.appendBucketed(
        PQ.encode(emb, cb, m, idCol, vecCol),
        s"${table}_codes", date, Seq("id"), nBuckets,
        guard = requireNoPendingRefit(_, table)),
      () => IncrementalStore.appendBucketed(
        emb.select(col(idCol).as("id"), col(vecCol).as("e"),
            Similarity.norm(col(vecCol)).as("n"),
            graft.functions.ModelExpressions
              .cellAssignRows(col(vecCol), ctrModel).as(Seq("cell", "__d2")))
          .select(col("cell"), col("id"), col("e"), col("n")),
        s"${table}_cells", date, Seq("cell"), nBuckets,
        guard = requireNoPendingRefit(_, table))))(_())
  }

  /** AS-OF restriction on a per-date store scan — the date partitioning
    * makes time-travel a partition PRUNE, not a rebuild: "search the
    * index as it stood after date d" is the same plan with the `ds`
    * filter evaluated against the partition catalog (no data read from
    * later dates at all). Consolidated `c_<date>` partitions compare by
    * their effective date (everything in them is ≤ that horizon);
    * `r_<gen>` generation partitions from a [[StoreMaintenance.rewrite]]
    * are excluded by any as-of — a rewrite consumes per-date history by
    * documented design, so time-travel across one is impossible, not
    * silently wrong. */
  private def asOf(store: DataFrame, upTo: Option[String]): DataFrame =
    IncrementalStore.asOf(store, upTo)

  private def allowFilter(store: DataFrame, allowed: Option[DataFrame])
      : DataFrame = IncrementalStore.allowFilter(store, allowed)

  /** Drop one ingestion date's partitions from BOTH store tables — the
    * re-run/retry guard the append-only contract asks the caller to hold
    * ("a re-run of a failed date drops that date's partition first").
    * [[graft.streaming.StreamingVectors]] calls it at the top of every
    * micro-batch so a replayed batch replaces its own `ds=b<id>` rows
    * instead of double-appending them (the storage-layer idempotence the
    * other streaming duals get from dynamic partition overwrite, which
    * `saveAsTable` bucketed appends do not support). Bounded metadata
    * DDL: two ALTER TABLE statements, no data motion. */
  def dropDate(spark: SparkSession, table: String, date: String): Unit =
    IncrementalStore.dropDate(spark,
      Seq(s"${table}_codes", s"${table}_cells").map(TableLoc), date)

  /** DELETION PROPAGATION: physically remove the tombstoned ids' rows
    * from BOTH store tables (PQ codes and IVF postings), one
    * marker-committed rewrite each. Rows are id-keyed disjoint state, so
    * both serves afterwards are bit-equal to a store that never ingested
    * those vectors (oracle-gated as q161); the frozen codebook/centroids
    * are model artifacts — [[refitQuantizer]] is the separate lever if
    * the deleted vectors' influence on the models must go too. Refuses
    * while a refit is pending, like appends. */
  def deleteIds(spark: SparkSession, table: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit =
    IncrementalStore.propagateDeletes(spark, gen, Seq(
        IncrementalStore.keyTarget(TableLoc(s"${table}_codes"), "id",
          tombstones, large),
        IncrementalStore.keyTarget(TableLoc(s"${table}_cells"), "id",
          tombstones, large)),
      guard = requireNoPendingRefit(_, table))

  /** Cell-occupancy audit over a (cell, …) postings frame: one row per
    * cell with its vector count, corpus fraction, and the store-wide
    * max/mean occupancy ratio (`skew` — 1.0 means perfectly balanced
    * lists, k means the hottest list is k× the average and the probed
    * scan fraction claim "≈ nProbe/nCells" degrades toward k·nProbe/
    * nCells for queries landing on it). Run it on `spark.table(t_cells)`
    * before sizing nProbe, and feed its hot cells to [[splitHotCells]].
    * Deterministic: counts are exact longs, the two ratios single
    * double ops rounded to 6 (oracle-replayable, gated as q137). */
  def cellOccupancy(cells: DataFrame): DataFrame = {
    val occ = cells.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val tot = occ.agg(sum(col("n_vectors")).as("total"),
      max(col("n_vectors")).as("mx"), count(lit(1)).as("nc"))
    occ.crossJoin(broadcast(tot))
      .select(col("cell").cast("bigint").as("cell"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("total"), 6).as("frac"),
        round(col("mx").cast("double") * col("nc") / col("total"), 6)
          .as("skew"))
      .orderBy(col("cell"))
  }

  /** [[cellOccupancy]] straight off a store's cell table. After a
    * [[splitHotCells]] pass the audit reports the CHILD cells — i.e. the
    * physical posting lists a probe actually scans — which is exactly
    * where the skew fix should be visible. */
  def cellAudit(spark: SparkSession, table: String): DataFrame =
    cellOccupancy(spark.table(s"${table}_cells"))

  /** Per-date cell-occupancy DRIFT PSI over the store's postings table —
    * the q141 statistic served from the store's own rows instead of a
    * fresh assignment pass: each date's per-cell occupancy distribution
    * (the rows [[appendDate]] landed under the frozen quantizer) against
    * the BASELINE date's, Laplace-smoothed (+1 / +nCells over the union
    * cell grid; nCells from the persisted centroid table — the model's
    * true capacity, not just the occupied cells), per-term round-12,
    * decimal-summed, round-6 (partition-order-proof, the q141
    * arithmetic). Baseline = the earliest plain ingestion date; after a
    * generation rewrite (refit, takedown, hot-cell split) the newest
    * `r_*` label is the natural new baseline — the post-rewrite store IS
    * the distribution new dates should be compared against
    * ([[IncrementalStore.driftBaseline]]). No per-date state at all
    * (uninitialized store, single partition) yields an EMPTY,
    * correctly-shaped report — an audit describes the store, it must
    * never wedge the window it reports on. Output: (ds, n_vectors, psi)
    * for every partition, baseline row identically 0 by construction.
    * Scale shape: one count-only grouped scan of the cell table; all
    * arithmetic past it is (nDates·nCells)-sized. */
  def cellDriftPsi(spark: SparkSession, table: String): DataFrame = {
    val empty = spark.sql("SELECT CAST('' AS STRING) AS ds, " +
      "CAST(0 AS BIGINT) AS n_vectors, CAST(0.0 AS DOUBLE) AS psi").limit(0)
    if (!spark.catalog.tableExists(s"${table}_cells") ||
        !spark.catalog.tableExists(s"${table}_ctr")) return empty
    val parts = TableLoc(s"${table}_cells").partitions(spark)
    val baseline = IncrementalStore.driftBaseline(parts)
    if (baseline.isEmpty || parts.size < 2) return empty
    val nCells = spark.table(s"${table}_ctr")
      .agg(countDistinct(col("cid"))).head().getLong(0)
    // (ds, cell) counts — bounded at nDates·nCells rows; checkpointed so
    // the grid derives its cell set from the SAME materialized aggregate
    val counts = StoreMaintenance.consistentScan(spark,
        TableLoc(s"${table}_cells"))
      .groupBy(col("ds"), col("cell")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val grid = counts.select(col("ds")).distinct()
      .crossJoin(counts.select(col("cell")).distinct())
    val full = grid.join(counts, Seq("ds", "cell"), "left")
      .select(col("ds"), col("cell"), coalesce(col("n"), lit(0L)).as("n"))
    val withP = full
      .join(full.groupBy(col("ds")).agg(sum(col("n")).as("nd")), "ds")
      .select(col("ds"), col("cell"), col("nd"),
        ((col("n") + 1).cast("double") / (col("nd") + nCells)).as("p"))
    val base = withP.filter(col("ds") === baseline.get)
      .select(col("cell"), col("p").as("q"))
    withP.join(base, "cell")
      .withColumn("term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 12))
      .groupBy(col("ds"))
      .agg(max(col("nd")).as("n_vectors"),
        round(sum(col("term").cast("decimal(28,12)")).cast("double"), 6)
          .as("psi"))
      .select(col("ds"), col("n_vectors"), col("psi"))
      .orderBy(col("ds"))
  }

  /** The DRIFT/SKEW POLICY pass — the maintenance-window "act" that
    * closes the detect→act loop from config alone (the q137/q141 audits
    * DETECT, [[refitQuantizer]]/[[splitHotCells]] ACT, and until this
    * nothing decided): run inside a [[MaintainJob]] window (lease-fenced
    * and marker-committed by the acts' own protocols), it applies up to
    * two deliberate maintenance rewrites when their thresholds say so:
    *
    *   1. `psiRefit` — if any date's [[cellDriftPsi]] exceeds the
    *      threshold (the monitoring rule of thumb reads 0.25 as
    *      "retrain"), the coarse quantizer is REFIT on the drifted
    *      corpus — every authoritative row OUTSIDE the baseline
    *      partition, read from the store's own inline vectors (the
    *      source corpus is never re-read) — and the store migrates via
    *      [[refitQuantizer]]. The rewrite generation is
    *      `policy_<window>`: windows are marker-unique, so a crashed
    *      window's re-run resumes the SAME gen to completion
    *      (refitQuantizer's mandatory-resume contract), and the
    *      post-refit store has no per-date view, so the NEXT window's
    *      PSI re-anchors on the `r_*` baseline and cannot re-fire — the
    *      policy converges instead of thrashing.
    *   2. `maxCellRows` — [[splitHotCells]] at the bound, after any
    *      refit (a refit rebalances cells and drops the split map, so
    *      splitting first would be wasted work).
    *
    * Returns the actions applied (for the window summary/log). With both
    * thresholds unset this is a no-op — detection stays an audit, acting
    * stays deliberate. */
  def maintainPolicy(spark: SparkSession, table: String, window: String,
      maxCellRows: Option[Long] = None,
      psiRefit: Option[Double] = None): Seq[String] = {
    val refitted = psiRefit.toSeq.flatMap { bar =>
      val gen = s"policy_$window"
      def baseline: Option[String] = IncrementalStore.driftBaseline(
        if (spark.catalog.tableExists(s"${table}_cells"))
          TableLoc(s"${table}_cells").partitions(spark) else Seq.empty)
      def runRefit(): Unit = {
        val nCells = spark.table(s"${table}_ctr")
          .agg(countDistinct(col("cid"))).head().getLong(0).toInt
        // the drifted corpus = every authoritative row OUTSIDE the
        // baseline partition, from the store's own inline vectors (the
        // fit frame is only consumed when no staged model exists — see
        // the resume note below — and in that state the per-date view
        // is intact, so the baseline is always resolvable)
        val fit = StoreMaintenance
          .consistentScan(spark, TableLoc(s"${table}_cells"))
          .filter(baseline.fold(lit(true))(col("ds") =!= _))
          .select(col("id"), col("e"))
        refitQuantizer(spark, table, fit, gen = gen,
          nCells = nCells, idCol = "id", vecCol = "e")
      }
      // RESUME FIRST, unconditionally: a prior run of THIS window that
      // crashed after its cell rewrite committed leaves the store with
      // no per-date view — the PSI check below would read empty, never
      // re-fire, and the staged t_ctr_next would wedge every append
      // forever. The staged gen stamp identifies our own crashed pass;
      // refitQuantizer's same-gen re-run heals every crash point (and
      // ignores the fit frame once a non-empty staging table exists).
      val nextT = s"${table}_ctr_next"
      val pendingGen = if (spark.catalog.tableExists(nextT))
        spark.table(nextT).select(col("gen")).limit(1)
          .collect().headOption.map(_.getString(0)) else None
      if (pendingGen.contains(gen)) {
        runRefit()
        Seq(s"refit(resumed,gen=$gen)")
      } else {
        val psi = cellDriftPsi(spark, table).collect()
        val worst = psi.filterNot(r => baseline.contains(r.getString(0)))
          .map(_.getDouble(2)).maxOption
        if (worst.exists(_ > bar) && baseline.isDefined) {
          runRefit()
          Seq(f"refit(psi=${worst.get}%.6f>$bar,gen=$gen)")
        } else Nil
      }
    }
    val split = maxCellRows.toSeq.flatMap { bound =>
      val s = splitHotCells(spark, table, bound)
      if (s.isEmpty) Nil else Seq(s"split(${s.size} hot cells>$bound)")
    }
    refitted ++ split
  }

  /** STORAGE-level re-split of oversized IVF cells — the skew
    * maintenance pass for stores whose embedding distribution
    * concentrates mass in few cells (real corpora do; the fixed
    * [[initModel]] quantizer never rebalances itself). Every cell
    * holding more than `maxCellRows` vectors is partitioned by a k=2
    * k-means fitted WITHIN the cell (the q98 machinery on the cell's own
    * rows), its rows rewritten under two fresh child cell ids, and the
    * child→parent mapping appended to `t_map`.
    *
    * The quantizer itself stays FROZEN: `t_ctr` is untouched, probe
    * ranking still happens against the original centroids, and
    * [[ivfSearch]] expands probed parents to their children through the
    * map — so the candidate set, and therefore the search output, is
    * BIT-EQUAL before/after (pinned in IncrementalVectorsSpec). What
    * changes is physical: the hot posting list becomes two bounded lists
    * under distinct bucket keys, restoring write/scan parallelism and
    * per-task memory bounds the same way AQE splits a skewed shuffle
    * partition. New [[appendDate]] rows still land under the PARENT id
    * (the frozen quantizer assigns them); re-run the pass when growth
    * re-crosses the bound — splits nest (children of children keep
    * mapping to the original quantizer cell).
    *
    * Mechanics: the rewrite is [[StoreMaintenance.rewrite]] — the
    * compaction pass's marker-committed fold with the cell remap as its
    * transform (a split must touch every hot row anyway, so it compacts
    * the store's date partitions while at it; per-date re-run history is
    * consumed, the documented compaction trade). The map rows land
    * BEFORE the rewrite — a mapping whose children don't exist yet is a
    * harmless superset probe filter, while split rows without a mapping
    * would silently vanish from searches. Driver-side state is BOUNDED
    * metadata, like the probed-cell collect: the hot-cell list is
    * ≤ nCells ints and the collected child→parent map holds two ints per
    * split ever applied (each split requires a cell past `maxCellRows`,
    * so the map is ≤ |store|/maxCellRows entries — never data-sized).
    * Returns the (hotCell → (childA, childB)) splits applied. */
  def splitHotCells(spark: SparkSession, table: String,
      maxCellRows: Long): Seq[(Int, (Int, Int))] = {
    val cellsT = s"${table}_cells"
    val cells = spark.table(cellsT)
    // bounded metadata: ≤ |cells| ints (nCells + prior children)
    val hot = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellRows)
      .select(col("cell")).collect().map(_.getInt(0)).sorted.toSeq
    if (hot.isEmpty) return Nil
    val mapT = s"${table}_map"
    val parentOf: Map[Int, Int] =
      if (spark.catalog.tableExists(mapT))
        spark.table(mapT).collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
      else Map.empty
    val maxId = math.max(
      cells.agg(max(col("cell"))).head().getInt(0),
      if (parentOf.isEmpty) Int.MinValue else parentOf.keys.max)
    var next = maxId + 1
    val splits = hot.map { h => val s = (h, (next, next + 1)); next += 2; s }
    // one k=2 fit per hot cell, on the cell's own rows; the remap plans
    // stay lazy (one pass rewrites everything below) and the fits' dims
    // caches are released after the staged write — the last action over
    // their lineage
    val fits = splits.map { case (h, (a, _)) =>
      val (assigned, _, release) = KMeans.fitCentroidsManaged(
        cells.filter(col("cell") === h), k = 2, iterations = 2,
        idCol = "id", vecCol = "e")
      (assigned.select(col("id"), (lit(a) + col("cid")).as("new_cell")),
        release)
    }
    import spark.implicits._
    splits.flatMap { case (h, (a, b)) =>
      Seq(a -> parentOf.getOrElse(h, h), b -> parentOf.getOrElse(h, h))
    }.toDF("cell", "parent")
      .write.mode("append").saveAsTable(mapT) // before the rewrite (see above)
    val remap = fits.map(_._1).reduce(_ unionAll _)
    StoreMaintenance.rewrite(spark, TableLoc(cellsT), gen = s"$maxId",
      transform = _.join(remap, Seq("id"), "left")
        .select(coalesce(col("new_cell"), col("cell")).as("cell"),
          col("id"), col("e"), col("n")))
    fits.foreach(_._2())
    splits
  }

  /** Refit the IVF coarse quantizer on `fitDf` and MIGRATE the cell
    * store to it — the "act" to the q141 drift audit's "detect": when
    * the per-date occupancy PSI crosses the retrain bar, the
    * frozen-at-init quantizer no longer reflects the corpus and the
    * ≈ nProbe/nCells probe economics decay. This retrains centroids
    * (the same deterministic fit [[initModel]] ran), overwrites the
    * model table, FORGETS any [[splitHotCells]] parent→child map (its
    * parents are the old quantizer's cells), and rewrites every posting
    * under its new cell id via [[StoreMaintenance.rewrite]]. The
    * vectors live inline in the cell rows, so migration is one
    * distributed read + one bucketed write of the store — the source
    * corpus is never re-read. The PQ codebook (and with it
    * [[adcSearch]]) is untouched: code distances do not depend on the
    * coarse partitioning; refit it separately if PQ-space drift is the
    * concern. After the pass [[ivfSearch]] serves the new quantizer's
    * closed-form ranking, gated (q142) against the full from-scratch
    * deterministic-IVF replay with the new fit slice. `gen` labels the
    * rewrite generation — fresh per pass, per [[StoreMaintenance
    * .rewrite]]'s contract.
    *
    * CRASH SAFETY (round 14): the new centroids are STAGED to a durable
    * gen-stamped `t_ctr_next` table; the live model table `t_ctr` is
    * overwritten only AFTER the cell rewrite's marker commits — the
    * [[IncrementalSQ.refitGrid]] snapshot discipline with the roles
    * flipped (here the OLD model must stay live, because the cells it
    * describes stay live until the rewrite lands). At every crash point
    * the store serves consistently: before the rewrite commits,
    * `t_ctr` + the untouched cells are both old (a crash-window
    * [[ivfSearch]] serves the PRE-refit ranking bit-equal); after it
    * commits, [[liveCentroids]] resolves the staged table against the
    * fully-rewritten store. A crashed refit MUST be retried with the
    * SAME `gen` (and the same `fitDf`) until it completes; a different
    * gen while a staged fit is pending throws. Appends are refused for
    * the pending window ([[requireNoPendingRefit]]). */
  def refitQuantizer(spark: SparkSession, table: String, fitDf: DataFrame,
      gen: String, nCells: Int = 16, iterations: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val nextT = s"${table}_ctr_next"
    def stage(): Unit = {
      val (_, centroids, release) =
        KMeans.fitCentroidsManaged(fitDf, nCells, iterations, idCol, vecCol)
      centroids.withColumn("gen", lit(gen))
        .write.mode("errorifexists").saveAsTable(nextT)
      release() // the write above was the last action over the fit's plans
    }
    if (spark.catalog.tableExists(nextT)) {
      // bounded metadata read: the staged fit's gen stamp (1 value)
      val g = spark.table(nextT).select(col("gen")).limit(1)
        .collect().headOption.map(_.getString(0))
      g match {
        case Some(prev) =>
          require(prev == gen,
            s"interrupted refit '$prev' on $table must be re-run " +
              s"to completion (same gen) before starting '$gen'")
        // a ZERO-ROW staging table: the fit write crashed before any rows
        // landed, so the rewrite (sequenced after) never started — drop
        // the partial and re-stage
        case None => spark.sql(s"DROP TABLE IF EXISTS $nextT"); stage()
      }
    } else stage()
    // the staged centroids are a bounded frozen model: the migration
    // rewrite is ONE distributed read + per-row reassignment + bucketed
    // write — the old transform's assignment aggregates and the re-⋈-df
    // self-join (which reshuffled every inline vector by id) are gone
    val nextModel = graft.functions.ModelExpressions
      .collectModel(spark.table(nextT).drop("gen"))
    try StoreMaintenance.rewrite(spark, TableLoc(s"${table}_cells"), gen,
      transform = df => df
        .select(col("id"), col("e"), col("n"),
          graft.functions.ModelExpressions
            .cellAssignRows(col("e"), nextModel).as(Seq("cell", "__d2")))
        .select(col("cell"), col("id"), col("e"), col("n")))
    catch {
      // an abort BEFORE the fold's first effect (no pending sentinel AND
      // no r_<gen> partition — e.g. lease contention with a live append)
      // leaves no rewrite state: UNSTAGE so the contention loser doesn't
      // wedge every append/serve behind a mandatory same-gen resume. A
      // throw AFTER the fold completed (sentinel cleared) keeps the
      // staging table — the cells already carry new-quantizer ids, and
      // the same-gen re-run finishes the model swap. Any mid-fold
      // failure keeps it too — same-gen resume is the documented
      // recovery.
      case e: Throwable =>
        if (StoreMaintenance.rewriteNeverStarted(spark,
            TableLoc(s"${table}_cells"), gen))
          spark.sql(s"DROP TABLE IF EXISTS $nextT")
        throw e
    }
    // rewrite committed (marker landed): every posting row now carries a
    // new-quantizer cell id. The [[splitHotCells]] parent→child map is
    // dropped only NOW — its parents are old-quantizer cells, and keeping
    // it live through the pending window is what lets a stage-crash serve
    // the pre-refit ranking bit-equal on a previously-split store (after
    // the rewrite its entries point at cells with no rows — a harmless
    // superset probe filter until this drop lands)
    spark.sql(s"DROP TABLE IF EXISTS ${table}_map")
    // publish the staged centroids as the live model, then drop the
    // staging table — idempotent on a resume that crashed mid-swap
    spark.table(nextT).drop("gen")
      .write.mode("overwrite").saveAsTable(s"${table}_ctr")
    spark.sql(s"DROP TABLE IF EXISTS $nextT")
  }

  /** ADC top-k over the accumulated code store — [[PQ.adcTopK]]'s output
    * contract served WITHOUT re-encoding: the query side computes its
    * exact per-subspace distance table against the persisted codebook
    * (broadcast, |Q|·M·K rows), and the code scan aggregates straight to
    * (qid, id) sums — the id-bucketed layout satisfies the aggregate's
    * distribution, so the store never reshuffles (the only exchanges in
    * the plan are on query-bounded frames).
    *
    * `allowed` is FILTERED vector search (the metadata-restricted serve
    * every production vector index offers): its FIRST column is read as
    * an id allow-list and semi-joined against the code rows BEFORE
    * scoring, so the top-k is exact over the filtered corpus — never a
    * post-filtered (and thus possibly short) unfiltered top-k. The
    * predicate itself evaluates at the metadata table's scan (pushed
    * down there, not here); a selective allow-list broadcasts and the
    * exchange-free store aggregate is preserved. For very broad filters
    * at cluster scale, bucket the metadata table by id to the store's
    * spec so the semi-join co-locates without reshuffling either side. */
  def adcSearch(spark: SparkSession, table: String, queries: DataFrame,
      topK: Int = 3, m: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", upTo: Option[String] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val cb = spark.table(s"${table}_cb")
    val dim = PQ.vecDim(queries, vecCol)
    val qd = PQ.subDistances(queries, cb, dim / m, idCol, vecCol)
      .select(col("id").as("qid"), col("m"), col("cid"), col("d2"))
    val codes = allowFilter(asOf(
      StoreMaintenance.consistentScan(spark, TableLoc(s"${table}_codes")),
      upTo), allowed)
    val adist = codes.join(broadcast(qd),
        qd("m") === codes("m") && qd("cid") === codes("code") &&
          qd("qid") =!= codes("id"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("d2")).as("ad")) // DECIMAL sum of M exact terms
    val w = Window.partitionBy(col("qid")).orderBy(col("ad"), col("id"))
    adist.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("id").as("cid"), round(col("ad").cast("double"), 6).as("adist"))
  }

  /** IVF top-k over the accumulated postings store —
    * [[Similarity.knnIvfDeterministic]]'s ranking served from persisted
    * cell assignments: queries rank cells by exact squared L2 to the
    * persisted centroids (the quantizer's own metric), the probed-cell
    * set (bounded driver metadata) prunes the cell-bucketed scan to
    * ≈ nProbe/nCells of the store, and exact cosine ranks within probed
    * cells. No assignment pass, no quantizer fit — the store already
    * paid both, once per row.
    *
    * CALLER CONTRACT — building the returned DataFrame is NOT free: this
    * method runs two eager Spark actions during plan construction (the
    * probe ranking feeding a `collect()` of the probed-cell ids —
    * bounded at |queries|·nProbe ints, metadata not data). The collect is
    * what makes the serve plan cheap, not an implementation shortcut: the
    * probed cells must be LITERALS (`IN (...)`) for the cell-bucketed
    * scan to prune buckets at the source; a join against the probe frame
    * could co-locate the match but would still read every bucket. Call it
    * per query batch, not per row, and treat it like an action, not a
    * plan constructor (the [[Similarity.knnIvfDeterministic]] guard's
    * contract). */
  /** The centroids consistent with the CURRENT state of the cell store.
    * Normally the live model table `t_ctr`; while a [[refitQuantizer]] is
    * pending (`t_ctr_next` exists), the staged centroids are
    * authoritative IFF the cell rewrite already COMMITTED — its `r_<gen>`
    * marker is down, or every partition is already folded into the label
    * (the marker-cleared, swap-not-yet-landed tail) — because from the
    * marker onward the AUTHORITATIVE postings carry new-quantizer cell
    * ids while `t_ctr` still holds the old model until the swap lands.
    * The serve scan itself resolves the same commit point
    * ([[StoreMaintenance.consistentScan]] — in the marker-to-drops window
    * it reads ONLY the label partition, never the pending-delete olds),
    * so probing the store with the model its authoritative rows were
    * assigned under makes a crash ANYWHERE in the refit serve a
    * CONSISTENT ranking (pre-refit before the marker, post-refit after),
    * never a mixed one. Bounded metadata reads (gen stamp, marker probe,
    * partition list), only paid while a refit is pending. */
  private def liveCentroids(spark: SparkSession, table: String): DataFrame = {
    val nextT = s"${table}_ctr_next"
    if (!spark.catalog.tableExists(nextT)) spark.table(s"${table}_ctr")
    else {
      val g = spark.table(nextT).select(col("gen")).limit(1)
        .collect().headOption.map(_.getString(0))
      g match {
        case Some(gen) =>
          val root = new org.apache.hadoop.fs.Path(
            spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_cells"))
              .location)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val parts = TableLoc(s"${table}_cells").partitions(spark)
          val committed =
            StoreMaintenance.foldCommitted(fs, root, s"r_$gen") ||
              (parts.nonEmpty && parts.forall(_ == s"r_$gen"))
          if (committed) spark.table(nextT).drop("gen")
          else spark.table(s"${table}_ctr")
        case _ => spark.table(s"${table}_ctr")
      }
    }
  }

  /** The probe stage shared by [[ivfSearch]] and
    * [[ivfSearchReconstructed]]: each query's `nProbe` nearest live
    * centroids (exact decimal d2, ties by cell), expanded through the
    * hot-cell split map when present, plus the driver-side probed-cell
    * literal list that lets the bucketed cell scan prune at the source.
    * Bounded: |queries|·nProbe (× children) rows, collect of ints. */
  private def probeStage(spark: SparkSession, table: String,
      queries: DataFrame, nProbe: Int, idCol: String, vecCol: String)
      : (DataFrame, Seq[Int]) = {
    val centroids = liveCentroids(spark, table)
    val probeW = Window.partitionBy(col("id")).orderBy(col("d2"), col("cid"))
    val parentProbes = KMeans.cellDistances(
        KMeans.dimRows(queries, idCol, vecCol), centroids)
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nProbe)
      .select(col("id").as("qid"), col("cid").as("cell"))
    // a [[splitHotCells]] pass leaves probed parents' rows under child
    // cell ids: expand each probed parent to its children through the
    // (bounded) map — same candidate VECTORS, more posting lists
    val probes =
      if (spark.catalog.tableExists(s"${table}_map")) {
        val m = spark.table(s"${table}_map")
        parentProbes.unionAll(
          parentProbes.as("p").join(m.as("m"),
              col("p.cell") === col("m.parent"))
            .select(col("p.qid").as("qid"), col("m.cell").as("cell")))
      } else parentProbes
    // bounded driver collect (|queries|·nProbe ints): the literal IN list
    // is what lets the bucketed scan PRUNE — a join could co-locate but
    // never skip unprobed buckets at the source
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    (probes, probedCells)
  }

  def ivfSearch(spark: SparkSession, table: String, queries: DataFrame,
      kNeighbors: Int = 3, nProbe: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding", upTo: Option[String] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val (probes, probedCells) =
      probeStage(spark, table, queries, nProbe, idCol, vecCol)
    // filtered serve ([[IncrementalStore.allowFilter]]): the allow-list
    // restricts the CANDIDATES after the bucket prune but before any dot
    // product is paid — probe economics and the filter compose
    val store = allowFilter(asOf(
        StoreMaintenance.consistentScan(spark,
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

  /** [[ivfSearch]] with candidate scoring over RECONSTRUCTED vectors —
    * the nomination stage a COMPRESSED serving fleet actually runs
    * (PLAID, Santhanam et al. CIKM'22): the float token vectors never
    * need to be resident, so the serve reads the cell store for its
    * MEMBERSHIP only (columns `cell`, `id` — column pruning keeps the
    * inline float `e`/`n` columns out of the scan, spec-asserted) and
    * scores each candidate from `recon`, the SQ8 reconstruction row form
    * `(id, dim, xh)` ([[SQ.reconstruct]] over the persisted uint8 code
    * store — 4× smaller resident state than the float cells). Queries
    * stay exact ([[IncrementalSQ.search]]'s asymmetric convention):
    * probe ranking is [[ivfSearch]]'s exact decimal centroid d2; the
    * candidate cosine is the round-12 DECIMAL dot of exact query
    * components × reconstructed components over the reconstructed
    * candidate norm, rounded to 6, ties by id — fully SQL-replayable.
    *
    * Scale shape: the probe stage is [[ivfSearch]]'s (bounded probes,
    * bucket-pruned membership scan); the candidate (qid, id) set is
    * |Q|·(probed membership)-bounded and broadcast; `recon` is semi-
    * joined down to candidate ids BEFORE any arithmetic, so the dot
    * aggregate is candidate-bounded, never store-sized.
    *
    * PRECONDITION (enforced, not assumed): `recon` must cover every id
    * the probed cells can nominate — the cells/codes same-coverage
    * contract. A code store lagging the cell store (a date appended but
    * not yet encoded) fails LOUD with the missing id in the error,
    * never a silent recall loss. */
  def ivfSearchReconstructed(spark: SparkSession, table: String,
      queries: DataFrame, recon: DataFrame, kNeighbors: Int = 3,
      nProbe: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding", upTo: Option[String] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val (probes, probedCells) =
      probeStage(spark, table, queries, nProbe, idCol, vecCol)
    // MEMBERSHIP only: cell + id — never the inline float vector/norm
    val members = allowFilter(asOf(
        StoreMaintenance.consistentScan(spark,
          TableLoc(s"${table}_cells")), upTo)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
      .select(col("cell"), col("id")), allowed)
    val cand = broadcast(probes).join(members,
        probes("cell") === members("cell") && col("qid") =!= col("id"))
      .select(col("qid"), col("id"))
    // candidate-gathered reconstructions: semi-join before arithmetic
    val rcand = recon.join(broadcast(cand.select(col("id")).distinct()),
      Seq("id"))
    val cn = rcand.groupBy(col("id"))
      .agg(sqrt(sum(round(col("xh") * col("xh"), 12).cast("decimal(28,12)"))
        .cast("double")).as("cn"))
    val q = queries.select(col(idCol).as("qid"),
        Similarity.norm(col(vecCol)).as("qn"),
        posexplode(col(vecCol)).as(Seq("dim", "qx")))
      .select(col("qid"), col("qn"), col("dim"),
        col("qx").cast("double").as("qx"))
    val dots = rcand.join(broadcast(cand), Seq("id"))
      .join(broadcast(q), Seq("qid", "dim"))
      .groupBy(col("qid"), col("qn"), col("id"))
      .agg(sum(round(col("qx") * col("xh"), 12).cast("decimal(28,12)"))
        .cast("double").as("dot"))
    // CELLS/CODES SAME-COVERAGE, enforced: a probed cell-store member
    // with no row in `recon` (a date appended to the cell store but not
    // yet encoded) would fall out of the inner joins above SILENTLY —
    // where the float path would have scored it, a recall hole. The
    // assembly therefore starts from the full nominated candidate set and
    // LEFT-joins the reconstruction-derived sides; a missing
    // reconstruction poisons the cosine with raise_error instead of
    // disappearing. Costs one extra candidate-bounded broadcast join,
    // nothing store-sized.
    val scored = cand.join(broadcast(dots), Seq("qid", "id"), "left")
      .join(broadcast(cn), Seq("id"), "left")
      .withColumn("cosine",
        when(col("cn").isNull || col("dot").isNull,
          raise_error(concat(lit("nominated candidate id "),
            col("id").cast("string"),
            lit(" has no SQ reconstruction — the code store lags the " +
              "cell store (cells/codes same-coverage contract): encode " +
              "the missing date(s), or serve the float path (ivfSearch)")))
            .cast("double"))
        .otherwise(round(col("dot") / (col("qn") * col("cn")), 6)))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("qid"), col("rank").cast("bigint").as("rank"),
        col("id").as("cid"), col("cosine"))
  }
}
