package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental SEMANTIC (embedding) near-dup store — the
  * [[IncrementalDedup]] shape for the hyperplane-banded family: each
  * ingestion date computes sign-bit band hashes for ITS OWN embeddings
  * once ([[Similarity.hyperplaneBandHashes]] — literally the batch q93
  * construction, so candidate recall can never diverge from it), appends
  * them to a persistent store, and band-joins the new rows against the
  * accumulated store. Old vectors are never re-hashed; the daily join is
  * exchange-free on both sides (bucket-aligned). Where the MinHash store
  * can only SCORE candidates from signatures, this family verifies with
  * EXACT cosine — the vectors ride in a second id-bucketed table, so
  * verification reads the store, never the source corpus.
  *
  * Store layout per base name `t`:
  *  - `t_cfg` — the FROZEN banding model (nPlanes, r, dim, levels): band
  *    hashes must be comparable across dates, so the width law AND the
  *    two-level engagement law are applied ONCE at init against the
  *    HORIZON corpus size (the frozen-quantizer rule; the batch path's
  *    plan-time self-sizing would silently change r — or engage the
  *    second level — as the store grows and orphan every earlier date's
  *    hashes);
  *  - `t_bands` — per date, BUCKETED ON the full band key: single-level
  *    (band, bh, id) bucketed on (band, bh); TWO-LEVEL (levels = 2) the
  *    b² composite rows (band1, bh1, band2, bh2, id) bucketed on all
  *    four key columns — either way the new-day × store candidate join
  *    reads both sides bucket-aligned with zero exchanges (the
  *    [[IncrementalDedup.newPairsBucketed]] property);
  *  - `t_vecs` — (id, e, n) per date, BUCKETED ON id: exact-cosine
  *    verification gathers both endpoints of the (banded, sub-quadratic)
  *    candidate stream from here; the vector table itself never
  *    reshuffles — only candidate-mass-sized key streams move.
  *  - `t_occ` — (level, band, bh, n) per date: the MODEL-SIZED occupancy
  *    summary persisted at hash time (occupancy is known exactly when
  *    the band rows are computed), so the drift audit
  *    ([[bandDriftPsi]]) reads dates × levels × combos rows and never
  *    opens the corpus-sized band store.
  *
  * TWO-LEVEL FREEZE (the round-15 gap, closed): a store exists precisely
  * for 100 TB horizons, and at `horizonRows ≥ 2^21` single-level banding
  * with r clamped at 16 re-enters the quadratic candidate regime the
  * batch path escapes through [[Similarity.twoLevelEngaged]] — so
  * [[initModel]] applies the SAME engagement law to the horizon size and
  * freezes `levels` alongside `r`. Explicitly forcing single-level at or
  * above the threshold is REFUSED (not warned): the frozen config cannot
  * re-decide later, and a silent single-level store at that horizon is a
  * capacity bug, not a preference. The two-level store's daily join is
  * one equi-join on the b² composite keys — candidate mass
  * b²·N²/2^(2r+1), the [[Similarity.bandedCandidatePairs]] analysis
  * verbatim — and stays bucket-aligned/exchange-free because both sides
  * carry the same four-column bucket spec.
  *
  * Band hashes are a pure per-row function of (vector, frozen config),
  * so the union of per-date [[newPairs]] outputs equals the one-shot
  * batch [[Similarity.cosineNearDupBanded]] pairs over the union corpus
  * with the same width and levels (spec-pinned; oracle-gated as q178 —
  * and with forced engagement as q179 — against the EXACT all-pairs
  * SQL: a green hash is recall = 1.0 for the incremental path). Deletion
  * propagates through the shared contract ([[deleteIds]]); a re-run date
  * drops its partitions first ([[dropDate]]). `nBuckets` is fixed for
  * the table's life. */
object IncrementalSemantic {

  /** Freeze the banding model: r from the width law and `levels` from
    * the two-level engagement law, BOTH at the HORIZON corpus size (pass
    * the size the store is expected to reach — at 100 TB that is a
    * capacity-planning number, not a measurement); dim probed from the
    * initial slice. `twoLevel` follows [[Similarity.twoLevelEngaged]]'s
    * override semantics, except that forcing single-level at a horizon
    * at/above [[Similarity.TwoLevelMinRows]] is refused — the frozen
    * config would lock the store into the quadratic candidate regime it
    * exists to escape. Overwrite = re-init is a new store. */
  def initModel(initial: DataFrame, table: String, horizonRows: Long,
      nPlanes: Int = 128, vecCol: String = "embedding",
      twoLevel: Option[Boolean] = None): Unit = {
    val spark = initial.sparkSession
    import spark.implicits._
    val r = Similarity.derivedRowsPerBand(horizonRows, nPlanes)
    val levels =
      if (Similarity.twoLevelEngaged(horizonRows, None, twoLevel)) 2 else 1
    require(levels == 2 || horizonRows < Similarity.TwoLevelMinRows,
      s"single-level refused: horizonRows = $horizonRows is at/above the " +
        s"two-level engagement threshold (${Similarity.TwoLevelMinRows}) — " +
        "a frozen single-level config at that horizon re-enters the " +
        "quadratic candidate regime (mass ~ b*N^2/2^17 at the r=16 clamp); "
        + "drop the twoLevel override or lower the horizon")
    Seq((nPlanes, r, Similarity.vectorDim(initial, vecCol), levels))
      .toDF("nPlanes", "r", "dim", "levels")
      .write.mode("overwrite").saveAsTable(s"${table}_cfg")
  }

  private def cfg(spark: SparkSession, table: String): (Int, Int, Int, Int) = {
    // bounded metadata read: the 1-row frozen banding config
    val row = spark.table(s"${table}_cfg").head()
    (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3))
  }

  /** The frozen band-key columns: the join/bucket key set the store's
    * daily join aligns on — (band, bh) single-level, the four composite
    * columns two-level. */
  private def keyCols(levels: Int): Seq[String] =
    if (levels == 2) Seq("band1", "bh1", "band2", "bh2") else Seq("band", "bh")

  /** One date's band rows under the frozen config — the construction
    * [[Similarity.bandedCandidatePairs]] uses, keyed by the store's
    * frozen levels. The FIXED-DIMENSION contract is enforced here, not
    * assumed: a vector longer than the frozen `dim` would have its
    * projection silently TRUNCATED (the plane literals are dim-wide),
    * making its hashes incomparable with the batch path's — the guard
    * rides inside the id column (never prunable) and raise_errors the
    * append instead. Costs nothing: the same projection already reads
    * the vector. */
  private def bandRows(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, r: Int, dim: Int, levels: Int): DataFrame = {
    val guardedId = when(size(col(vecCol)) > dim,
        raise_error(concat(lit(s"vector dim exceeds the frozen store dim " +
          s"$dim (id "), col(idCol).cast("string"),
          lit(") — the fixed-dimension contract: re-init or migrate the " +
            "store at the larger dim"))).cast("long"))
      .otherwise(col(idCol))
    val e = emb.select(guardedId.as(idCol), col(vecCol))
    def hashArr(l: Int): Column =
      Similarity.hyperplaneBandHashes(col(vecCol), nPlanes, r, l, dim)
    if (levels == 2)
      // b² composite keys per row (two chained generators), exactly the
      // batch engaged branch — a LINEAR row explosion that buys the
      // 2^r/b candidate-mass cut on every later daily join
      e.select(col(idCol).as("id"), hashArr(0).as("h1"), hashArr(1).as("h2"))
        .select(col("id"), posexplode(col("h1")).as(Seq("band1", "bh1")),
          col("h2"))
        .select(col("id"), col("band1"), col("bh1"),
          posexplode(col("h2")).as(Seq("band2", "bh2")))
        .select(col("band1"), col("bh1"), col("band2"), col("bh2"), col("id"))
    else
      e.select(col(idCol).as("id"),
          posexplode(hashArr(0)).as(Seq("band", "bh")))
        .select(col("band"), col("bh"), col("id"))
  }

  /** Per-(level, band, bh) occupancy counts of a set of band rows — the
    * model-sized summary [[appendDate]] persists alongside each date so
    * the drift audit ([[bandDriftPsi]]) is a summary read, never a scan
    * of the corpus-sized band store. Occupancy is known exactly at hash
    * time: every id contributes exactly one row per (level, band), so a
    * single-level store's counts are a plain group-by; a TWO-LEVEL
    * store's composite construction pairs each of an id's b level-0
    * band rows with each of its b level-1 rows, so every (band1, bh1)
    * appears EXACTLY b times per id (once per level-1 band index) and
    * occupancy = count / b — a partially-aggregated (map-side-combined)
    * group-by into a model-sized result, never a row-level de-dup
    * shuffle. Both signatures are kept (level 0 and, when frozen
    * two-level, level 1 — the symmetric count/b): drift can in
    * principle concentrate differently per projection set. */
  private def occFromBandRows(bands: DataFrame, levels: Int,
      nBands: Int): DataFrame =
    if (levels == 2)
      // one scan of the composite rows, both levels' keys exploded out
      // of each row (2 rows in, grouped straight down to model size)
      bands.select(explode(array(
          struct(lit(0).as("level"), col("band1").as("band"),
            col("bh1").as("bh")),
          struct(lit(1).as("level"), col("band2").as("band"),
            col("bh2").as("bh")))).as("k"))
        .groupBy(col("k.level").as("level"), col("k.band").as("band"),
          col("k.bh").as("bh"))
        .agg((count(lit(1)) / nBands).cast("long").as("n"))
    else
      bands.select(lit(0).as("level"), col("band"), col("bh"))
        .groupBy(col("level"), col("band"), col("bh"))
        .agg(count(lit(1)).as("n"))

  /** Refuse any append or serve while an interrupted [[rebandStore]] is
    * pending (`t_cfg_prev` exists): in that window the NEW config is
    * already published but the band rows are still OLD-config — an
    * append would hash under the new widths and then be re-hashed by the
    * mandated same-gen resume (harmless but wasteful), and a serve would
    * join hashes from two incomparable band spaces (silently missing
    * candidates). Fail closed; the documented recovery is re-running
    * `rebandStore` with the same gen to completion. */
  private def requireNoPendingReband(spark: SparkSession, table: String,
      action: String): Unit =
    if (spark.catalog.tableExists(s"${table}_cfg_prev"))
      throw new IllegalStateException(
        s"$action rejected: an interrupted re-band is pending on $table " +
          s"(${table}_cfg_prev exists) — re-run rebandStore with the same " +
          "gen to completion first")

  /** Hash one date's embeddings against the frozen config and append:
    * (id, vector, norm) rows to the id-bucketed table FIRST, then band
    * rows to the band-key-bucketed table, then the date's (level, band,
    * bh) occupancy summary (model-sized — the [[bandDriftPsi]] feed,
    * derived by reading back the just-landed band partition: that read
    * makes summary == landed rows UNCONDITIONALLY — a pinned pre-write
    * frame was measured at the SAME cost and rejected (README, "Semantic
    * append drift"), since a lost cached block recomputes from lineage
    * and would silently desynchronize the audit feed under a
    * non-deterministic input. The
    * ~1.18× two-level append overhead is the summary aggregation +
    * second commit itself, the priced cost of [[bandDriftPsi]] never
    * re-scanning the band store). The expensive work (levels·nPlanes
    * sign dots per vector) happens here once per row, ever. NOT atomic across the
    * three tables (the [[IncrementalVectors.appendDate]] caveat): a
    * failure between the writes leaves the date HALF-appended — ordered
    * to fail SAFE at each gap (vecs only: an id without band rows is
    * simply never a candidate — the reverse order would leave candidates
    * whose verification endpoints silently vanish, a recall hole; bands
    * without occupancy: the drift audit is missing a date it would have
    * flagged only later, while serves — the correctness surface — are
    * complete). Vecs-first also means a [[rebandStore]] landing between
    * the writes re-derives the in-flight date's band rows completely.
    * Recovery is the standard contract: [[dropDate]], then retry. */
  def appendDate(emb: DataFrame, table: String, date: String,
      nBuckets: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    val (nPlanes, r, dim, levels) = cfg(spark, table)
    IncrementalStore.appendBucketed(
      emb.select(col(idCol).as("id"), col(vecCol).as("e"),
        Similarity.norm(col(vecCol)).as("n")),
      s"${table}_vecs", date, Seq("id"), nBuckets,
      guard = requireNoPendingReband(_, table, "append"))
    IncrementalStore.appendBucketed(
      bandRows(emb, idCol, vecCol, nPlanes, r, dim, levels),
      s"${table}_bands", date, keyCols(levels), nBuckets,
      guard = requireNoPendingReband(_, table, "append"))
    IncrementalStore.appendTable(
      occFromBandRows(
        spark.table(s"${table}_bands").filter(col("ds") === date), levels,
        nPlanes / r),
      s"${table}_occ", date,
      guard = requireNoPendingReband(_, table, "append"))
  }

  /** The daily-join candidate (a_id, b_id) stream BEFORE verification;
    * [[newPairs]] verifies it with exact cosine from the vector table.
    * Its mass is the quantity the frozen two-level config exists to cut
    * (README, "Two-level config frozen in the store"). */
  private def candidatePairs(spark: SparkSession, table: String,
      date: String, upTo: Option[String] = None): DataFrame = {
    requireNoPendingReband(spark, table, "serve")
    val (_, _, _, levels) = cfg(spark, table)
    val bands = IncrementalStore.asOf(
      StoreMaintenance.consistentScan(spark, TableLoc(s"${table}_bands")), upTo)
    val fresh = bands.filter(col("ds") === date)
    val joinCond = keyCols(levels)
      .map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.id") =!= col("y.id")
    fresh.as("x").join(bands.as("y"), joinCond)
      .select(least(col("x.id"), col("y.id")).as("a_id"),
        greatest(col("x.id"), col("y.id")).as("b_id"))
      .distinct()
  }

  /** Exact-cosine near-dup pairs INVOLVING date `date`: the new day's
    * band rows join the accumulated store on the frozen band key —
    * exchange-free, both sides bucket-aligned — and the candidate stream
    * (banded, sub-quadratic; two-level when frozen so) is verified by
    * exact cosine from the vector table. Emits (a_id, b_id, cosine) with
    * a_id < b_id, each unordered pair once; the union over every
    * ingested date is the full batch pair set (each pair surfaces when
    * its LATER endpoint arrives). `upTo` is the family's AS-OF serve —
    * "the pairs `date` reported when the store stood at `upTo`" — a pure
    * partition PRUNE on both store tables ([[IncrementalStore.asOf]]:
    * later dates' files are never listed), bit-equal to a store that
    * never ingested past the horizon (spec-pinned) — with the family's
    * standard rewrite caveat: `r_<gen>` generation partitions (a
    * re-band or tombstone pass consumed the per-date history) are
    * excluded by any as-of, so time-travel across a rewrite is
    * impossible by documented design, exactly as in every other store
    * family. */
  def newPairs(spark: SparkSession, table: String, date: String,
      threshold: Double = 0.9, upTo: Option[String] = None): DataFrame = {
    val candidates = candidatePairs(spark, table, date, upTo)
    val vecs = IncrementalStore.asOf(
        StoreMaintenance.consistentScan(spark,
          TableLoc(s"${table}_vecs")), upTo)
      .select(col("id"), col("e"), col("n"))
    candidates
      .join(vecs.select(col("id").as("a_id"), col("e").as("ae"),
        col("n").as("an")), "a_id")
      .join(vecs.select(col("id").as("b_id"), col("e").as("be"),
        col("n").as("bn")), "b_id")
      .withColumn("cosine",
        round(Similarity.dot(col("ae"), col("be")) / (col("an") * col("bn")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Drop one ingestion date's partitions — the re-run/retry guard. */
  def dropDate(spark: SparkSession, table: String, date: String): Unit =
    IncrementalStore.dropDate(spark,
      Seq(s"${table}_bands", s"${table}_vecs", s"${table}_occ").map(TableLoc),
      date)

  /** BANDING-MODEL DRIFT AUDIT — the q141 DETECT lens applied to the
    * frozen banding config: `horizonRows` at init is a capacity GUESS,
    * and a corpus that outgrows (or distributionally drifts from) it
    * concentrates band-bucket occupancy, re-inflating the candidate mass
    * the width law was sized to bound. Per ingestion date AND per frozen
    * signature level, the population stability index of its (band, bh)
    * occupancy distribution against `initDate`'s: Laplace-smoothed
    * proportions (+1 / +|observed combos at that level|), each term
    * (p−q)·ln(p/q) rounded to 12 and decimal-summed
    * (partition-order-proof — the q141 arithmetic verbatim,
    * SQL-replayable). The standard monitoring rule reads PSI > 0.25 as
    * "re-band" — the ACT is [[rebandStore]].
    *
    * Scale shape: a METADATA-SIZED read — the audit never opens the band
    * store (plan-pinned in IncrementalSemanticSpec); it reads the
    * per-date occupancy summary [[appendDate]] persists at hash time
    * (dates × levels × observed combos rows, ≤ levels·nBands·2^r —
    * bounded by the model, not the corpus). The store-sized de-dup a
    * two-level audit used to pay per pass is amortized into each date's
    * append as a day-sized aggregate. Both frozen signatures are audited
    * (drift can concentrate differently per projection set); the
    * summary sums across occupancy rows, so a compacted summary
    * partition (additive counts) audits identically. */
  def bandDriftPsiLevels(spark: SparkSession, table: String,
      initDate: String): DataFrame = {
    requireNoPendingReband(spark, table, "drift audit")
    val counts = StoreMaintenance.consistentScan(spark,
        TableLoc(s"${table}_occ"))
      .groupBy(col("ds"), col("level"), col("band"), col("bh"))
      .agg(sum(col("n")).as("n"))
      .localCheckpoint() // bounded: dates × levels × observed combos
    val combos = counts.select(col("level"), col("band"), col("bh"))
      .distinct()
    val nb = combos.groupBy(col("level")).agg(count(lit(1)).as("b"))
    val grid = counts.select(col("ds")).distinct().crossJoin(combos)
    val full = grid.join(counts, Seq("ds", "level", "band", "bh"), "left")
      .select(col("ds"), col("level"), col("band"), col("bh"),
        coalesce(col("n"), lit(0L)).as("n"))
    val withP = full
      .join(full.groupBy(col("ds"), col("level"))
        .agg(sum(col("n")).as("nd")), Seq("ds", "level"))
      .join(broadcast(nb), Seq("level"))
      .select(col("ds"), col("level"), col("band"), col("bh"), col("nd"),
        ((col("n") + 1).cast("double") / (col("nd") + col("b"))).as("p"))
    val base = withP.filter(col("ds") === initDate)
      .select(col("level"), col("band"), col("bh"), col("p").as("q"))
    // fail LOUD if the baseline date no longer exists (folded by a
    // re-band/compact, or never ingested): the inner join below would
    // otherwise return ZERO rows and a monitoring rule reading the audit
    // would silently never fire again — the opposite of a detector.
    // Bounded check: `counts` is (dates × levels × combos)-sized, pinned.
    if (counts.filter(col("ds") === initDate).isEmpty)
      throw new IllegalArgumentException(
        s"drift baseline '$initDate' has no rows in ${table}_occ " +
          "(folded by a re-band/compact, or never ingested) — pass a " +
          "live partition as the baseline (after a re-band, its r_<gen> " +
          "label is the natural new baseline)")
    withP.join(base, Seq("level", "band", "bh"))
      .withColumn("term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 12))
      .groupBy(col("ds"), col("level"))
      .agg(max(col("nd")).as("n_rows"),
        round(sum(col("term").cast("decimal(28,12)")).cast("double"), 6)
          .as("psi"))
      .orderBy(col("ds"), col("level"))
  }

  /** [[bandDriftPsiLevels]] projected to the FIRST frozen signature —
    * the q180 monitoring shape (level-0 occupancy is what re-inflates
    * the daily join's candidate mass first; the per-level variant is
    * the completeness view). Output (ds, n_rows, psi), identical
    * arithmetic to the level-0 rows of the per-level audit. */
  def bandDriftPsi(spark: SparkSession, table: String,
      initDate: String): DataFrame =
    bandDriftPsiLevels(spark, table, initDate)
      .filter(col("level") === 0)
      .select(col("ds"), col("n_rows"), col("psi"))
      .orderBy(col("ds"))

  /** RE-BAND the store at a new horizon — the ACT to [[bandDriftPsi]]'s
    * detect, the [[IncrementalSQ.refitGrid]] shape for the banding
    * family: recompute r from the width law at `newHorizonRows`, publish
    * the new config, and re-hash EVERY stored vector from the
    * id-bucketed vector table in one marker-committed rewrite — the
    * source corpus is never re-read (the store keeps vectors precisely
    * so model maintenance is self-contained). The frozen `levels` must
    * be unchanged by the new horizon: a levels flip changes the band
    * table's key schema and bucket spec, which a rewrite cannot do —
    * that migration is a documented re-init (new store) from the vecs
    * table.
    *
    * CRASH SAFETY (the refitGrid discipline): the old config is
    * snapshotted DURABLY to `t_cfg_prev` (gen-stamped) before the new
    * config is published, and dropped only after the rewrite's marker
    * commits. While the snapshot exists, appends and serves fail closed
    * ([[requireNoPendingReband]]); a crashed re-band MUST be re-run with
    * the SAME gen (and the same horizon) to completion. An abort before
    * the rewrite's first durable effect restores the old config and
    * unstages, so lease contention never wedges the store. */
  def rebandStore(spark: SparkSession, table: String,
      newHorizonRows: Long, gen: String): Unit = {
    import spark.implicits._
    val prevT = s"${table}_cfg_prev"
    val (nPlanes, _, dim, levels) = cfg(spark, table)
    val rNew = Similarity.derivedRowsPerBand(newHorizonRows, nPlanes)
    val levelsNew =
      if (Similarity.twoLevelEngaged(newHorizonRows, None, None)) 2 else 1
    require(levelsNew == levels,
      s"re-band refused: the new horizon ($newHorizonRows) changes the " +
        s"frozen level count ($levels -> $levelsNew), which changes the " +
        "band table's key schema and bucket spec — re-init a NEW store " +
        "from this store's vector table instead")
    // GEN FRESHNESS is load-bearing here, not just the usual rewrite
    // caller contract: a reused gen with no pending snapshot would
    // publish the NEW config and then hit the repeated-gen no-op (the
    // r_<gen> partition already exists), leaving the frozen r and the
    // stored band rows permanently inconsistent — every later daily
    // join would compare hashes from two incomparable band spaces,
    // silently missing pairs. Refuse before the first effect.
    if (!spark.catalog.tableExists(prevT) &&
        spark.catalog.tableExists(s"${table}_bands") &&
        TableLoc(s"${table}_bands").partitions(spark).contains(s"r_$gen"))
      throw new IllegalArgumentException(
        s"re-band gen '$gen' already consumed on $table (partition " +
          s"r_$gen exists and no re-band is pending) — pass a fresh gen")
    // the snapshot stamps gen AND the new width: the same-gen resume must
    // also be a same-HORIZON resume — if the crashed run completed its
    // rewrite (crash before the cfg_prev drop), a resume at a different
    // horizon would republish a config whose r differs from the width the
    // committed r_<gen> band rows were hashed at, and the rewrite would
    // no-op (partition exists), leaving the store silently serving two
    // incomparable band spaces — the exact failure the gen-freshness
    // check refuses.
    def snapshot(): Unit =
      spark.table(s"${table}_cfg").withColumn("gen", lit(gen))
        .withColumn("rNew", lit(rNew))
        .write.mode("errorifexists").saveAsTable(prevT)
    if (spark.catalog.tableExists(prevT)) {
      val g = spark.table(prevT).select(col("gen"), col("rNew")).limit(1)
        .collect().headOption.map(r => (r.getString(0), r.getInt(1)))
      g match {
        case Some((prev, prevRNew)) =>
          require(prev == gen,
            s"interrupted re-band '$prev' on $table must be re-run " +
              s"to completion (same gen) before starting '$gen'")
          require(prevRNew == rNew,
            s"interrupted re-band '$gen' on $table was started at band " +
              s"width r = $prevRNew — the resume must re-run with the " +
              s"SAME horizon (got a horizon deriving r = $rNew); a " +
              "different width would republish a config the committed " +
              "band rows were not hashed at")
        case None =>
          // zero-row snapshot: the write crashed before rows landed; the
          // config publish is sequenced after it, so the live config is
          // still the old one — drop the partial and re-snapshot
          spark.sql(s"DROP TABLE IF EXISTS $prevT")
          snapshot()
      }
    } else snapshot()
    // publish the new config (idempotent on retry: same inputs, same row)
    Seq((nPlanes, rNew, dim, levels))
      .toDF("nPlanes", "r", "dim", "levels")
      .write.mode("overwrite").saveAsTable(s"${table}_cfg")
    try {
      StoreMaintenance.rewrite(spark, TableLoc(s"${table}_bands"), gen,
        transform = _ =>
          // the old band rows are not inputs — the rewrite re-derives every
          // row from the vector table under the new config (band hashes are
          // not invertible, and unlike SQ codes nothing of value is lost)
          bandRows(StoreMaintenance.consistentScan(spark,
              TableLoc(s"${table}_vecs")),
            "id", "e", nPlanes, rNew, dim, levels))
      // the occupancy summary is derived state over the band rows — the
      // old-width counts are meaningless under the new config, so fold
      // them into the same generation, recomputed from the REWRITTEN
      // bands (per-date history is consumed exactly as the bands' was;
      // the r_<gen> label is the audit's natural new baseline). Ordered
      // INSIDE the pending window (cfg_prev still up): a crash between
      // the two rewrites resumes with the bands fold no-opping (label
      // committed) and this fold completing.
      if (spark.catalog.tableExists(s"${table}_occ"))
        StoreMaintenance.rewrite(spark, TableLoc(s"${table}_occ"), gen,
          transform = _ => occFromBandRows(
            StoreMaintenance.consistentScan(spark, TableLoc(s"${table}_bands")),
            levels, nPlanes / rNew))
    } catch {
      // abort before the fold's first durable effect (no sentinel AND no
      // r_<gen> partition): restore the old config and unstage — the
      // contention loser must not wedge the store behind a same-gen
      // resume. Any mid-fold (or post-completion) failure keeps the
      // snapshot; resume is mandatory.
      case e: Throwable =>
        if (StoreMaintenance.rewriteNeverStarted(spark,
            TableLoc(s"${table}_bands"),
            gen)) {
          spark.table(prevT).drop("gen", "rNew")
            .write.mode("overwrite").saveAsTable(s"${table}_cfg")
          spark.sql(s"DROP TABLE IF EXISTS $prevT")
        }
        throw e
    }
    // rewrite committed: the old-config snapshot is garbage
    spark.sql(s"DROP TABLE IF EXISTS $prevT")
  }

  /** The banding family's detect→act POLICY — [[IncrementalVectors
    * .maintainPolicy]]'s shape for the semantic store, closing the loop
    * the maintenance audit's scaladoc left to "a human (or a policy
    * job)": inside a maintenance window, measure the per-date band-
    * occupancy PSI against the frozen baseline and, when it crosses
    * `psiReband` AND the width law at the store's CURRENT size derives
    * a different band width than the frozen config (the store outgrew
    * its declared horizon — the drift mode a re-band actually fixes),
    * run [[rebandStore]] at the current size under the window-unique
    * gen `policy_<window>`. Decisions the policy takes but does NOT act
    * on are still returned for the window log: a PSI breach whose
    * derived width is UNCHANGED (distribution moved, size didn't — a
    * re-band at the same width would change nothing), and a breach
    * whose new horizon would FLIP the frozen level count (the
    * documented re-init migration, never an automatic act).
    *
    * RESUME FIRST, unconditionally: a prior run of THIS window that
    * crashed mid-re-band leaves `t_cfg_prev` staged and every mutation
    * failing closed — the PSI audit itself refuses in that state, so
    * consulting it first would wedge the window forever. The staged gen
    * stamp identifies our own crashed pass; the re-run resumes the SAME
    * gen at the store's current size (mutations fail closed while
    * pending, so the size — and therefore the derived width the
    * same-horizon rule checks — is exactly the crashed run's).
    * The store size is read from the id-bucketed VECTOR table (one
    * count; width-independent — the occupancy summary's row counts are
    * per-band and config-relative, useless mid-crash). After a
    * completed act the per-date view is consumed, the next window's PSI
    * re-anchors on the `r_*` baseline and cannot re-fire — the policy
    * converges instead of thrashing. Gens are window-unique: re-running
    * an already-acted window under a FRESH marker ledger refuses at
    * [[rebandStore]]'s gen-freshness check (restore the window marker
    * to skip it wholesale). Unarmed (`psiReband` None) this is a no-op
    * — detection stays an audit, acting stays deliberate. */
  def maintainPolicy(spark: SparkSession, table: String, window: String,
      psiReband: Option[Double] = None): Seq[String] =
    psiReband.toSeq.flatMap { bar =>
      val gen = s"policy_$window"
      val prevT = s"${table}_cfg_prev"
      def currentRows: Long =
        StoreMaintenance.consistentScan(spark,
          TableLoc(s"${table}_vecs")).count()
      def baseline: Option[String] = IncrementalStore.driftBaseline(
        if (spark.catalog.tableExists(s"${table}_occ"))
          TableLoc(s"${table}_occ").partitions(spark) else Seq.empty)
      val pendingGen = if (spark.catalog.tableExists(prevT))
        spark.table(prevT).select(col("gen")).limit(1)
          .collect().headOption.map(_.getString(0)) else None
      if (pendingGen.contains(gen)) {
        rebandStore(spark, table, currentRows, gen)
        Seq(s"reband(resumed,gen=$gen)")
      } else if (!spark.catalog.tableExists(s"${table}_cfg") ||
          baseline.isEmpty) Nil // uninitialized/empty store: never wedge
      else {
        val b = baseline.get
        val psi = bandDriftPsiLevels(spark, table, b).collect()
        val worst = psi.filter(_.getString(0) != b)
          .map(_.getDouble(3)).maxOption
        if (!worst.exists(_ > bar)) Nil
        else {
          val (nPlanes, rCur, _, levels) = cfg(spark, table)
          val n = currentRows
          val rNew = Similarity.derivedRowsPerBand(n, nPlanes)
          val levelsNew =
            if (Similarity.twoLevelEngaged(n, None, None)) 2 else 1
          if (levelsNew != levels)
            Seq(f"reband_refused(psi=${worst.get}%.6f>$bar,levels_flip=" +
              s"$levels->$levelsNew: migrateStore to a new store is the " +
              "documented path)")
          else if (rNew == rCur)
            Seq(f"detect(psi=${worst.get}%.6f>$bar,width_unchanged,r=" +
              s"$rCur)")
          else {
            rebandStore(spark, table, n, gen)
            Seq(f"reband(psi=${worst.get}%.6f>$bar,r=$rCur->$rNew," +
              s"gen=$gen)")
          }
        }
      }
    }

  /** MIGRATE to a NEW store at a new horizon — the path [[rebandStore]]
    * refuses: a horizon change that FLIPS the frozen level count changes
    * the band table's key schema and bucket spec, which no in-place
    * rewrite can do. This re-inits `newTable` (width + engagement laws
    * at `newHorizonRows`) and rebuilds it ENTIRELY from this store's
    * id-bucketed vector table — per `ds` partition, so as-of semantics
    * and fold labels carry over — without ever re-reading the source
    * corpus (the store keeps vectors precisely so model maintenance is
    * self-contained). The old store is left intact; cut serves over to
    * `newTable`, then drop the old tables. `newTable` is not
    * authoritative until this returns, but a partial migration is
    * RESUMABLE, not restart-from-zero: re-calling with the SAME horizon
    * skips every date already fully copied (present in all three new
    * tables), drops-and-recopies any half-copied date, and refuses a
    * resume whose horizon would freeze a different model than the
    * committed partial copy was hashed at. Concurrency is a FENCE, not a
    * doc note: the migration holds the maintenance lease on both source
    * tables (concurrent source appends and rewrites fail fast — at 100 TB
    * that is the difference between a maintenance pass and silently
    * losing the date that landed mid-copy) and an exclusive migrate
    * lease on the new store (racing migrations into one target refuse).
    * Cost: one distributed read + three bucketed/partitioned writes of
    * the store per date partition, skipped dates free. */
  def migrateStore(spark: SparkSession, table: String, newTable: String,
      newHorizonRows: Long, nBuckets: Int = 8): Unit = {
    requireNoPendingReband(spark, table, "migrate")
    // the old store's frozen plane count is part of its identity (band
    // count, hashing cost, any oracle pinned to it) — carry it over;
    // only the horizon-derived knobs (r, levels) re-derive
    val (nPlanes, _, _, _) = cfg(spark, table)
    val rNew = Similarity.derivedRowsPerBand(newHorizonRows, nPlanes)
    val levelsNew =
      if (Similarity.twoLevelEngaged(newHorizonRows, None, None)) 2 else 1
    val cat = spark.sessionState.catalog
    def loc(t: String): String = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString
    // FENCE, not documentation: the migration holds the MAINTENANCE
    // lease on both source tables for its whole duration, so a
    // concurrent append to the source fails fast at its first write
    // (appendDate's vecs write checks this lease) instead of landing a
    // date the migration's date list predates — and a concurrent
    // re-band/delete rewrite backs off the same way. Plus an exclusive
    // migrate lease on the NEW store (a sibling of its would-be
    // warehouse path, the TableLoc.withInitLease convention):
    // two racing migrations into the same target would interleave their
    // per-date copies. All released on any in-process exit; a hard
    // crash leaves them to the standard dead-pid/stillness sweep.
    val srcLocs = Seq(s"${table}_vecs", s"${table}_bands")
      .filter(spark.catalog.tableExists).map(loc)
    val newLease = cat.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${newTable}_cfg"))
      .toString + "_migrate_lease"
    var held = List.empty[String]
    try {
      (srcLocs :+ newLease).foreach { l =>
        StoreMaintenance.acquireLease(spark, l); held ::= l
      }
      val vecs = StoreMaintenance.consistentScan(spark,
        TableLoc(s"${table}_vecs"))
      // RESUMABLE: a crashed migration left the new config and some
      // fully-copied dates — re-init only a missing config, and REFUSE a
      // resume whose horizon would freeze a different model than the
      // committed partial copy was hashed at (the rebandStore same-
      // horizon rule; dim re-probes from the same vecs, nPlanes carries)
      if (spark.catalog.tableExists(s"${newTable}_cfg")) {
        val c = spark.table(s"${newTable}_cfg").head()
        require(c.getInt(0) == nPlanes && c.getInt(1) == rNew &&
          c.getInt(3) == levelsNew,
          s"migration resume refused: $newTable was initialized at " +
            s"(nPlanes=${c.getInt(0)}, r=${c.getInt(1)}, " +
            s"levels=${c.getInt(3)}) but this call derives " +
            s"(nPlanes=$nPlanes, r=$rNew, levels=$levelsNew) — resume " +
            "with the original horizon, or drop the new store's tables " +
            "to restart")
      } else
        initModel(vecs.select(col("id").as("vec_id"),
          col("e").as("embedding")), newTable, newHorizonRows,
          nPlanes = nPlanes)
      // bounded metadata: the AUTHORITATIVE per-date labels (retention-
      // window-sized on a compacted store) — derived from the consistent
      // scan, not raw SHOW PARTITIONS, so a crashed fold's uncommitted
      // label is never copied as a spurious partition. Fold labels
      // (c_<h>, r_<gen>) carry over verbatim: their as-of semantics on
      // the new store equal the old store's (history consumed by a
      // rewrite stays consumed — time-travel across it was already
      // impossible).
      val dates = vecs.select(col("ds")).distinct()
        .collect().map(_.getString(0)).sorted
      // skip dates already FULLY copied (present in all three new-store
      // tables — appendDate's write order means a crashed date can be
      // missing its tail tables); anything partial is dropped and
      // re-appended, so resume == from-scratch (spec-pinned), and a
      // repeated migrate over a complete target rewrites nothing
      def partsOf(t: String): Set[String] =
        if (!spark.catalog.tableExists(t)) Set.empty
        else TableLoc(t).partitions(spark).toSet
      val fullyCopied = partsOf(s"${newTable}_bands")
        .intersect(partsOf(s"${newTable}_vecs"))
        .intersect(partsOf(s"${newTable}_occ"))
      dates.filterNot(fullyCopied).foreach { d =>
        dropDate(spark, newTable, d)
        appendDate(vecs.filter(col("ds") === d)
            .select(col("id").as("vec_id"), col("e").as("embedding")),
          newTable, d, nBuckets)
      }
    } finally held.foreach { l =>
      StoreMaintenance.releaseLease(spark, l)
      if (l == newLease) { // drop the (now-empty) sibling dir — hygiene
        val d = new org.apache.hadoop.fs.Path(l)
        val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
      }
    }
  }

  /** DELETION PROPAGATION: physically remove the tombstoned ids' rows
    * from BOTH tables through the shared contract — a deleted vector can
    * never again surface as a candidate or a verification endpoint. Fails
    * closed while an interrupted re-band is pending (the family's
    * standard refusal, run before any rewrite's first effect): if the
    * re-band crashed before its rewrite started, a delete's bands rewrite
    * would otherwise proceed against old-config rows while the published
    * config is already the new one. */
  def deleteIds(spark: SparkSession, table: String,
      tombstones: DataFrame, gen: String, large: Boolean = false): Unit = {
    val (nPlanes, r, _, levels) = cfg(spark, table)
    IncrementalStore.propagateDeletes(spark, gen, Seq(
      IncrementalStore.keyTarget(TableLoc(s"${table}_bands"), "id",
        tombstones, large),
      IncrementalStore.keyTarget(TableLoc(s"${table}_vecs"), "id",
        tombstones, large),
      // the occupancy summary is derived state: the deleted ids' counts
      // must vanish with their band rows, so it folds into the same
      // generation recomputed from the POST-DELETE bands (targets run in
      // order — bands is already rewritten when this transform plans)
      IncrementalStore.DeleteTarget(TableLoc(s"${table}_occ"),
        transform = _ => occFromBandRows(
          StoreMaintenance.consistentScan(spark, TableLoc(s"${table}_bands")),
          levels, nPlanes / r),
        optional = true)),
      guard = requireNoPendingReband(_, table, "delete"))
  }
}
