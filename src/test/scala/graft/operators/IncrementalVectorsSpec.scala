package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

class IncrementalVectorsSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private def queries = emb.filter(col("vec_id") < 10)

  private def dropStore(base: String): Unit =
    Seq("_cb", "_ctr", "_ctr_next", "_codes", "_cells", "_map",
      "_cells_splitting")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  test("incremental 3-date store equals a one-shot batch store (frozen models)") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_inc"); dropStore("ivs_batch")
    try {
      IncrementalVectors.initModel(slice(0), "ivs_inc")
      (0 until 3).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_inc", s"d$d"))
      IncrementalVectors.initModel(slice(0), "ivs_batch")
      IncrementalVectors.appendDate(emb, "ivs_batch", "all")
      sameRows(IncrementalVectors.adcSearch(spark, "ivs_inc", queries),
        IncrementalVectors.adcSearch(spark, "ivs_batch", queries),
        "ADC: per-date encoding must be bit-equal to one-shot encoding")
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_inc", queries),
        IncrementalVectors.ivfSearch(spark, "ivs_batch", queries),
        "IVF: per-date assignment must be bit-equal to one-shot assignment")
    } finally { dropStore("ivs_inc"); dropStore("ivs_batch") }
  }

  test("store-served searches equal the from-scratch pipelines (full-corpus models)") {
    dropStore("ivs_full")
    try {
      IncrementalVectors.initModel(emb, "ivs_full")
      IncrementalVectors.appendDate(emb, "ivs_full", "all")
      sameRows(IncrementalVectors.adcSearch(spark, "ivs_full", queries),
        PQ.adcTopK(emb, col("vec_id") < 10, topK = 3),
        "store-served ADC must equal PQ.adcTopK with the same codebook")
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_full", queries),
        Similarity.knnIvfDeterministic(queries, emb, 3, nProbe = 6,
          fitPercent = 100),
        "store-served IVF must equal knnIvfDeterministic on the same fit")
    } finally dropStore("ivs_full")
  }

  test("filtered serve == a store that never ingested the excluded vectors; ADC stays exchange-free") {
    dropStore("ivs_filt"); dropStore("ivs_only")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      val allowDf = emb.filter(pmod(col("label"), lit(2)) === 0)
        .select("vec_id")
      // same fit corpus ⇒ bit-identical frozen models in both stores;
      // only the ingested rows differ
      IncrementalVectors.initModel(emb, "ivs_filt")
      IncrementalVectors.appendDate(emb, "ivs_filt", "all")
      IncrementalVectors.initModel(emb, "ivs_only")
      IncrementalVectors.appendDate(
        emb.filter(pmod(col("label"), lit(2)) === 0), "ivs_only", "all")
      // the filtered-serve contract: restricting candidates at serve time
      // equals a store that never held the excluded vectors at all
      sameRows(
        IncrementalVectors.adcSearch(spark, "ivs_filt", queries,
          allowed = Some(allowDf)),
        IncrementalVectors.adcSearch(spark, "ivs_only", queries),
        "filtered ADC must equal serving an allowed-only store")
      sameRows(
        IncrementalVectors.ivfSearch(spark, "ivs_filt", queries,
          allowed = Some(allowDf)),
        IncrementalVectors.ivfSearch(spark, "ivs_only", queries),
        "filtered IVF must equal serving an allowed-only store")
      // an all-ids allow-list is the unfiltered serve, bit-equal
      sameRows(
        IncrementalVectors.ivfSearch(spark, "ivs_filt", queries,
          allowed = Some(emb.select("vec_id"))),
        IncrementalVectors.ivfSearch(spark, "ivs_filt", queries),
        "an allow-everything filter must be a no-op")
      // plan: the broadcast semi-join must not cost the ADC serve its
      // exchange-free store aggregate (AQE off for a collectible tree)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def hasStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table.endsWith("_codes")) => s
        }.nonEmpty
      val adc = IncrementalVectors.adcSearch(spark, "ivs_filt", queries,
        allowed = Some(allowDf))
      val reshuffled = adc.queryExecution.executedPlan
        .collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if hasStoreScan(a) => a
        }
        .exists(_.collect { case e: ShuffleExchangeLike => e }
          .exists(hasStoreScan))
      assert(!reshuffled,
        s"filtered ADC must keep the code store off the wire:\n${
          adc.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      dropStore("ivs_filt"); dropStore("ivs_only")
    }
  }

  test("as-of search equals a store that never saw the later date; prune is partition-level") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_asof"); dropStore("ivs_trunc")
    try {
      IncrementalVectors.initModel(slice(0), "ivs_asof")
      (0 until 3).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_asof", s"d$d"))
      IncrementalVectors.initModel(slice(0), "ivs_trunc")
      (0 until 2).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_trunc", s"d$d"))
      val asOfAdc =
        IncrementalVectors.adcSearch(spark, "ivs_asof", queries,
          upTo = Some("d1"))
      sameRows(asOfAdc,
        IncrementalVectors.adcSearch(spark, "ivs_trunc", queries),
        "as-of ADC must equal the store that never ingested d2")
      sameRows(
        IncrementalVectors.ivfSearch(spark, "ivs_asof", queries,
          upTo = Some("d1")),
        IncrementalVectors.ivfSearch(spark, "ivs_trunc", queries),
        "as-of IVF must equal the store that never ingested d2")
      // the ds predicate must reach the code scan as a PARTITION filter
      // (evaluated against the catalog — d2's files are never listed);
      // AQE off so executedPlan is a plain collectible tree
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      val scans = try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        IncrementalVectors.adcSearch(spark, "ivs_asof", queries,
            upTo = Some("d1"))
          .queryExecution.executedPlan.collect {
            case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table == "ivs_asof_codes") => f
          }
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        "the as-of predicate must prune partitions, not filter rows")
    } finally { dropStore("ivs_asof"); dropStore("ivs_trunc") }
  }

  test("quantizer refit: migrated store serves the fresh-fit ranking; ADC untouched") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_refit"); dropStore("ivs_fresh")
    try {
      IncrementalVectors.initModel(slice(0), "ivs_refit")
      (0 until 3).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_refit", s"d$d"))
      val adcBefore =
        IncrementalVectors.adcSearch(spark, "ivs_refit", queries)
          .localCheckpoint()
      val newFit = emb.filter(pmod(col("vec_id"), lit(3L)) >= 1)
      IncrementalVectors.refitQuantizer(spark, "ivs_refit", newFit, "t1")
      // ground truth: a store whose models were fitted on the new slice
      // from scratch (IVF side only — its codebook differs, by design)
      IncrementalVectors.initModel(newFit, "ivs_fresh")
      IncrementalVectors.appendDate(emb, "ivs_fresh", "all")
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_refit", queries),
        IncrementalVectors.ivfSearch(spark, "ivs_fresh", queries),
        "migrated cells must serve the new quantizer's ranking bit-equal")
      sameRows(IncrementalVectors.adcSearch(spark, "ivs_refit", queries),
        adcBefore,
        "the PQ side must be untouched by a coarse-quantizer refit")
      // the rewrite folded every date partition into one generation
      val parts = spark.sql("SHOW PARTITIONS ivs_refit_cells")
        .collect().map(_.getString(0)).toSeq
      assert(parts == Seq("ds=r_t1"),
        s"expected a single folded generation partition, got $parts")
    } finally { dropStore("ivs_refit"); dropStore("ivs_fresh") }
  }

  test("a refit crash before the rewrite serves the PRE-refit ranking; resume + late append equal the uninterrupted run") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_crash"); dropStore("ivs_crashref")
    try {
      def build(base: String): Unit = {
        IncrementalVectors.initModel(slice(0), base)
        (0 until 2).foreach(d =>
          IncrementalVectors.appendDate(slice(d), base, s"d$d"))
      }
      build("ivs_crash"); build("ivs_crashref")
      val ivfBefore = IncrementalVectors.ivfSearch(spark, "ivs_crash", queries)
        .localCheckpoint()
      val newFit = emb.filter(pmod(col("vec_id"), lit(3L)) >= 1)
      // manufacture the stage-crash window: centroids staged to _ctr_next,
      // process dies before the cell rewrite ever starts — the live model
      // and the cells are BOTH still old
      val (_, staged, release) = KMeans.fitCentroidsManaged(
        newFit, 16, 2, "vec_id", "embedding")
      staged.withColumn("gen", lit("g1"))
        .write.mode("errorifexists").saveAsTable("ivs_crash_ctr_next")
      release()
      // the round-13 flaw: publishing centroids FIRST made this window
      // probe new centroids over old assignments — with staging, the
      // crash-window serve is the pre-refit ranking, bit-equal
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_crash", queries),
        ivfBefore, "a stage-crash serve must be the pre-refit ranking")
      // appends are refused for the pending window (they would flip the
      // post-commit centroid resolution back to the old model)
      val ex = intercept[IllegalStateException] {
        IncrementalVectors.appendDate(slice(2), "ivs_crash", "d2")
      }
      assert(ex.getMessage.contains("refit is pending"), ex.getMessage)
      // a DIFFERENT gen must refuse while the staged fit is pending
      intercept[IllegalArgumentException] {
        IncrementalVectors.refitQuantizer(spark, "ivs_crash", newFit, "g2")
      }
      // resume (same gen), then the late append lands — reference is the
      // same refit + append run uninterrupted
      IncrementalVectors.refitQuantizer(spark, "ivs_crash", newFit, "g1")
      assert(!spark.catalog.tableExists("ivs_crash_ctr_next"),
        "a completed refit cleans up its staging table")
      IncrementalVectors.appendDate(slice(2), "ivs_crash", "d2")
      IncrementalVectors.refitQuantizer(spark, "ivs_crashref", newFit, "g1")
      IncrementalVectors.appendDate(slice(2), "ivs_crashref", "d2")
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_crash", queries),
        IncrementalVectors.ivfSearch(spark, "ivs_crashref", queries),
        "crash-resumed refit + late append must equal the uninterrupted run")
    } finally { dropStore("ivs_crash"); dropStore("ivs_crashref") }
  }

  test("a refit crash after the rewrite commit serves the POST-refit ranking (staged centroids resolved)") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_mid"); dropStore("ivs_midref")
    try {
      def build(base: String): Unit = {
        IncrementalVectors.initModel(slice(0), base)
        (0 until 2).foreach(d =>
          IncrementalVectors.appendDate(slice(d), base, s"d$d"))
      }
      build("ivs_mid"); build("ivs_midref")
      val newFit = emb.filter(pmod(col("vec_id"), lit(3L)) >= 1)
      // reference: the same refit, uninterrupted
      IncrementalVectors.refitQuantizer(spark, "ivs_midref", newFit, "g1")
      val want = IncrementalVectors.ivfSearch(spark, "ivs_midref", queries)
        .localCheckpoint()
      // manufacture the post-commit window: staged fit + the cell rewrite
      // completed, process dies before the t_ctr swap — the postings carry
      // NEW cell ids while the live model table still holds the OLD one
      val (_, staged, release) = KMeans.fitCentroidsManaged(
        newFit, 16, 2, "vec_id", "embedding")
      staged.withColumn("gen", lit("g1"))
        .write.mode("errorifexists").saveAsTable("ivs_mid_ctr_next")
      release()
      val ctr = spark.table("ivs_mid_ctr_next").drop("gen")
      StoreMaintenance.rewrite(spark, TableLoc("ivs_mid_cells"), "g1",
        transform = df => {
          val re = KMeans.assign(df.select(col("id"), col("e")), ctr,
              idCol = "id", vecCol = "e")
            .select(col("id"), col("cid").as("new_cell"))
          df.drop("cell").join(re, "id")
            .select(col("new_cell").as("cell"), col("id"), col("e"), col("n"))
        })
      // the serve must probe the STAGED centroids (the model the rows were
      // actually assigned under), not the stale live table
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_mid", queries), want,
        "a post-commit crash-window serve must be the post-refit ranking")
      // resume completes the swap; the serve is unchanged
      IncrementalVectors.refitQuantizer(spark, "ivs_mid", newFit, "g1")
      assert(!spark.catalog.tableExists("ivs_mid_ctr_next"))
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_mid", queries), want,
        "the completed resume must serve the same post-refit ranking")
    } finally { dropStore("ivs_mid"); dropStore("ivs_midref") }
  }

  test("a refit aborted before any rewrite state UNSTAGES — lease contention never wedges the store") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_ab")
    try {
      IncrementalVectors.initModel(slice(0), "ivs_ab")
      (0 until 2).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_ab", s"d$d"))
      val pre = IncrementalVectors.ivfSearch(spark, "ivs_ab", queries)
        .localCheckpoint()
      val cellsLoc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ivs_ab_cells"))
        .location.toString
      // a live lease on the cell store: the refit's rewrite aborts before
      // its pending sentinel ever lands
      StoreMaintenance.acquireLease(spark, cellsLoc)
      try intercept[IllegalStateException] {
        IncrementalVectors.refitQuantizer(spark, "ivs_ab",
          emb.filter(pmod(col("vec_id"), lit(3L)) >= 1), "g9")
      } finally StoreMaintenance.releaseLease(spark, cellsLoc)
      // the loser UNSTAGED: no pending refit, serves unchanged, appends
      // proceed — previously g9's ctr_next wedged everything until a
      // same-gen re-run
      assert(!spark.catalog.tableExists("ivs_ab_ctr_next"),
        "an abort with no rewrite state must unstage the fit")
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_ab", queries), pre,
        "the aborted refit must leave serves untouched")
      IncrementalVectors.appendDate(slice(2), "ivs_ab", "d2")
    } finally dropStore("ivs_ab")
  }

  test("the rewrite's OWN crash windows serve consistently: pre-marker the PRE-refit ranking, marker-to-drops the POST-refit one") {
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_win"); dropStore("ivs_winref")
    try {
      def build(base: String): Unit = {
        IncrementalVectors.initModel(slice(0), base)
        (0 until 2).foreach(d =>
          IncrementalVectors.appendDate(slice(d), base, s"d$d"))
      }
      build("ivs_win"); build("ivs_winref")
      val pre = IncrementalVectors.ivfSearch(spark, "ivs_win", queries)
        .localCheckpoint()
      val newFit = emb.filter(pmod(col("vec_id"), lit(3L)) >= 1)
      IncrementalVectors.refitQuantizer(spark, "ivs_winref", newFit, "g1")
      val post = IncrementalVectors.ivfSearch(spark, "ivs_winref", queries)
        .localCheckpoint()
      // stage the fit (the refit's first durable effect)
      val (_, staged, release) = KMeans.fitCentroidsManaged(
        newFit, 16, 2, "vec_id", "embedding")
      staged.withColumn("gen", lit("g1"))
        .write.mode("errorifexists").saveAsTable("ivs_win_ctr_next")
      release()
      val ctr = spark.table("ivs_win_ctr_next").drop("gen")
      val folded = spark.table("ivs_win_cells").drop("ds")
      val re = KMeans.assign(folded.select(col("id"), col("e")), ctr,
          idCol = "id", vecCol = "e")
        .select(col("id"), col("cid").as("new_cell"))
      val rewritten = folded.drop("cell").join(re, "id")
        .select(col("new_cell").as("cell"), col("id"), col("e"), col("n"))
        .localCheckpoint()
      val root = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("ivs_win_cells"))
          .location)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def putLabel(rows: org.apache.spark.sql.DataFrame): Unit =
        rows.withColumn("ds", lit("r_g1"))
          .write.mode("append").partitionBy("ds")
          .bucketBy(8, "cell").sortBy("cell").saveAsTable("ivs_win_cells")
      // CRASH WINDOW 1 — sentinel down, label PARTIAL, no marker: the
      // olds are authoritative; the serve must be the pre-refit ranking
      // (previously the scan read olds + the partial label TOGETHER)
      fs.create(new org.apache.hadoop.fs.Path(root,
        "_fold_pending_r_g1"), true).close()
      putLabel(rewritten.limit(50))
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_win", queries), pre,
        "pre-marker crash window must serve the PRE-refit ranking")
      // CRASH WINDOW 2 — label complete, marker down, olds NOT yet
      // dropped: the label is authoritative; the serve must be the
      // post-refit ranking over ONLY the rewritten rows
      spark.sql(
        "ALTER TABLE ivs_win_cells DROP IF EXISTS PARTITION (ds='r_g1')")
      putLabel(rewritten)
      fs.create(new org.apache.hadoop.fs.Path(root,
        "_compact_r_g1_done"), true).close()
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_win", queries), post,
        "marker-to-drops crash window must serve the POST-refit ranking")
      // the same-gen resume heals: drops finish, model swaps, serve holds
      IncrementalVectors.refitQuantizer(spark, "ivs_win", newFit, "g1")
      assert(!spark.catalog.tableExists("ivs_win_ctr_next"))
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_win", queries), post,
        "the completed resume must serve the same post-refit ranking")
    } finally { dropStore("ivs_win"); dropStore("ivs_winref") }
  }

  test("hot-cell split: skew shrinks, searches stay bit-equal, ingestion continues") {
    // plant a hot cell: 24 near-duplicates of vector 0 at distinct
    // magnitudes — they all quantize to vector 0's cell (making it the
    // unambiguous hottest), and their magnitude spread gives the k=2
    // subfit real structure to separate (a clump of IDENTICAL vectors
    // would tie every argmin to child 0 — Lloyd's documented
    // empty-cluster case, which real skewed corpora don't exhibit)
    val v0 = emb.filter(col("vec_id") === 0)
    val planted = (0 until 24).map { i =>
      v0.select((col("vec_id") + lit(9000000L + i)).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * (lit(1.0) + lit(0.0001) * (i + 1)))
            .cast("float")).as("embedding"))
    }.reduce(_ unionAll _)
    val aug = emb.select(col("vec_id"), col("embedding")).unionAll(planted)
    def slice(d: Int) = aug.filter(pmod(col("vec_id"), lit(3L)) === d)
    dropStore("ivs_split"); dropStore("ivs_ref")
    try {
      IncrementalVectors.initModel(aug, "ivs_split")
      (0 until 2).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_split", s"d$d"))
      val audit = IncrementalVectors.cellAudit(spark, "ivs_split")
        .localCheckpoint()
      // the audit operator reports exactly the stored assignment
      val direct = IncrementalVectors.cellOccupancy(
        spark.table("ivs_split_cells").select("cell", "id"))
      sameRows(audit, direct, "cellAudit must equal the inline occupancy")
      val occ = audit.orderBy(col("n_vectors").desc)
        .select("cell", "n_vectors").collect()
      val (hotCell, maxN) = (occ.head.getLong(0), occ.head.getLong(1))
      val secondN = occ.drop(1).headOption.map(_.getLong(1)).getOrElse(0L)
      assert(maxN > secondN, "the planted cell must be the unique hottest")
      val adcBefore = IncrementalVectors.adcSearch(spark, "ivs_split", queries)
        .localCheckpoint()
      val ivfBefore = IncrementalVectors.ivfSearch(spark, "ivs_split", queries)
        .localCheckpoint()
      // bound between the two: exactly the planted hot cell splits
      val splits = IncrementalVectors.splitHotCells(spark, "ivs_split", secondN)
      assert(splits.map(_._1) == Seq(hotCell.toInt),
        s"exactly the planted cell $hotCell must split (got $splits)")
      val after = IncrementalVectors.cellAudit(spark, "ivs_split")
        .localCheckpoint()
      val afterCells = after.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!afterCells.contains(hotCell),
        "the split parent must no longer hold rows")
      val (a, b) = splits.head._2
      assert(afterCells.contains(a.toLong) && afterCells.contains(b.toLong),
        s"both children must hold rows (occupancy: $afterCells)")
      assert(afterCells(a.toLong) + afterCells(b.toLong) == maxN,
        "children must hold exactly the parent's rows")
      assert(afterCells.values.max < maxN,
        "the max posting-list length must shrink — that is the point")
      // the searches cannot see the physical split
      sameRows(IncrementalVectors.adcSearch(spark, "ivs_split", queries),
        adcBefore, "ADC must be bit-equal across a cell split (codes untouched)")
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_split", queries),
        ivfBefore, "IVF must be bit-equal across a cell split (same candidates)")
      // ingestion after the split: new rows land under the frozen parent
      // ids, probes cover parent ∪ children — equal to a never-split store
      IncrementalVectors.appendDate(slice(2), "ivs_split", "d2")
      IncrementalVectors.initModel(aug, "ivs_ref")
      (0 until 3).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "ivs_ref", s"d$d"))
      sameRows(IncrementalVectors.ivfSearch(spark, "ivs_split", queries),
        IncrementalVectors.ivfSearch(spark, "ivs_ref", queries),
        "post-split ingestion must serve identically to a never-split store")
    } finally { dropStore("ivs_split"); dropStore("ivs_ref") }
  }

  test("compressed nomination never reads the cell store's float columns; candidates equal the float path's") {
    dropStore("ivs_rec")
    try {
      IncrementalVectors.initModel(emb, "ivs_rec")
      IncrementalVectors.appendDate(emb, "ivs_rec", "d0")
      // the compressed feed: SQ8 reconstructions of the same corpus
      val grid = SQ.stats(emb)
      val recon = SQ.reconstruct(SQ.encode(emb, grid), grid).localCheckpoint()
      val df = IncrementalVectors.ivfSearchReconstructed(
        spark, "ivs_rec", queries, recon, kNeighbors = 8)
      // THE PLAID claim, plan-pinned: the cells table is read for its
      // MEMBERSHIP only — the scan's output schema must be (cell, id)
      // (+ the ds partition column), never the inline float e/n columns
      // (string-matched: AQE wraps the tree, hiding scans from collect)
      val planStr = df.queryExecution.executedPlan.toString
      val cellScans = "ivs_rec_cells\\[([^\\]]*)\\]".r
        .findAllMatchIn(planStr).map(_.group(1)).toSeq
      assert(cellScans.nonEmpty,
        s"the membership scan must hit the cell store:\n${planStr.take(2000)}")
      cellScans.foreach { cols =>
        assert(!cols.matches(".*\\be#.*") && !cols.matches(".*\\bn#.*"),
          s"compressed nomination must not read float cell columns: $cols")
      }
      // shared probe/candidate machinery: with k past the candidate count
      // both paths return exactly the probed membership — same (qid, cid)
      // SET (scores differ by reconstruction error; candidates must not)
      val all = 1000000
      sameRows(
        IncrementalVectors.ivfSearchReconstructed(spark, "ivs_rec", queries,
          recon, kNeighbors = all).select("qid", "cid"),
        IncrementalVectors.ivfSearch(spark, "ivs_rec", queries,
          kNeighbors = all).select("qid", "cid"),
        "compressed and float nomination must score the same candidate set")
      // the cells/codes same-coverage contract fails LOUD, never a
      // silent recall hole: a code store lagging the cell store (here:
      // reconstructions covering only half the ids) names a missing id
      // instead of silently dropping it from nomination
      val lagging = recon.filter(col("id") < 100)
      val ex = intercept[Exception] {
        IncrementalVectors.ivfSearchReconstructed(
            spark, "ivs_rec", queries, lagging, kNeighbors = 8)
          .write.mode("overwrite").format("noop").save()
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
      assert(causes(ex).exists(_.contains("no SQ reconstruction")),
        s"expected the same-coverage raise_error, got: ${causes(ex).take(3)}")
    } finally dropStore("ivs_rec")
  }

  test("ADC never reshuffles the code store; IVF scan prunes to probed buckets") {
    dropStore("ivs_plan")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      IncrementalVectors.initModel(emb, "ivs_plan")
      IncrementalVectors.appendDate(emb, "ivs_plan", "all")
      // AQE off so executedPlan is a plain collectible tree
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the claim: raw store rows reach their (qid, id) aggregate with NO
      // exchange in between (the id-bucketed layout satisfies the
      // aggregate's distribution). The ranking window above it shuffles
      // only the already-aggregated query-bounded rows — that exchange is
      // the output contract, not a store reshuffle.
      def hasStoreScan(p: org.apache.spark.sql.execution.SparkPlan,
          suffix: String): Boolean =
        p.collect { case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table.endsWith(suffix)) => s
        }.nonEmpty
      def storeReshuffledBelowAgg(df: DataFrame, suffix: String): Boolean =
        df.queryExecution.executedPlan
          .collect {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
              if hasStoreScan(a, suffix) => a
          }
          .exists(_.collect { case e: ShuffleExchangeLike => e }
            .exists(hasStoreScan(_, suffix)))
      val adc = IncrementalVectors.adcSearch(spark, "ivs_plan", queries)
      assert(!storeReshuffledBelowAgg(adc, "_codes"),
        s"code store must never cross the wire:\n${adc.queryExecution.executedPlan}")
      // the plan is not trivially shuffle-free: the query-bounded ranking
      // window still exchanges the AGGREGATED (qid, id) rows
      assert(adc.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeLike => e }.nonEmpty)
      // a low-fanout query probes 2 cells → the cell-bucketed scan must
      // read a strict subset of the buckets
      val ivf = IncrementalVectors.ivfSearch(spark, "ivs_plan",
        emb.filter(col("vec_id") === 0), nProbe = 2)
      val scanStr = ivf.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(scanStr)
      assert(sel.isDefined, s"cells scan must bucket-prune:\n$scanStr")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"probed-cell IN filter selected every bucket:\n$scanStr")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      dropStore("ivs_plan")
    }
  }
}
