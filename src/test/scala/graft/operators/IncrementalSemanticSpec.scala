package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalSemanticSpec extends SparkSpec {

  // the SimilaritySpec clustered fixture: 40 base directions × 5 noisy
  // copies — true near-dups are the intra-cluster pairs (cosine > 0.95)
  private def vec(base: Int, copy: Int): Array[Float] = {
    val r = new scala.util.Random(base)
    val b = Array.fill(64)(r.nextGaussian())
    val rn = new scala.util.Random(base * 1000 + copy + 1)
    b.map(x => (x + 0.02 * rn.nextGaussian()).toFloat)
  }

  private def fixture: DataFrame = {
    import spark.implicits._
    (for (b <- 0 until 40; c <- 0 until 5) yield (b * 5L + c, vec(b, c)))
      .toDF("vec_id", "embedding")
  }

  private def dropStore(base: String): Unit =
    Seq("_cfg", "_cfg_prev", "_bands", "_vecs", "_occ").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  test("incremental day-by-day union equals batch banding equals EXACT pairs; each pair surfaces once") {
    val df = fixture
    dropStore("ism_inc")
    try {
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_inc",
        horizonRows = df.count())
      val union = (0 until 3).map { d =>
        IncrementalSemantic.appendDate(
          df.filter(col("vec_id") % 3 === d), "ism_inc", s"d$d")
        IncrementalSemantic.newPairs(spark, "ism_inc", s"d$d", 0.95)
          .localCheckpoint()
      }.reduce(_ unionAll _)
      val exact = Similarity.cosineNearDup(df, 0.95)
      assert(exact.count() >= 400, "fixture must have real near-dup mass")
      sameRows(union, exact,
        "per-date store reports must union to the exact pair set")
      // exactly once: no pair may surface at two dates
      assert(union.groupBy("a_id", "b_id").count()
        .filter(col("count") > 1).isEmpty,
        "a pair must surface only when its later endpoint arrives")
      // AS-OF serve: d1's report against the store as it stood at d1
      // equals a store that never ingested d2 — d2's files are pruned,
      // not masked (the family's time-travel convention)
      dropStore("ism_inc_asof")
      try {
        IncrementalSemantic.initModel(
          df.filter(col("vec_id") % 3 === 0), "ism_inc_asof",
          horizonRows = df.count())
        (0 until 2).foreach(d => IncrementalSemantic.appendDate(
          df.filter(col("vec_id") % 3 === d), "ism_inc_asof", s"d$d"))
        sameRows(
          IncrementalSemantic.newPairs(spark, "ism_inc", "d1", 0.95,
            upTo = Some("d1")),
          IncrementalSemantic.newPairs(spark, "ism_inc_asof", "d1", 0.95),
          "as-of serve must equal a store that never saw the later date")
      } finally dropStore("ism_inc_asof")
    } finally dropStore("ism_inc")
  }

  test("the daily candidate join is exchange-free on both bucket-aligned sides") {
    val df = fixture
    dropStore("ism_plan")
    try {
      IncrementalSemantic.initModel(df, "ism_plan", horizonRows = 200L)
      IncrementalSemantic.appendDate(df, "ism_plan", "d0")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = IncrementalSemantic.newPairs(spark, "ism_plan", "d0", 0.95)
          .queryExecution.executedPlan.toString
        // the band-store self-join must be satisfied by the (band, bh)
        // bucketing; the only allowed hash exchanges are over the
        // CANDIDATE-mass-sized stream (its dedup + the two verification
        // key gathers = 3) — a reshuffle of either store table would
        // push the count past that
        val n = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(n <= 3, s"store tables must not reshuffle ($n exchanges):\n" +
          plan.take(3000))
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally dropStore("ism_plan")
  }

  test("frozen two-level config: forced engagement serves incremental == batch two-level == exact, each pair once") {
    val df = fixture
    dropStore("ism_two")
    try {
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_two",
        horizonRows = df.count(), twoLevel = Some(true))
      // the frozen config records BOTH laws' outputs
      val cfg = spark.table("ism_two_cfg").head()
      assert(cfg.getInt(3) == 2, "levels must freeze at 2 under forcing")
      val union = (0 until 3).map { d =>
        IncrementalSemantic.appendDate(
          df.filter(col("vec_id") % 3 === d), "ism_two", s"d$d")
        IncrementalSemantic.newPairs(spark, "ism_two", s"d$d", 0.95)
          .localCheckpoint()
      }.reduce(_ unionAll _)
      val exact = Similarity.cosineNearDup(df, 0.95)
      sameRows(union, exact,
        "two-level store reports must union to the exact pair set (recall 1.0)")
      assert(union.groupBy("a_id", "b_id").count()
        .filter(col("count") > 1).isEmpty, "each pair exactly once")
      sameRows(union,
        Similarity.cosineNearDupBanded(df, 0.95, twoLevel = Some(true)),
        "store union must equal the one-shot two-level batch run")
      // the composite store's daily join is still exchange-free on both
      // bucket-aligned sides (the single-level plan property, re-pinned
      // on the four-column key)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = IncrementalSemantic.newPairs(spark, "ism_two", "d0", 0.95)
          .queryExecution.executedPlan.toString
        val n = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(n <= 3, s"composite store tables must not reshuffle ($n):\n" +
          plan.take(3000))
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally dropStore("ism_two")
  }

  test("initModel freezes the engagement law at the horizon size and refuses forced single-level above it") {
    val df = fixture
    dropStore("ism_law")
    try {
      // auto-engagement at a 100 TB-ish horizon: levels freeze at 2
      IncrementalSemantic.initModel(df, "ism_law",
        horizonRows = Similarity.TwoLevelMinRows)
      assert(spark.table("ism_law_cfg").head().getInt(3) == 2,
        "horizon at the threshold must freeze two-level")
      // below the threshold: single-level (local corpora stay cheap)
      IncrementalSemantic.initModel(df, "ism_law", horizonRows = 200L)
      assert(spark.table("ism_law_cfg").head().getInt(3) == 1,
        "a small horizon must freeze single-level")
      // forcing single-level AT/ABOVE the threshold is refused — the
      // frozen config would lock the store into the quadratic regime
      val ex = intercept[IllegalArgumentException] {
        IncrementalSemantic.initModel(df, "ism_law",
          horizonRows = Similarity.TwoLevelMinRows, twoLevel = Some(false))
      }
      assert(ex.getMessage.contains("single-level refused"), ex.getMessage)
    } finally dropStore("ism_law")
  }

  test("re-band at a new horizon serves bit-equal to a from-scratch store at the new width") {
    import spark.implicits._
    val df = fixture
    dropStore("ism_rb"); dropStore("ism_rb_ref")
    try {
      // store frozen for a 16-row horizon (r = 4 — too coarse once the
      // corpus grows), two dates ingested
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_rb", horizonRows = 16L)
      (0 until 2).foreach(d => IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === d), "ism_rb", s"d$d"))
      // the drift audit runs on the frozen store (values pinned by q180's
      // oracle; here just the structural contract)
      val psi = IncrementalSemantic.bandDriftPsi(spark, "ism_rb", "d0")
      assert(psi.filter(col("ds") === "d0").head().getDouble(2) == 0.0,
        "d0 vs d0 must be identically zero")
      // ACT: re-band for the true corpus size (r = 8 at N = 200)
      IncrementalSemantic.rebandStore(spark, "ism_rb",
        newHorizonRows = df.count(), gen = "rb1")
      assert(spark.table("ism_rb_cfg").head().getInt(1) ==
        Similarity.derivedRowsPerBand(df.count(), 128),
        "the new width law must be frozen")
      assert(!spark.catalog.tableExists("ism_rb_cfg_prev"),
        "a completed re-band must drop its config snapshot")
      // ingestion continues at the new width; the day-3 report must be
      // bit-equal to a store that was ALWAYS at the new width
      IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === 2), "ism_rb", "d2")
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_rb_ref",
        horizonRows = df.count())
      (0 until 3).foreach(d => IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === d), "ism_rb_ref", s"d$d"))
      sameRows(IncrementalSemantic.newPairs(spark, "ism_rb", "d2", 0.95),
        IncrementalSemantic.newPairs(spark, "ism_rb_ref", "d2", 0.95),
        "the re-banded store must serve bit-equal to a from-scratch store")
      // a PENDING re-band fails appends and serves closed; the same-gen
      // re-run heals and unblocks
      spark.table("ism_rb_cfg").withColumn("gen", lit("rb2"))
        .withColumn("rNew",
          lit(Similarity.derivedRowsPerBand(df.count(), 128)))
        .write.mode("errorifexists").saveAsTable("ism_rb_cfg_prev")
      val exA = intercept[IllegalStateException] {
        IncrementalSemantic.appendDate(
          df.filter(col("vec_id") % 3 === 0), "ism_rb", "d9")
      }
      assert(exA.getMessage.contains("re-band"), exA.getMessage)
      val exS = intercept[IllegalStateException] {
        IncrementalSemantic.newPairs(spark, "ism_rb", "d2", 0.95)
      }
      assert(exS.getMessage.contains("re-band"), exS.getMessage)
      // deletion propagation fails closed in the same window (the guard
      // runs before any rewrite's first effect)
      val exD = intercept[IllegalStateException] {
        IncrementalSemantic.deleteIds(spark, "ism_rb",
          Seq(0L).toDF("id"), gen = "delpend")
      }
      assert(exD.getMessage.contains("re-band"), exD.getMessage)
      val exG = intercept[IllegalArgumentException] {
        IncrementalSemantic.rebandStore(spark, "ism_rb",
          newHorizonRows = df.count(), gen = "rb3")
      }
      assert(exG.getMessage.contains("rb2"), exG.getMessage)
      // the same-gen resume must also be same-HORIZON: a different width
      // would republish a config the committed band rows were not hashed
      // at (the snapshot stamps rNew alongside gen)
      val exH = intercept[IllegalArgumentException] {
        IncrementalSemantic.rebandStore(spark, "ism_rb",
          newHorizonRows = 16L, gen = "rb2")
      }
      assert(exH.getMessage.contains("SAME horizon"), exH.getMessage)
      IncrementalSemantic.rebandStore(spark, "ism_rb",
        newHorizonRows = df.count(), gen = "rb2")
      // the rb2 fold consumed per-date history (documented rewrite
      // semantics) — serve the generation label itself: the whole-store
      // self-report must equal the EXACT pair set (recall 1.0 at r = 8)
      sameRows(IncrementalSemantic.newPairs(spark, "ism_rb", "r_rb2", 0.95),
        Similarity.cosineNearDup(df, 0.95),
        "the healed store's full report must equal the exact pair set")
      // a horizon that would flip the level count is refused with the
      // re-init instruction (the rewrite cannot change the bucket spec)
      val exL = intercept[IllegalArgumentException] {
        IncrementalSemantic.rebandStore(spark, "ism_rb",
          newHorizonRows = Similarity.TwoLevelMinRows, gen = "rb4")
      }
      assert(exL.getMessage.contains("re-init"), exL.getMessage)
      // a REUSED gen with no pending re-band is refused BEFORE any
      // effect: the repeated-gen no-op would otherwise leave a freshly
      // published config over band rows hashed at the old width —
      // silently missing pairs forever
      val exR = intercept[IllegalArgumentException] {
        IncrementalSemantic.rebandStore(spark, "ism_rb",
          newHorizonRows = 16L, gen = "rb2")
      }
      assert(exR.getMessage.contains("already consumed"), exR.getMessage)
      assert(spark.table("ism_rb_cfg").head().getInt(1) ==
        Similarity.derivedRowsPerBand(df.count(), 128),
        "the refused re-band must not have touched the config")
      // the drift audit fails LOUD when its baseline was folded away
      // (the rb1/rb2 rewrites consumed d0) — a silent empty result would
      // blind the monitor that triggers re-bands in the first place
      val exB = intercept[IllegalArgumentException] {
        IncrementalSemantic.bandDriftPsi(spark, "ism_rb", "d0")
      }
      assert(exB.getMessage.contains("baseline"), exB.getMessage)
      // the generation label is the documented new baseline
      assert(IncrementalSemantic.bandDriftPsi(spark, "ism_rb", "r_rb2")
        .filter(col("ds") === "r_rb2").head().getDouble(2) == 0.0)
    } finally { dropStore("ism_rb"); dropStore("ism_rb_ref") }
  }

  test("the drift audit is summary-fed: occupancy equals a from-bands recomputation; both levels audit; band store never read") {
    val df = fixture
    dropStore("ism_occ")
    try {
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_occ",
        horizonRows = df.count(), twoLevel = Some(true))
      (0 until 3).foreach(d => IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === d), "ism_occ", s"d$d"))
      // the summary persisted at hash time equals the occupancy
      // recomputed from the b²-amplified composite band rows — the
      // store-sized de-dup the audit used to pay on every pass
      val bands = spark.table("ism_occ_bands")
      val recomputed = bands.select(col("ds"), lit(0).as("level"),
          col("band1").as("band"), col("bh1").as("bh"), col("id"))
        .unionAll(bands.select(col("ds"), lit(1).as("level"),
          col("band2").as("band"), col("bh2").as("bh"), col("id")))
        .distinct()
        .groupBy(col("ds"), col("level"), col("band"), col("bh"))
        .agg(count(lit(1)).as("n"))
      sameRows(
        spark.table("ism_occ_occ")
          .select(col("ds"), col("level"), col("band"), col("bh"), col("n")),
        recomputed,
        "the persisted occupancy summary must equal a from-bands recompute")
      // BOTH frozen signatures audit (drift can concentrate differently
      // per projection set); baseline vs itself is identically zero
      val psi = IncrementalSemantic.bandDriftPsiLevels(spark, "ism_occ", "d0")
        .collect()
      assert(psi.map(_.getInt(1)).toSet == Set(0, 1),
        "both levels must appear in the audit")
      assert(psi.filter(_.getString(0) == "d0").forall(_.getDouble(3) == 0.0),
        "d0 vs d0 must be identically zero at every level")
      // the audit never opens the band store: stronger than a plan
      // assert — it still serves with the band table GONE
      spark.sql("DROP TABLE ism_occ_bands")
      assert(IncrementalSemantic.bandDriftPsi(spark, "ism_occ", "d0")
        .count() == 3, "the audit must be fed by the summary alone")
    } finally dropStore("ism_occ")
  }

  test("store compaction composes with continued ingestion: day-3 pairs equal the uncompacted run") {
    val df = fixture
    dropStore("ism_cmp"); dropStore("ism_cmp_ref")
    try {
      def build(base: String, dates: Range): Unit = {
        if (!spark.catalog.tableExists(s"${base}_cfg"))
          IncrementalSemantic.initModel(
            df.filter(col("vec_id") % 3 === 0), base,
            horizonRows = df.count())
        dates.foreach(d => IncrementalSemantic.appendDate(
          df.filter(col("vec_id") % 3 === d), base, s"d$d"))
      }
      build("ism_cmp", 0 until 2)
      // band and vector rows are disjoint per (id, date) — no merge
      StoreMaintenance.compact(spark, TableLoc("ism_cmp_bands"), "d1")
      StoreMaintenance.compact(spark, TableLoc("ism_cmp_vecs"), "d1")
      build("ism_cmp", 2 until 3) // a NEW date lands after compaction
      build("ism_cmp_ref", 0 until 3)
      sameRows(IncrementalSemantic.newPairs(spark, "ism_cmp", "d2", 0.95),
        IncrementalSemantic.newPairs(spark, "ism_cmp_ref", "d2", 0.95),
        "day-3 pairs against a compacted store must equal the uncompacted run")
    } finally { dropStore("ism_cmp"); dropStore("ism_cmp_ref") }
  }

  test("the fixed-dimension contract is enforced at append: an over-long vector raise_errors, never truncates") {
    import spark.implicits._
    dropStore("ism_dim")
    try {
      val df64 = fixture
      IncrementalSemantic.initModel(df64, "ism_dim", horizonRows = 200L)
      // a later date with a LONGER vector: hashing it against the frozen
      // 64-dim planes would silently truncate its projection, making its
      // hashes incomparable with the batch path's — must fail loud
      val long = Seq((9999L, Array.fill(80)(0.1f))).toDF("vec_id", "embedding")
      val ex = intercept[Exception] {
        IncrementalSemantic.appendDate(long, "ism_dim", "d0")
      }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ causes(t.getCause)
      assert(causes(ex).exists(_.contains("fixed-dimension")),
        s"expected the dim-contract raise_error, got: ${causes(ex)}")
    } finally dropStore("ism_dim")
  }

  test("migrateStore: a level-flip horizon rebuilds a new store from the vector table, bit-equal to from-scratch") {
    val df = fixture
    Seq("ism_mig", "ism_mig2", "ism_mig_ref").foreach(dropStore)
    try {
      // a single-level store that must move to a two-level horizon
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_mig",
        horizonRows = df.count())
      (0 until 2).foreach(d => IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === d), "ism_mig", s"d$d"))
      // the in-place path refuses the flip (pinned in the re-band test);
      // the migration rebuilds from the store's OWN vector table
      IncrementalSemantic.migrateStore(spark, "ism_mig", "ism_mig2",
        newHorizonRows = Similarity.TwoLevelMinRows)
      assert(spark.table("ism_mig2_cfg").head().getInt(3) == 2,
        "the migrated store must freeze two-level at the new horizon")
      // reference: a from-scratch two-level store over the same slices
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_mig_ref",
        horizonRows = Similarity.TwoLevelMinRows)
      (0 until 2).foreach(d => IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === d), "ism_mig_ref", s"d$d"))
      (0 until 2).foreach(d => sameRows(
        IncrementalSemantic.newPairs(spark, "ism_mig2", s"d$d", 0.95),
        IncrementalSemantic.newPairs(spark, "ism_mig_ref", s"d$d", 0.95),
        s"migrated store must serve date d$d bit-equal to from-scratch"))
      // ingestion continues on the migrated store
      IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === 2), "ism_mig2", "d2")
      IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === 2), "ism_mig_ref", "d2")
      sameRows(
        IncrementalSemantic.newPairs(spark, "ism_mig2", "d2", 0.95),
        IncrementalSemantic.newPairs(spark, "ism_mig_ref", "d2", 0.95),
        "post-migration ingestion must serve bit-equal")
    } finally Seq("ism_mig", "ism_mig2", "ism_mig_ref").foreach(dropStore)
  }

  test("migrateStore resumes: copied dates skip untouched, half-copied dates heal, wrong-horizon resume and concurrent maintenance refuse") {
    val df = fixture
    Seq("ism_rmig", "ism_rmig2", "ism_rmig3", "ism_rmig_ref")
      .foreach(dropStore)
    try {
      IncrementalSemantic.initModel(
        df.filter(col("vec_id") % 3 === 0), "ism_rmig",
        horizonRows = df.count())
      (0 until 3).foreach(d => IncrementalSemantic.appendDate(
        df.filter(col("vec_id") % 3 === d), "ism_rmig", s"d$d"))
      // reference: a migration that never crashed
      IncrementalSemantic.migrateStore(spark, "ism_rmig", "ism_rmig_ref",
        newHorizonRows = Similarity.TwoLevelMinRows)
      // simulate the states a crash can leave in a second target: d1
      // never copied; d2 half-copied (its occ partition — appendDate's
      // TAIL write — missing); d0 fully copied
      IncrementalSemantic.migrateStore(spark, "ism_rmig", "ism_rmig2",
        newHorizonRows = Similarity.TwoLevelMinRows)
      Seq("bands", "vecs", "occ").foreach(t => spark.sql(
        s"ALTER TABLE ism_rmig2_$t DROP IF EXISTS PARTITION (ds='d1')"))
      spark.sql(
        "ALTER TABLE ism_rmig2_occ DROP IF EXISTS PARTITION (ds='d2')")
      def bandFilesD0(): Set[String] = {
        val root = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier("ism_rmig2_bands"))
            .location.toString, "ds=d0")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(root).map(_.getPath.getName).toSet
      }
      val d0Before = bandFilesD0()
      // a resume at a DIFFERENT horizon would freeze a model the
      // committed partial copy was not hashed at — refused
      val exH = intercept[IllegalArgumentException] {
        IncrementalSemantic.migrateStore(spark, "ism_rmig", "ism_rmig2",
          newHorizonRows = 16L)
      }
      assert(exH.getMessage.contains("resume refused"), exH.getMessage)
      // same-horizon resume heals: d1 recopied, d2's missing tail
      // recopied, d0 untouched (same physical files — nothing rewritten)
      IncrementalSemantic.migrateStore(spark, "ism_rmig", "ism_rmig2",
        newHorizonRows = Similarity.TwoLevelMinRows)
      assert(bandFilesD0() == d0Before,
        "a fully-copied date must be skipped, not rewritten")
      Seq("bands", "vecs", "occ").foreach(t => sameRows(
        spark.table(s"ism_rmig2_$t"), spark.table(s"ism_rmig_ref_$t"),
        s"resumed migration's $t must equal the never-crashed run"))
      (0 until 3).foreach(d => sameRows(
        IncrementalSemantic.newPairs(spark, "ism_rmig2", s"d$d", 0.95),
        IncrementalSemantic.newPairs(spark, "ism_rmig_ref", s"d$d", 0.95),
        s"resumed migration must serve d$d bit-equal"))
      // the FENCE is the maintenance lease on the source tables: while
      // any other maintenance pass holds it, a migration fails fast —
      // and the same held lease is exactly what a concurrent source
      // append checks, so appends cannot land mid-copy either
      val srcLoc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ism_rmig_vecs"))
        .location.toString
      StoreMaintenance.acquireLease(spark, srcLoc)
      try {
        val exM = intercept[IllegalStateException] {
          IncrementalSemantic.migrateStore(spark, "ism_rmig", "ism_rmig3",
            newHorizonRows = Similarity.TwoLevelMinRows)
        }
        assert(exM.getMessage.contains("lease"), exM.getMessage)
        val exA = intercept[IllegalStateException] {
          IncrementalSemantic.appendDate(
            df.filter(col("vec_id") % 3 === 0), "ism_rmig", "d9")
        }
        assert(exA.getMessage.contains("append rejected"), exA.getMessage)
      } finally StoreMaintenance.releaseLease(spark, srcLoc)
    } finally Seq("ism_rmig", "ism_rmig2", "ism_rmig3", "ism_rmig_ref")
      .foreach(dropStore)
  }

  test("deletion propagates: a tombstoned vector never surfaces again; ingestion continues — single- AND two-level") {
    import spark.implicits._
    val df = fixture
    // the shared delete contract must hold on BOTH band schemas (the
    // two-level store's composite rows anti-join on the same id key)
    Seq(None, Some(true)).foreach { twoLevel =>
      dropStore("ism_del")
      try {
        IncrementalSemantic.initModel(
          df.filter(col("vec_id") < 100), "ism_del",
          horizonRows = df.count(), twoLevel = twoLevel)
        IncrementalSemantic.appendDate(
          df.filter(col("vec_id") < 100), "ism_del", "d0")
        // take down cluster 0 entirely (ids 0-4)
        IncrementalSemantic.deleteIds(spark,
          "ism_del", (0L until 5L).toDF("vec_id"), gen = "del1")
        assert(spark.table("ism_del_bands").filter(col("id") < 5).isEmpty &&
          spark.table("ism_del_vecs").filter(col("id") < 5).isEmpty,
          s"tombstoned rows must be physically gone (twoLevel=$twoLevel)")
        // continued ingestion: the next date still pairs against survivors
        IncrementalSemantic.appendDate(
          df.filter(col("vec_id") >= 100), "ism_del", "d1")
        val got = IncrementalSemantic.newPairs(spark, "ism_del", "d1", 0.95)
        val want = Similarity.cosineNearDup(
          df.filter(col("vec_id") >= 5), 0.95)
          .filter(col("b_id") >= 100)
        sameRows(got, want,
          s"post-delete reports must equal survivor pairs (twoLevel=$twoLevel)")
      } finally dropStore("ism_del")
    }
  }
}
