package graft.operators

import graft.{OpsMain, SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pins for the operational CLI ([[graft.OpsMain]]): one
  * temp catalog driven through curate → maintain → takedown → curate
  * (re-crawl, suppressed) → inventory with every job configured from
  * FLAGS ALONE (`main` is the exact spark-submit surface — in-process
  * it adopts the active session and must not stop it), plus the loud
  * config refusals the registry adds (uninitialized semantic store
  * without SEM_HORIZON; half-specified suppression feed). */
class OpsMainSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val corpus = docs.select(col("doc_id"), col("text"))
    .join(Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")),
      col("doc_id") === col("vec_id"))
    .select(col("doc_id").as("id"), col("text"), col("embedding"))

  private val allTbls = Seq("_post", "_post_dl", "_mh", "_sem_cfg",
    "_sem_bands", "_sem_vecs", "_sem_occ")

  private def drop(base: String): Unit =
    allTbls.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $base$s"))

  test("the triad runs from flags alone: curate, maintain, takedown, re-crawl suppressed, ledger inventory") {
    val tmp = Files.createTempDirectory("opsmain").toString
    val base = "opsm_a"
    drop(base)
    try {
      val horizon = corpus.count()
      def curArgs(extra: String*): Array[String] = (Seq(
        "--JOB", "curate", "--STORE", base,
        "--FAMILIES", "postings,minhash,semantic",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers",
        "--SEM_HORIZON", horizon.toString) ++ extra).toArray

      // ingest d0+d1 (semantic store init-on-demand at d0)
      (0 until 2).foreach(d => corpus.filter(pmod(col("id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val c1 = OpsMain.run(curArgs(), spark)
      assert(c1.contains(""""processed":["d0","d1"]""") &&
        c1.contains(""""suppression_feed":true"""), c1)
      assert(spark.catalog.tableExists(s"${base}_sem_cfg"),
        "first curate run must init the semantic model")
      // re-run is a no-op (ledger)
      assert(OpsMain.run(curArgs(), spark).contains(""""processed":[]"""))
      // day reports landed per family (possibly empty — this corpus
      // plants no clones; q181/q190 gate report CONTENT via the oracle)
      Seq("minhash", "semantic").foreach(f => assert(
        new java.io.File(s"$tmp/reports/$f").isDirectory,
        s"day-report dir for $f"))

      // maintenance window at d1: postings+minhash fold, semantic audits
      val m1 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "postings,minhash,semantic", "--WINDOW", "d1",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"),
        spark)
      assert(m1.contains(""""skipped":false""") &&
        m1.contains(""""audited":["postings","semantic"]"""), m1)
      val post = spark.sql(s"SHOW PARTITIONS ${base}_post").collect()
        .map(_.getString(0)).toSet
      assert(post == Set("ds=c_d1"), post.toString)
      assert(spark.read.parquet(s"$tmp/audits/semantic")
        .filter(col("psi").isNotNull).count() > 0, "drift audit rows")

      // takedown %7=3 across all three families (gen rewrite folds c_d1)
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val t1 = OpsMain.run(Array("--JOB", "takedown", "--STORE", base,
        "--FAMILIES", "postings,minhash,semantic",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"),
        spark)
      assert(t1.contains(""""processed":["r0"]"""), t1)
      assert(spark.sql(s"SHOW PARTITIONS ${base}_mh").collect()
        .map(_.getString(0)).toSet == Set("ds=r_td_r0"))

      // d2 re-delivers taken-down ids — the feed suppresses them
      corpus.filter(pmod(col("id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val c2 = OpsMain.run(curArgs(), spark)
      assert(c2.contains(""""processed":["d2"]"""), c2)
      val reAdmitted = spark.table(s"${base}_sem_vecs")
        .filter(pmod(col("id"), lit(7L)) === 3).count()
      assert(reAdmitted == 0, s"suppression must hold: $reAdmitted")

      // ledger-keyed inventory: healthy through the gen rewrite…
      val invArgs = Array("--JOB", "inventory", "--STORE", base,
        "--FAMILIES", "postings,minhash,semantic",
        "--LEDGER", s"$tmp/curmarkers")
      val i1 = OpsMain.run(invArgs, spark)
      assert(i1.contains(""""detector":"ledger"""") &&
        i1.contains(""""missing":[]"""), i1)
      // …and sharp when a post-rewrite date is dropped by hand
      spark.sql(s"ALTER TABLE ${base}_mh DROP PARTITION (ds='d2')")
      val i2 = OpsMain.run(invArgs, spark)
      assert(i2.contains("""{"family":"minhash_bands","ds":"d2"}"""), i2)

      // main() is drivable in-process: adopts the session, prints, and
      // leaves it running (the spark-submit path stops only what it made)
      OpsMain.main(invArgs)
      assert(!spark.sparkContext.isStopped,
        "main must not stop an adopted session")
    } finally drop(base)
  }

  test("vectors family from flags: VEC_CELLS refusal, triad wiring, and the armed policy's crash-window resume") {
    val tmp = Files.createTempDirectory("opsmain-vec").toString
    val base = "opsm_v"
    val vtbls = Seq("_vec_cb", "_vec_ctr", "_vec_ctr_next", "_vec_codes",
      "_vec_cells", "_vec_map")
    def dropV(): Unit =
      vtbls.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $base$s"))
    dropV()
    try {
      (0 until 2).foreach(d => corpus.filter(pmod(col("id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      // the frozen-capacity law: an uninitialized vector store refuses
      // to curate without a declared cell count
      val ex = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "curate", "--STORE", base,
          "--FAMILIES", "vectors", "--IN", s"$tmp/in",
          "--MARKERS", s"$tmp/m0", "--REPORTS", s"$tmp/r0"), spark)
      }
      assert(ex.getMessage.contains("VEC_CELLS"), ex.getMessage)

      val curArgs = Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "vectors", "--VEC_CELLS", "16",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports")
      val c1 = OpsMain.run(curArgs, spark)
      assert(c1.contains(""""processed":["d0","d1"]"""), c1)
      assert(spark.catalog.tableExists(s"${base}_vec_cb") &&
        spark.catalog.tableExists(s"${base}_vec_ctr"),
        "first curate run must init the frozen models")

      // audit-only window: occupancy + drift rows land; policy unarmed
      val m1 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "vectors", "--WINDOW", "w0",
        "--M_MARKERS", s"$tmp/mm", "--AUDITS", s"$tmp/audits"), spark)
      assert(m1.contains(""""audited":["vectors"]"""), m1)
      val audit = spark.read.parquet(s"$tmp/audits/vectors")
      assert(audit.filter(col("kind") === "occ").count() > 0, "occ rows")
      assert(audit.filter(col("kind") === "psi").count() > 0, "psi rows")
      // ledger inventory covers the vec tables
      val i1 = OpsMain.run(Array("--JOB", "inventory", "--STORE", base,
        "--FAMILIES", "vectors", "--LEDGER", s"$tmp/curmarkers"), spark)
      assert(i1.contains(""""family":"vectors_codes"""") &&
        i1.contains(""""missing":[]"""), i1)

      // CRASH WINDOW 1 — refit staged, rewrite never started (the
      // stage()-then-die state): appends fail closed; the armed window
      // RESUMES the same gen to completion instead of wedging
      spark.table(s"${base}_vec_ctr").withColumn("gen", lit("policy_w1"))
        .write.saveAsTable(s"${base}_vec_ctr_next")
      corpus.filter(pmod(col("id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val exA = intercept[IllegalStateException] {
        OpsMain.run(curArgs, spark)
      }
      assert(exA.getMessage.contains("refit"), exA.getMessage)
      val m2 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "vectors", "--WINDOW", "w1",
        "--VEC_PSI_REFIT", "999", // bar can't fire — only the resume can
        "--M_MARKERS", s"$tmp/mm", "--AUDITS", s"$tmp/audits"), spark)
      assert(m2.contains(""""skipped":false"""), m2)
      assert(!spark.catalog.tableExists(s"${base}_vec_ctr_next"),
        "the window must resume and retire the staged model")
      val parts = spark.sql(s"SHOW PARTITIONS ${base}_vec_cells").collect()
        .map(_.getString(0)).toSet
      assert(parts == Set("ds=r_policy_w1"), parts.toString)

      // CRASH WINDOW 2 — rewrite committed, model swap lost (the state
      // where per-date PSI reads EMPTY, so only the unconditional
      // same-gen resume can unwedge): plant the staged model again on
      // the already-folded store and re-run the window under a FRESH
      // marker dir (the committed w1 marker would skip it wholesale)
      spark.table(s"${base}_vec_ctr").withColumn("gen", lit("policy_w1"))
        .write.saveAsTable(s"${base}_vec_ctr_next")
      val m3 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "vectors", "--WINDOW", "w1",
        "--VEC_PSI_REFIT", "999",
        "--M_MARKERS", s"$tmp/mm2", "--AUDITS", s"$tmp/audits"), spark)
      assert(m3.contains(""""skipped":false"""), m3)
      assert(!spark.catalog.tableExists(s"${base}_vec_ctr_next"),
        "a committed-rewrite crash must still resume to the model swap")
      // the store is unwedged: the queued date curates normally
      val c2 = OpsMain.run(curArgs, spark)
      assert(c2.contains(""""processed":["d2"]"""), c2)
    } finally dropV()
  }

  test("path families from flags: STORE_DIR/CORPUS refusals, aged-out text refusal, and path-store inventory") {
    val tmp = Files.createTempDirectory("opsmain-path").toString
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    (0 until 2).foreach(d => docs.filter(pmod(col("doc_id"), lit(3L)) === d)
      .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))

    // path-backed families refuse to run without a store root
    val ex = intercept[IllegalArgumentException] {
      OpsMain.run(Array("--JOB", "curate", "--STORE", "u",
        "--FAMILIES", "spans", "--ID_COL", "doc_id",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/m0",
        "--REPORTS", s"$tmp/r0"), spark)
    }
    assert(ex.getMessage.contains("STORE_DIR"), ex.getMessage)

    val c1 = OpsMain.run(Array("--JOB", "curate", "--STORE", "u",
      "--FAMILIES", "spans,components", "--STORE_DIR", s"$tmp/store",
      "--ID_COL", "doc_id", "--IN", s"$tmp/in",
      "--MARKERS", s"$tmp/curmarkers", "--REPORTS", s"$tmp/reports"),
      spark)
    assert(c1.contains(""""processed":["d0","d1"]"""), c1)

    // inventory covers the path stores; the detectors judge only the
    // marker-implied subset (components' labels/edges skip
    // no-new-cluster dates by design)
    val inv = OpsMain.run(Array("--JOB", "inventory", "--STORE", "u",
      "--FAMILIES", "spans,components", "--STORE_DIR", s"$tmp/store",
      "--LEDGER", s"$tmp/curmarkers"), spark)
    assert(inv.contains(""""family":"spans_counts"""") &&
      inv.contains(""""family":"components_sigs"""") &&
      inv.contains(""""missing":[]"""), inv)
    // a hand-dropped date in a PATH store is named by the detector
    val fsys = new org.apache.hadoop.fs.Path(s"$tmp/store")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(
      s"$tmp/store/components_sigs/ds=d1"), true)
    val inv2 = OpsMain.run(Array("--JOB", "inventory", "--STORE", "u",
      "--FAMILIES", "components", "--STORE_DIR", s"$tmp/store",
      "--LEDGER", s"$tmp/curmarkers"), spark)
    assert(inv2.contains("""{"family":"components_sigs","ds":"d1"}"""),
      inv2)

    // spans takedown refuses without the corpus catalog…
    docs.filter(pmod(col("doc_id"), lit(7L)) === 3)
      .filter(pmod(col("doc_id"), lit(3L)) < 2).select("doc_id")
      .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
    val ex2 = intercept[IllegalArgumentException] {
      OpsMain.run(Array("--JOB", "takedown", "--STORE", "u",
        "--FAMILIES", "spans", "--STORE_DIR", s"$tmp/store",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdm"), spark)
    }
    assert(ex2.getMessage.contains("CORPUS"), ex2.getMessage)
    // …and FAILS LOUD when a requested id's text aged out of it
    fsys.delete(new org.apache.hadoop.fs.Path(s"$tmp/in/d1.parquet"), true)
    val ex3 = intercept[IllegalArgumentException] {
      OpsMain.run(Array("--JOB", "takedown", "--STORE", "u",
        "--FAMILIES", "spans", "--STORE_DIR", s"$tmp/store",
        "--ID_COL", "doc_id", "--CORPUS", s"$tmp/in",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdm"), spark)
    }
    assert(ex3.getMessage.contains("aged-out") ||
      ex3.getMessage.contains("have texts"), ex3.getMessage)
  }

  test("index families from flags: sq8 init-on-demand, matryoshka width-from-model, maxsim doc→token takedown, langmodel unlearn wiring") {
    val tmp = Files.createTempDirectory("opsmain-idx").toString
    val base = "opsm_i"
    val itbls = Seq("_sq_grid", "_sq_grid_prev", "_sq_codes",
      "_mat_ctr", "_mat_cells", "_tok_cb", "_tok_ctr", "_tok_ctr_next",
      "_tok_codes", "_tok_cells", "_tok_map")
    def dropI(): Unit =
      itbls.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $base$s"))
    dropI()
    try {
      val emb = Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))
      (0 until 2).foreach(d => emb.filter(pmod(col("vec_id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))

      // sq8: NO capacity flag — the grid has no size hyperparameter, so
      // init-on-demand must succeed bare (contrast: vectors/semantic)
      val c1 = OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "sq8", "--ID_COL", "vec_id",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/sqm",
        "--REPORTS", s"$tmp/sqr"), spark)
      assert(c1.contains(""""processed":["d0","d1"]"""), c1)
      assert(spark.catalog.tableExists(s"${base}_sq_grid"),
        "first curate run must init the frozen grid")

      // matryoshka: the frozen-shape law — refuse without MAT_CELLS…
      val exM = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "curate", "--STORE", base,
          "--FAMILIES", "matryoshka", "--ID_COL", "vec_id",
          "--IN", s"$tmp/in", "--MARKERS", s"$tmp/mm0",
          "--REPORTS", s"$tmp/mr0"), spark)
      }
      assert(exM.getMessage.contains("MAT_CELLS"), exM.getMessage)
      // …then init at d0 and append d1 under a WRONG --MAT_PDIM: the
      // width must come FROM the persisted centroids (16), so d1's
      // assignment equals a hand assignment at the true width
      val matArgs = (pd: String) => Array("--JOB", "curate",
        "--STORE", base, "--FAMILIES", "matryoshka",
        "--ID_COL", "vec_id", "--MAT_CELLS", "8", "--MAT_PDIM", pd,
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/matm",
        "--REPORTS", s"$tmp/matr")
      emb.filter(pmod(col("vec_id"), lit(3L)) === 0).limit(200)
        .write.mode("overwrite").parquet(s"$tmp/in/d0.parquet")
      val cM0 = OpsMain.run(matArgs("16"), spark)
      assert(cM0.contains(""""processed":["d0","d1"]"""), cM0)
      // marker-delete reprocess of d1 ONLY, under the mismatched flag
      spark.sql(s"ALTER TABLE ${base}_mat_cells DROP PARTITION (ds='d1')")
      val mfs = new org.apache.hadoop.fs.Path(s"$tmp/matm")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      mfs.delete(new org.apache.hadoop.fs.Path(s"$tmp/matm/d1.json"), false)
      val cM1 = OpsMain.run(matArgs("32"), spark) // mismatched later flag
      assert(cM1.contains(""""processed":["d1"]"""), cM1)
      val d1Slice = emb.filter(pmod(col("vec_id"), lit(3L)) === 1)
      val expected = KMeans.assign(
        d1Slice.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding")),
        spark.table(s"${base}_mat_ctr"))
        .select(col("id"), col("cid").as("cell"))
      val got = spark.table(s"${base}_mat_cells")
        .filter(col("ds") === "d1").select(col("id"), col("cell"))
      assert(got.exceptAll(expected).isEmpty &&
        expected.exceptAll(got).isEmpty,
        "a mismatched --MAT_PDIM must not change the assignment — the " +
          "width is derived from the persisted centroid table")

      // maxsim: the VEC_CELLS law applies to the token store too…
      val exT = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "curate", "--STORE", base,
          "--FAMILIES", "maxsim", "--ID_COL", "vec_id",
          "--IN", s"$tmp/in", "--MARKERS", s"$tmp/tm0",
          "--REPORTS", s"$tmp/tr0"), spark)
      }
      assert(exT.getMessage.contains("VEC_CELLS"), exT.getMessage)
      val cT = OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "maxsim", "--ID_COL", "vec_id",
        "--VEC_CELLS", "8",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/tokm",
        "--REPORTS", s"$tmp/tokr"), spark)
      assert(cT.contains(""""processed":["d0","d1"]"""), cT)
      // …and takedown expands DOC ids to the 8 token ids each: doc 2
      // owns token ids 16–23; nothing else may go
      val before = spark.table(s"${base}_tok_cells")
        .select(col("id")).collect().map(_.getLong(0)).toSet
      spark.range(2, 3).select(col("id").as("doc"))
        .write.mode("overwrite").parquet(s"$tmp/tokreq/r0.parquet")
      val tT = OpsMain.run(Array("--JOB", "takedown", "--STORE", base,
        "--FAMILIES", "maxsim", "--TOKENS_PER_DOC", "8",
        "--REQUESTS", s"$tmp/tokreq", "--TD_MARKERS", s"$tmp/toktdm"),
        spark)
      assert(tT.contains(""""processed":["r0"]"""), tT)
      val after = spark.table(s"${base}_tok_cells")
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(after == before.filterNot(i => i >= 16 && i < 24),
        s"doc 2 must lose exactly token ids 16–23: " +
          s"removed=${(before -- after).toSeq.sorted}")

      // langmodel: path-backed (STORE_DIR refusal) and subtractive
      // (CORPUS refusal); the triad itself is oracle-gated as q196
      val docs = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      (0 until 2).foreach(d =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/lmin/d$d.parquet"))
      val exL = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "curate",
          "--FAMILIES", "langmodel", "--ID_COL", "doc_id",
          "--IN", s"$tmp/lmin", "--MARKERS", s"$tmp/lm0",
          "--REPORTS", s"$tmp/lr0"), spark)
      }
      assert(exL.getMessage.contains("STORE_DIR"), exL.getMessage)
      val cL = OpsMain.run(Array("--JOB", "curate",
        "--FAMILIES", "langmodel", "--STORE_DIR", s"$tmp/lmstore",
        "--ID_COL", "doc_id",
        "--IN", s"$tmp/lmin", "--MARKERS", s"$tmp/lmm",
        "--REPORTS", s"$tmp/lmr"), spark)
      assert(cL.contains(""""processed":["d0","d1"]"""), cL)
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3)
        .filter(pmod(col("doc_id"), lit(3L)) < 2).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/lmreq/r0.parquet")
      val exL2 = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "takedown",
          "--FAMILIES", "langmodel", "--STORE_DIR", s"$tmp/lmstore",
          "--REQUESTS", s"$tmp/lmreq", "--TD_MARKERS", s"$tmp/lmtdm"),
          spark)
      }
      assert(exL2.getMessage.contains("CORPUS"), exL2.getMessage)
      val tL = OpsMain.run(Array("--JOB", "takedown",
        "--FAMILIES", "langmodel", "--STORE_DIR", s"$tmp/lmstore",
        "--ID_COL", "doc_id", "--CORPUS", s"$tmp/lmin",
        "--REQUESTS", s"$tmp/lmreq", "--TD_MARKERS", s"$tmp/lmtdm"),
        spark)
      assert(tL.contains(""""processed":["r0"]"""), tL)

      // one inventory line covers all four new families' stores
      val inv = OpsMain.run(Array("--JOB", "inventory", "--STORE", base,
        "--FAMILIES", "sq8,matryoshka,maxsim,langmodel",
        "--STORE_DIR", s"$tmp/lmstore"), spark)
      assert(inv.contains(""""family":"sq8_codes"""") &&
        inv.contains(""""family":"matryoshka_cells"""") &&
        inv.contains(""""family":"maxsim_cells"""") &&
        inv.contains(""""family":"langmodel_tri""""), inv)
    } finally dropI()
  }

  test("semantic re-band policy from flags: act on outgrown width, converge after acting, resume a crashed re-band") {
    val tmp = Files.createTempDirectory("opsmain-sem").toString
    val base = "opsm_s"
    val stbls = Seq("_sem_cfg", "_sem_cfg_prev", "_sem_bands",
      "_sem_vecs", "_sem_occ")
    def dropS(): Unit =
      stbls.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $base$s"))
    dropS()
    try {
      (0 until 2).foreach(d => corpus.filter(pmod(col("id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      // freeze the banding model at a DELIBERATELY outgrown horizon:
      // 100 rows -> r = 7 while the real corpus derives a wider band
      val c1 = OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "semantic", "--SEM_HORIZON", "100",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports"), spark)
      assert(c1.contains(""""processed":["d0","d1"]"""), c1)
      val rFrozen = spark.table(s"${base}_sem_cfg").head().getInt(1)
      assert(rFrozen == 7, s"100-row horizon must freeze r=7, got $rFrozen")

      // the armed window: PSI over the bar AND an outgrown width -> act
      val m1 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "semantic", "--WINDOW", "w0",
        "--SEM_PSI_REBAND", "0.0",
        "--M_MARKERS", s"$tmp/mm", "--AUDITS", s"$tmp/audits"), spark)
      assert(m1.contains(""""skipped":false"""), m1)
      val parts1 = spark.sql(s"SHOW PARTITIONS ${base}_sem_bands")
        .collect().map(_.getString(0)).toSet
      assert(parts1 == Set("ds=r_policy_w0"), parts1.toString)
      val n = spark.table(s"${base}_sem_vecs").count()
      val nPlanes = spark.table(s"${base}_sem_cfg").head().getInt(0)
      val rNow = spark.table(s"${base}_sem_cfg").head().getInt(1)
      assert(rNow == Similarity.derivedRowsPerBand(n, nPlanes) &&
        rNow != rFrozen,
        s"the act must re-band at the store's true size: r=$rNow")

      // CONVERGENCE: a re-run of the acted window (fresh marker dir)
      // re-anchors its PSI on the r_* baseline and cannot re-fire
      val m2 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "semantic", "--WINDOW", "w0",
        "--SEM_PSI_REBAND", "0.0",
        "--M_MARKERS", s"$tmp/mm2", "--AUDITS", s"$tmp/audits"), spark)
      assert(m2.contains(""""skipped":false"""), m2)
      assert(spark.sql(s"SHOW PARTITIONS ${base}_sem_bands").collect()
        .map(_.getString(0)).toSet == Set("ds=r_policy_w0"),
        "an acted window must not thrash")

      // WIDTH-UNCHANGED BREACH (library level, own store): a config
      // frozen at the store's TRUE size still sees per-date PSI — the
      // slices differ — but the width law derives the same r, so the
      // policy must return a logged decision and touch nothing (a
      // re-band at the same width changes nothing)
      val base2 = "opsm_s2"
      val s2tbls = Seq("_sem_cfg", "_sem_bands", "_sem_vecs", "_sem_occ")
      s2tbls.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $base2$x"))
      try {
        val embAll = corpus.select(col("id").as("vec_id"), col("embedding"))
        IncrementalSemantic.initModel(
          embAll.filter(pmod(col("vec_id"), lit(2L)) === 0),
          s"${base2}_sem", horizonRows = embAll.count())
        (0 until 2).foreach(d => IncrementalSemantic.appendDate(
          embAll.filter(pmod(col("vec_id"), lit(2L)) === d),
          s"${base2}_sem", s"d$d"))
        val acts = IncrementalSemantic.maintainPolicy(spark,
          s"${base2}_sem", "wx", psiReband = Some(0.0))
        assert(acts.exists(_.startsWith("detect(")) &&
          !acts.exists(_.startsWith("reband(")),
          s"same-width breach must detect without acting: $acts")
        assert(spark.sql(s"SHOW PARTITIONS ${base2}_sem_bands").collect()
          .map(_.getString(0)).toSet == Set("ds=d0", "ds=d1"),
          "width-unchanged decision must leave the store untouched")
      } finally s2tbls.foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS $base2$x"))

      // CRASH WINDOW: a staged _cfg_prev from this window's crashed
      // re-band wedges every mutation AND the PSI audit — the armed
      // window must resume the SAME gen unconditionally, before
      // consulting PSI (the bar is unreachable: only the resume can run)
      spark.table(s"${base}_sem_cfg")
        .withColumn("gen", lit("policy_w1"))
        .withColumn("rNew", lit(rNow))
        .write.saveAsTable(s"${base}_sem_cfg_prev")
      val m3 = OpsMain.run(Array("--JOB", "maintain", "--STORE", base,
        "--FAMILIES", "semantic", "--WINDOW", "w1",
        "--SEM_PSI_REBAND", "999",
        "--M_MARKERS", s"$tmp/mm", "--AUDITS", s"$tmp/audits"), spark)
      assert(m3.contains(""""skipped":false"""), m3)
      assert(!spark.catalog.tableExists(s"${base}_sem_cfg_prev"),
        "the window must resume and retire the staged config")
      assert(spark.sql(s"SHOW PARTITIONS ${base}_sem_bands").collect()
        .map(_.getString(0)).toSet == Set("ds=r_policy_w1"),
        "the resume must complete the crashed re-band's fold")
      // the store is unwedged: the next date curates normally
      corpus.filter(pmod(col("id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val c2 = OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "semantic", "--SEM_HORIZON", "100",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports"), spark)
      assert(c2.contains(""""processed":["d2"]"""), c2)
    } finally dropS()
  }

  test("the retention fence from flags: a marker-deleted date at or before the fold horizon refuses, for a table family and a path family") {
    val tmp = Files.createTempDirectory("opsmain-fence").toString
    val base = "opsm_f"
    drop(base)
    try {
      val docs = Tables.load(spark, sf, "documents")
        .select(col("doc_id").as("id"), col("text"))
      (0 until 2).foreach(d => docs.filter(pmod(col("id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      Seq("postings", "spans").foreach { fam =>
        val common = Seq("--STORE", base, "--FAMILIES", fam,
          "--STORE_DIR", s"$tmp/store")
        def curate(): String = OpsMain.run((Seq("--JOB", "curate") ++
          common ++ Seq("--IN", s"$tmp/in", "--MARKERS", s"$tmp/$fam/cm",
            "--REPORTS", s"$tmp/$fam/r")).toArray, spark)
        val c1 = curate()
        assert(c1.contains(""""processed":["d0","d1"]"""), c1)
        val m1 = OpsMain.run((Seq("--JOB", "maintain") ++ common ++
          Seq("--WINDOW", "d1", "--M_MARKERS", s"$tmp/$fam/mm",
            "--AUDITS", s"$tmp/$fam/a")).toArray, spark)
        assert(m1.contains(""""skipped":false"""), m1)
        // d0 was folded into c_d1: deleting its marker must refuse the
        // reprocess (the drop would no-op and the append double-count)
        new java.io.File(s"$tmp/$fam/cm/d0.json").delete()
        val ex = intercept[IllegalArgumentException](curate())
        assert(ex.getMessage.contains("retention-fold horizon d1") &&
          ex.getMessage.contains(s"family $fam"), ex.getMessage)
      }
    } finally drop(base)
  }

  test("loud refusals: semantic without SEM_HORIZON; half a suppression feed") {
    val tmp = Files.createTempDirectory("opsmain-cfg").toString
    val base = "opsm_b"
    drop(base)
    try {
      corpus.filter(pmod(col("id"), lit(3L)) === 0).limit(50)
        .write.mode("overwrite").parquet(s"$tmp/in/d0.parquet")
      val ex = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "curate", "--STORE", base,
          "--FAMILIES", "semantic", "--IN", s"$tmp/in",
          "--MARKERS", s"$tmp/m", "--REPORTS", s"$tmp/r"), spark)
      }
      assert(ex.getMessage.contains("SEM_HORIZON"), ex.getMessage)
      val ex2 = intercept[IllegalArgumentException] {
        OpsMain.run(Array("--JOB", "curate", "--STORE", base,
          "--FAMILIES", "postings", "--IN", s"$tmp/in",
          "--MARKERS", s"$tmp/m", "--REPORTS", s"$tmp/r",
          "--REQUESTS", s"$tmp/req"), spark)
      }
      assert(ex2.getMessage.contains("TD_MARKERS"), ex2.getMessage)
    } finally drop(base)
  }
}
