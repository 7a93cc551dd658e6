package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Protocol pins for the ledger-driven takedown orchestrator
  * ([[TakedownJob]]): exactly-once effect across overlapping request
  * batches (the subtract family would double-unlearn without the
  * applied-batch dedupe), no-op re-run, marker-delete reprocess
  * no-opping through the deterministic-gen shield, mid-batch crash
  * resume bit-equal to a never-crashed run, and the empty-surviving-
  * batch skip (marker without rewrites). */
class TakedownJobSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")

  /** r0 ∪ r1 takedown predicate and its complement. */
  private val requested =
    pmod(col("doc_id"), lit(7L)) === 3 || pmod(col("doc_id"), lit(5L)) === 2

  private def buildStores(base: String, lm: String,
      source: DataFrame): Unit =
    (0 until 3).foreach { d =>
      val slice = source.filter(pmod(col("doc_id"), lit(3L)) === d)
      IncrementalPostings.appendCountsBucketed(slice, s"${base}_post", s"d$d")
      IncrementalPostings.appendNorms(slice, s"${base}_post", s"d$d")
      IncrementalLangModel.appendCounts(slice, lm, s"d$d")
    }

  private def stageRequests(tmp: String): Unit = {
    docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
      .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
    docs.filter(pmod(col("doc_id"), lit(5L)) === 2).select("doc_id")
      .write.mode("overwrite").parquet(s"$tmp/req/r1.parquet")
  }

  /** The two family shapes under test: an anti-join family (postings tf
    * + norms) and a subtract family (the NB model, unlearning from the
    * id→document semi-join). `failAt` arms ONE injected crash: the
    * subtract family throws at that batch's gen AFTER the postings
    * family already applied it — the half-applied batch the resume
    * contract exists for. */
  private def families(base: String, lm: String,
      failAt: Option[String] = None): Seq[TakedownFamily] = {
    var armed = failAt.isDefined
    Seq(
      TakedownFamily("postings", (ids, gen) =>
        IncrementalPostings.deleteDocs(spark, s"${base}_post", ids, gen)),
      TakedownFamily("langmodel", (ids, gen) => {
        if (armed && failAt.exists(gen.endsWith)) {
          armed = false
          throw new RuntimeException(s"injected mid-batch crash at $gen")
        }
        IncrementalLangModel.deleteDocs(
          docs.join(ids.select(col("id").as("doc_id")),
            Seq("doc_id"), "left_semi"), lm, gen)
      }, subtractive = true))
  }

  private def job(tmp: String, fams: Seq[TakedownFamily],
      dedupe: Boolean = true): TakedownJob =
    new TakedownJob(spark, TakedownConfig("td",
      s"$tmp/req", s"$tmp/markers", fams, dedupeAcrossDates = dedupe))

  private def dropStores(base: String): Unit =
    Seq("_post", "_post_dl").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  /** A postings store built from scratch over `source` (3 dates). */
  private def buildControl(base: String, source: DataFrame): Unit =
    (0 until 3).foreach { d =>
      val slice = source.filter(pmod(col("doc_id"), lit(3L)) === d)
      IncrementalPostings.appendCountsBucketed(slice, s"${base}_post", s"d$d")
      IncrementalPostings.appendNorms(slice, s"${base}_post", s"d$d")
    }

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  private def markerNames(tmp: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$tmp/markers")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  private def lmState(lm: String): (DataFrame, DataFrame) = {
    val (m, p) = IncrementalLangModel.model(spark, lm)
    (m.localCheckpoint(), p.localCheckpoint())
  }

  test("overlapping batches reach both families exactly once; re-run and marker-delete reprocess are no-op EFFECT") {
    val tmp = Files.createTempDirectory("takedown").toString
    val lm = s"$tmp/lm"; val lmRef = s"$tmp/lmref"
    dropStores("td_a"); dropStores("td_s")
    try {
      // the batches overlap by construction (doc_id ≡ 17 mod 35) — the
      // ids the subtract family would double-unlearn without the dedupe
      assert(docs.filter(pmod(col("doc_id"), lit(7L)) === 3 &&
        pmod(col("doc_id"), lit(5L)) === 2).count() > 0,
        "fixture must have cross-batch overlap ids")
      buildStores("td_a", lm, docs)
      stageRequests(tmp)
      val s1 = job(tmp, families("td_a", lm)).run()
      assert(s1.processedDates == Seq("r0", "r1"), s1.toString)
      assert(markerNames(tmp) == Set("r0.json", "r1.json"))
      // the dedupe visibly shrank the second batch
      val r1raw = spark.read.parquet(s"$tmp/req/r1.parquet").count()
      assert(s1.idsApplied("r1") < r1raw,
        s"overlap ids must be deduped from r1: $s1 vs raw $r1raw")

      // EXACTLY-ONCE: both serves equal stores built from scratch over
      // the survivors (a double-subtracted overlap id would corrupt the
      // model; a missed id would leave postings rows behind)
      buildStores("td_s", lmRef, docs.filter(!requested))
      val (m, p) = lmState(lm); val (mRef, pRef) = lmState(lmRef)
      sameRows(m, mRef, "unlearned tri counts must equal survivors-train")
      sameRows(p, pRef, "unlearned priors must equal survivors-train")
      sameRows(
        IncrementalPostings.bm25Bucketed(spark, "td_a_post", Seq("data", "query")),
        IncrementalPostings.bm25Bucketed(spark, "td_s_post", Seq("data", "query")),
        "post-takedown BM25 must equal the survivors-built store")

      // SECOND RUN IS A NO-OP: nothing missing, nothing touched
      val s2 = job(tmp, families("td_a", lm)).run()
      assert(s2.processedDates.isEmpty && s2.missingDates.isEmpty, s2.toString)
      val (m2, p2) = lmState(lm)
      sameRows(m2, m, "no-op run must not touch the model")
      sameRows(p2, p, "no-op run must not touch the priors")

      // MARKER-DELETE REPROCESS: the date re-runs, but the families'
      // deterministic-gen rewrites see their committed r_<gen> labels
      // and no-op — exactly-once EFFECT survives the golden semantics
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/markers/r1.json"), false)
      val s3 = job(tmp, families("td_a", lm)).run()
      assert(s3.processedDates == Seq("r1"), s3.toString)
      val (m3, p3) = lmState(lm)
      sameRows(m3, m, "reprocessed batch must not re-subtract the model")
      sameRows(p3, p, "reprocessed batch must not re-subtract the priors")
    } finally { dropStores("td_a"); dropStores("td_s") }
  }

  test("mid-batch crash (postings applied, model not, no marker) resumes bit-equal to a never-crashed run") {
    val tmp = Files.createTempDirectory("takedown-crash").toString
    val tmpRef = Files.createTempDirectory("takedown-ref").toString
    val lm = s"$tmp/lm"; val lmRef = s"$tmpRef/lm"
    dropStores("td_c"); dropStores("td_r")
    try {
      buildStores("td_c", lm, docs); buildStores("td_r", lmRef, docs)
      stageRequests(tmp); stageRequests(tmpRef)
      // first attempt dies at r0: postings already rewrote under
      // td_r0 when the subtract family throws — no marker
      val ex = intercept[RuntimeException] {
        job(tmp, families("td_c", lm, failAt = Some("r0"))).run()
      }
      assert(ex.getMessage.contains("injected"), ex.getMessage)
      assert(markerNames(tmp).isEmpty, "no marker for the crashed batch")
      // RESUME: r0 re-runs under the SAME gen — postings no-ops on its
      // committed label, the model applies fresh; r1 runs end to end
      val s2 = job(tmp, families("td_c", lm)).run()
      assert(s2.processedDates == Seq("r0", "r1"), s2.toString)
      // REFERENCE: a run that never crashed
      val sr = job(tmpRef, families("td_r", lmRef)).run()
      assert(sr.processedDates == Seq("r0", "r1"), sr.toString)
      val (m, p) = lmState(lm); val (mRef, pRef) = lmState(lmRef)
      sameRows(m, mRef, "resumed model must equal the never-crashed run")
      sameRows(p, pRef, "resumed priors must equal the never-crashed run")
      sameRows(
        IncrementalPostings.bm25Bucketed(spark, "td_c_post", Seq("data", "query")),
        IncrementalPostings.bm25Bucketed(spark, "td_r_post", Seq("data", "query")),
        "resumed postings serve must equal the never-crashed run")
    } finally { dropStores("td_c"); dropStores("td_r") }
  }

  test("takedown STICKS: a later ingestion date re-delivering a committed takedown id is suppressed before any append") {
    val tmp = Files.createTempDirectory("takedown-stick").toString
    dropStores("td_k")
    try {
      val fams = Seq(CurateFamily("post",
        append = (slice, d) => {
          IncrementalPostings.appendCountsBucketed(slice, "td_k_post", d)
          IncrementalPostings.appendNorms(slice, "td_k_post", d)
        },
        drop = (sp, d) => IncrementalStore.dropDate(sp,
          Seq("td_k_post", "td_k_post_dl").map(TableLoc), d)))
      val curateCfg = CurateConfig("cur", s"$tmp/in", s"$tmp/curmarkers",
        s"$tmp/reports", fams,
        suppressIds = sp =>
          TakedownJob.appliedIds(sp, s"$tmp/req", s"$tmp/tdmarkers"),
        suppressCol = "doc_id")
      // d0 lands while NO takedown is committed — the feed is None and
      // the full slice appends (the suppression must not filter on an
      // empty ledger)
      docs.filter(pmod(col("doc_id"), lit(3L)) === 0)
        .write.mode("overwrite").parquet(s"$tmp/in/d0.parquet")
      assert(TakedownJob.appliedIds(spark,
        s"$tmp/req", s"$tmp/tdmarkers").isEmpty)
      new CurateJob(spark, curateCfg).run()
      // takedown commits, then d1 RE-DELIVERS some taken-down ids
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      new TakedownJob(spark, TakedownConfig("td", s"$tmp/req",
        s"$tmp/tdmarkers", Seq(TakedownFamily("post", (ids, gen) =>
          IncrementalPostings.deleteDocs(spark, "td_k_post", ids, gen)))))
        .run()
      docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
        .write.mode("overwrite").parquet(s"$tmp/in/d1.parquet")
      assert(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0 &&
        pmod(col("doc_id"), lit(7L)) === 3).count() > 0,
        "fixture: d1 must re-deliver taken-down ids")
      new CurateJob(spark, curateCfg).run()
      // the store holds NO requested id — neither a d0 leftover (the
      // takedown) nor a d1 re-delivery (the suppression)
      val leaked = spark.table("td_k_post")
        .join(docs.filter(pmod(col("doc_id"), lit(7L)) === 3)
          .select("doc_id"), Seq("doc_id"), "left_semi")
      assert(leaked.isEmpty,
        "a committed takedown id must never re-enter the store")
      // and the survivors all made it: the store serves bit-equal to one
      // built from scratch over corpus-minus-requested
      buildControl("td_k2", docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3))
      sameRows(
        IncrementalPostings.bm25Bucketed(spark, "td_k_post", Seq("data", "query")),
        IncrementalPostings.bm25Bucketed(spark, "td_k2_post", Seq("data", "query")),
        "cycle store must equal the survivors-built store")
    } finally { dropStores("td_k"); dropStores("td_k2") }
  }

  test("an out-of-order batch refuses when a subtractive family is registered; anti-join-only configs process it") {
    val tmp = Files.createTempDirectory("takedown-order").toString
    val lm = s"$tmp/lm"
    dropStores("td_o")
    try {
      buildStores("td_o", lm, docs)
      // only r1 staged and committed first
      docs.filter(pmod(col("doc_id"), lit(5L)) === 2).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r1.parquet")
      val s1 = job(tmp, families("td_o", lm)).run()
      assert(s1.processedDates == Seq("r1"), s1.toString)
      // an OLDER batch appears (late-staged or marker-deleted — the
      // fence cannot distinguish, and a reprocess would re-subtract)
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/a0.parquet")
      val ex = intercept[IllegalStateException] {
        job(tmp, families("td_o", lm)).run()
      }
      assert(ex.getMessage.contains("a0") && ex.getMessage.contains("r1"),
        ex.getMessage)
      assert(!markerNames(tmp).contains("a0.json"),
        "the refused batch must not commit")
      // anti-join-only registration is immune — the same batch processes
      val s2 = job(tmp, Seq(TakedownFamily("postings", (ids, gen) =>
        IncrementalPostings.deleteDocs(spark, "td_o_post", ids, gen)))).run()
      assert(s2.processedDates == Seq("a0"), s2.toString)
    } finally dropStores("td_o")
  }

  test("a committed batch whose request file vanished fails LOUD where silence would re-admit or re-subtract") {
    val tmp = Files.createTempDirectory("takedown-gone").toString
    val lm = s"$tmp/lm"
    dropStores("td_g")
    try {
      buildStores("td_g", lm, docs)
      // commit r0, then age its request file out of the catalog
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val s1 = job(tmp, families("td_g", lm)).run()
      assert(s1.processedDates == Seq("r0"), s1.toString)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/req/r0.parquet"), true)
      // the suppression feed refuses — built without r0 it would
      // re-admit r0's documents on the next re-crawl
      val exFeed = intercept[IllegalStateException] {
        TakedownJob.appliedIds(spark, s"$tmp/req", s"$tmp/markers")
      }
      assert(exFeed.getMessage.contains("r0"), exFeed.getMessage)
      // a new batch with a SUBTRACT family registered refuses — the
      // cross-batch dedupe cannot be honored without r0's ids
      docs.filter(pmod(col("doc_id"), lit(5L)) === 2).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r1.parquet")
      val exRun = intercept[IllegalStateException] {
        job(tmp, families("td_g", lm)).run()
      }
      assert(exRun.getMessage.contains("r0"), exRun.getMessage)
      // anti-join-only registration proceeds (re-deleting is a no-op;
      // only the wasted-rewrite protection is lost)
      val s2 = job(tmp, Seq(TakedownFamily("postings", (ids, gen) =>
        IncrementalPostings.deleteDocs(spark, "td_g_post", ids, gen)))).run()
      assert(s2.processedDates == Seq("r1"), s2.toString)
    } finally dropStores("td_g")
  }

  test("a batch whose survivors dedupe to empty commits its marker without paying any rewrite") {
    val tmp = Files.createTempDirectory("takedown-empty").toString
    val lm = s"$tmp/lm"
    dropStores("td_e")
    try {
      buildStores("td_e", lm, docs)
      stageRequests(tmp)
      // r2 ⊂ r0: every id is already applied once r0/r1 commit
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3 &&
          pmod(col("doc_id"), lit(2L)) === 0).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r2.parquet")
      val s1 = job(tmp, families("td_e", lm)).run()
      assert(s1.processedDates == Seq("r0", "r1", "r2"), s1.toString)
      assert(s1.idsApplied("r2") == 0, s1.toString)
      assert(markerNames(tmp).contains("r2.json"),
        "an empty batch is DONE — it must commit its marker")
      // and it paid no rewrite: no r_td_r2 label partition exists
      val ds = spark.sql("SHOW PARTITIONS td_e_post").collect()
        .map(_.getString(0)).toSet
      assert(!ds.contains("ds=r_td_r2"),
        s"an empty batch must not rewrite the store: $ds")
    } finally dropStores("td_e")
  }

  test("dedupeAcrossDates=false with a subtractive family is refused at entry") {
    val tmp = Files.createTempDirectory("takedown-cfg").toString
    // the guard fires before any listing or IO — the config itself is
    // the corruption (a cross-batch re-requested id would subtract
    // twice), so no store needs to exist to observe the refusal
    val fams = Seq(TakedownFamily("langmodel", (_, _) => (),
      subtractive = true))
    val ex = intercept[IllegalArgumentException] {
      new TakedownJob(spark, TakedownConfig("td", s"$tmp/req",
        s"$tmp/markers", fams, dedupeAcrossDates = false)).run()
    }
    assert(ex.getMessage.contains("langmodel"), ex.getMessage)
  }
}
