package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Protocol pins for the ledger-driven curation orchestrator
  * ([[CurateJob]]): the split engine's golden marker semantics — no-op
  * re-run, marker-delete reprocess, missing-input skip — plus the
  * contract the generalization adds: a mid-date crash (some families
  * appended, no marker) resumes to a state bit-equal to a run that
  * never crashed. */
class CurateJobSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id").as("id"), col("text"))

  private def stageInputs(tmp: String): Unit =
    (0 until 3).foreach(d => docs.filter(pmod(col("id"), lit(3L)) === d)
      .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))

  /** Two registered families over a `base`-prefixed store set: the
    * MinHash band table (with an as-of day report) and the postings
    * tf + norms tables (append-only here). `failOnce` injects one
    * mid-date crash: the SECOND family throws at `failAt` after the
    * first already appended — the half-committed date the resume
    * contract exists for. */
  private def families(base: String,
      failAt: Option[String] = None): Seq[CurateFamily] = {
    var armed = failAt.isDefined
    Seq(
      CurateFamily("mh",
        append = (slice, d) => IncrementalDedup.appendBandsBucketed(
          slice.select(col("id").as("doc_id"), col("text")),
          s"${base}_mh", d),
        drop = (sp, d) =>
          IncrementalStore.dropDate(sp, Seq(TableLoc(s"${base}_mh")), d),
        report = Some((sp, d) => IncrementalDedup.newPairsBucketed(
          sp, s"${base}_mh", d, threshold = 0.2, upTo = Some(d))),
        exists = Some(sp => sp.catalog.tableExists(s"${base}_mh"))),
      CurateFamily("post",
        append = (slice, d) => {
          if (armed && failAt.contains(d)) {
            armed = false
            throw new RuntimeException(s"injected mid-date crash at $d")
          }
          IncrementalPostings.appendCountsBucketed(
            slice.select(col("id").as("doc_id"), col("text")),
            s"${base}_post", d)
          IncrementalPostings.appendNorms(
            slice.select(col("id").as("doc_id"), col("text")),
            s"${base}_post", d)
        },
        drop = (sp, d) => IncrementalStore.dropDate(sp,
          Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc), d)))
  }

  private def dropStores(base: String): Unit =
    Seq("_mh", "_post", "_post_dl").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def job(tmp: String, fams: Seq[CurateFamily]): CurateJob =
    new CurateJob(spark, CurateConfig("curate-test",
      s"$tmp/in", s"$tmp/markers", s"$tmp/reports", fams))

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  private def markerNames(tmp: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$tmp/markers")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  test("full run → markers + stores + reports; re-run no-op; marker delete reprocesses exactly that date") {
    val tmp = Files.createTempDirectory("curate").toString
    dropStores("cur_a")
    try {
      stageInputs(tmp)
      val fams = families("cur_a")
      val s1 = job(tmp, fams).run()
      assert(s1.processedDates == Seq("d0", "d1", "d2"), s1.toString)
      assert(markerNames(tmp) == Set("d0.json", "d1.json", "d2.json"))
      // every family's store holds all three dates
      Seq("cur_a_mh", "cur_a_post", "cur_a_post_dl").foreach { t =>
        val ds = spark.sql(s"SHOW PARTITIONS $t").collect()
          .map(_.getString(0)).toSet
        assert(ds == Set("ds=d0", "ds=d1", "ds=d2"), s"$t: $ds")
      }
      // the marker records the day's report outputs (commit-point doc)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val m1 = {
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$tmp/markers/d1.json"))
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      assert(m1.contains("reports/mh/ds=d1"), m1)

      val rep1 = spark.read.parquet(s"$tmp/reports/mh").localCheckpoint()
      assert(rep1.count() > 0, "the day reports must surface pairs")
      val store1 = spark.table("cur_a_mh").localCheckpoint()

      // SECOND RUN IS A NO-OP: nothing missing, nothing touched
      val s2 = job(tmp, fams).run()
      assert(s2.processedDates.isEmpty && s2.missingDates.isEmpty, s2.toString)
      sameRows(spark.table("cur_a_mh"), store1, "no-op run must not touch stores")
      sameRows(spark.read.parquet(s"$tmp/reports/mh"), rep1,
        "no-op run must not touch reports")

      // MARKER DELETE REPROCESSES EXACTLY THAT DATE (the split engine's
      // golden semantics) — and lands bit-equal state: the date is
      // dropped-then-re-appended, and its report is AS-OF the date
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/markers/d1.json"), false)
      val s3 = job(tmp, fams).run()
      assert(s3.processedDates == Seq("d1"), s3.toString)
      sameRows(spark.table("cur_a_mh"), store1,
        "reprocessed date must land identical store rows")
      sameRows(spark.read.parquet(s"$tmp/reports/mh"), rep1,
        "reprocessed date must land the identical as-of report")
    } finally dropStores("cur_a")
  }

  test("mid-date crash (some families appended, no marker) resumes bit-equal to a run that never crashed") {
    val tmp = Files.createTempDirectory("curate-crash").toString
    val tmpRef = Files.createTempDirectory("curate-ref").toString
    dropStores("cur_c"); dropStores("cur_r")
    try {
      stageInputs(tmp); stageInputs(tmpRef)
      // first attempt dies at d1: family "mh" has already appended d1
      // when "post" throws — d1 is half-committed, no marker
      val ex = intercept[RuntimeException] {
        job(tmp, families("cur_c", failAt = Some("d1"))).run()
      }
      assert(ex.getMessage.contains("injected"), ex.getMessage)
      assert(markerNames(tmp) == Set("d0.json"), "no marker for the crashed date")
      assert(spark.sql("SHOW PARTITIONS cur_c_mh").collect()
        .map(_.getString(0)).contains("ds=d1"),
        "the crash must leave a half-appended date to clean up")
      // RESUME: the same job re-lists, finds d1+d2 missing, and step 1's
      // drop-then-retry wipes the half-appended residue
      val s2 = job(tmp, families("cur_c")).run()
      assert(s2.processedDates == Seq("d1", "d2"), s2.toString)
      // REFERENCE: a run that never crashed
      val sr = job(tmpRef, families("cur_r")).run()
      assert(sr.processedDates == Seq("d0", "d1", "d2"), sr.toString)
      sameRows(spark.table("cur_c_mh"), spark.table("cur_r_mh"),
        "resumed band store must equal the never-crashed run")
      sameRows(spark.table("cur_c_post"), spark.table("cur_r_post"),
        "resumed tf store must equal the never-crashed run")
      sameRows(spark.table("cur_c_post_dl"), spark.table("cur_r_post_dl"),
        "resumed norms store must equal the never-crashed run")
      sameRows(spark.read.parquet(s"$tmp/reports/mh"),
        spark.read.parquet(s"$tmpRef/reports/mh"),
        "resumed reports must equal the never-crashed run")
    } finally { dropStores("cur_c"); dropStores("cur_r") }
  }

  test("a date consumed by a retention fold refuses to reprocess (the double-count fence); newer dates still reprocess") {
    val tmp = Files.createTempDirectory("curate-fold").toString
    dropStores("cur_f")
    try {
      stageInputs(tmp)
      // postings family with the fold-horizon hook wired
      val fams = Seq(CurateFamily("post",
        append = (slice, d) => {
          IncrementalPostings.appendCountsBucketed(
            slice.select(col("id").as("doc_id"), col("text")),
            "cur_f_post", d)
          IncrementalPostings.appendNorms(
            slice.select(col("id").as("doc_id"), col("text")),
            "cur_f_post", d)
        },
        drop = (sp, d) => IncrementalStore.dropDate(sp,
          Seq("cur_f_post", "cur_f_post_dl").map(TableLoc), d),
        foldedThrough = Some(sp => StoreMaintenance.foldHorizon(sp,
          Seq("cur_f_post", "cur_f_post_dl").map(TableLoc)))))
      val s1 = job(tmp, fams).run()
      assert(s1.processedDates == Seq("d0", "d1", "d2"), s1.toString)
      val pre = IncrementalPostings.reportBucketed(spark, "cur_f_post")
        .localCheckpoint()
      // retention consumes d0+d1
      StoreMaintenance.compact(spark, TableLoc("cur_f_post"), "d1",
        merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
      IncrementalPostings.compactNorms(spark, "cur_f_post", "d1")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      // deleting a FOLDED date's marker must refuse loud, not
      // double-count: the drop is a silent no-op against c_d1
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/markers/d1.json"), false)
      val ex = intercept[IllegalArgumentException] { job(tmp, fams).run() }
      assert(ex.getMessage.contains("retention-fold horizon d1") &&
        ex.getMessage.contains("post"), ex.getMessage)
      sameRows(IncrementalPostings.reportBucketed(spark, "cur_f_post"), pre,
        "the refused reprocess must not have touched the store")
      // the refusal is per-date: restore d1's marker (the fence's named
      // recovery — the fold output already contains the date) and a
      // POST-horizon date still reprocesses normally
      ledgerRestore(tmp, "d1")
      fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/markers/d2.json"), false)
      val s3 = job(tmp, fams).run()
      assert(s3.processedDates == Seq("d2"), s3.toString)
      sameRows(IncrementalPostings.reportBucketed(spark, "cur_f_post"), pre,
        "the post-horizon reprocess must land identical state")
    } finally dropStores("cur_f")
  }

  /** Re-write a marker for `date` (the restore path the fence's message
    * names — the fold output already contains the date). */
  private def ledgerRestore(tmp: String, date: String): Unit =
    new graft.split.MarkerLedger(spark.sparkContext.hadoopConfiguration)
      .writeMarker(s"$tmp/markers", graft.split.Marker(
        "curate-test", date, "restored", Seq.empty, "1970-01-01T00:00:00Z"))

  test("a date whose input object vanished after listing is warn-and-skip, never a marker") {
    val tmp = Files.createTempDirectory("curate-miss").toString
    dropStores("cur_m")
    try {
      stageInputs(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      // a family that deletes d2's input while d1 processes — the
      // discovered-then-gone window the reference hits as NoSuchKey (O7):
      // d2 was in the listed catalog but is gone by its own turn
      val trap = CurateFamily("trap",
        append = (_, _) => (),
        drop = (_, d) => if (d == "d1")
          fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/in/d2.parquet"), true))
      val s1 = job(tmp, families("cur_m") :+ trap).run()
      assert(s1.processedDates == Seq("d0", "d1"), s1.toString)
      assert(s1.skippedMissing == Seq("d2"), s1.toString)
      assert(markerNames(tmp) == Set("d0.json", "d1.json"),
        "a skipped date must never commit a marker")
    } finally dropStores("cur_m")
  }

  test("an all-suppressed date commits with its .empty flag; the ledger-keyed detector reads it as expected-absent; a non-empty reprocess heals") {
    val tmp = Files.createTempDirectory("curate-empty").toString
    dropStores("cur_e")
    try {
      (0 until 2).foreach(d => docs.filter(pmod(col("id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      // the suppression feed covers d1's ENTIRE slice — the re-crawl
      // case where every re-delivered id was already taken down
      var suppressAll = true
      val cfg = CurateConfig("curate-test", s"$tmp/in", s"$tmp/markers",
        s"$tmp/reports", families("cur_e"),
        suppressIds = sp => if (suppressAll)
          Some(docs.filter(pmod(col("id"), lit(3L)) === 1).select("id"))
        else None,
        suppressCol = "id")
      val s1 = new CurateJob(spark, cfg).run()
      assert(s1.processedDates == Seq("d0", "d1"), s1.toString)
      assert(markerNames(tmp) == Set("d0.json", "d1.json", "d1.empty"),
        markerNames(tmp).toString)
      // no store holds a d1 partition — and the ledger-keyed detector
      // stays SILENT (the flag says expected-absent, not lagging)
      val ds = spark.sql("SHOW PARTITIONS cur_e_post").collect()
        .map(_.getString(0)).toSet
      assert(ds == Set("ds=d0"), ds.toString)
      val fams = Seq("tf" -> "cur_e_post", "mh" -> "cur_e_mh")
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty,
        "an empty-flagged date must not read as lag")
      // marker-delete reprocess with the takedown disowned: d1 lands
      // for real and the stale flag is healed away
      val p = new org.apache.hadoop.fs.Path(s"$tmp/markers/d1.json")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, false)
      suppressAll = false
      val s2 = new CurateJob(spark, cfg).run()
      assert(s2.processedDates == Seq("d1"), s2.toString)
      assert(markerNames(tmp) == Set("d0.json", "d1.json"),
        markerNames(tmp).toString)
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty)
    } finally dropStores("cur_e")
  }

  test("an empty FIRST date on a brand-new store commits (reports skipped via the exists hook), and the next date lands normally") {
    val tmp = Files.createTempDirectory("curate-empty-first").toString
    dropStores("cur_ef")
    try {
      (0 until 2).foreach(d => docs.filter(pmod(col("id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      // the ADVICE r18 regression: d0's slice is ALL-suppressed (a
      // re-crawl of taken-down documents lands as the store's very
      // first date), so no append ever creates the backing tables —
      // the reporting family's day report must be SKIPPED, not crash
      // the run pre-marker with an AnalysisException
      var suppress: Option[DataFrame] =
        Some(docs.filter(pmod(col("id"), lit(3L)) === 0).select("id"))
      val cfg = CurateConfig("curate-test", s"$tmp/in", s"$tmp/markers",
        s"$tmp/reports", families("cur_ef"),
        suppressIds = _ => suppress, suppressCol = "id")
      val s1 = new CurateJob(spark, cfg).run()
      assert(s1.processedDates == Seq("d0", "d1"), s1.toString)
      assert(markerNames(tmp) == Set("d0.json", "d0.empty", "d1.json"),
        markerNames(tmp).toString)
      // d1 (non-empty) created the stores and RAN its report; d0's was
      // skipped — the markers' outputs lists record exactly that (the
      // report frame itself is empty here, so no ds= dir materializes)
      def markerOutputs(d: String): String = {
        val p = new org.apache.hadoop.fs.Path(s"$tmp/markers/$d.json")
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .open(p)
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      assert(markerOutputs("d0").contains("\"outputs\": []"),
        s"the empty first date has no state to report on: ${markerOutputs("d0")}")
      assert(markerOutputs("d1").contains("/reports/mh/ds=d1"),
        s"the non-empty date's report must run: ${markerOutputs("d1")}")
      val ds = spark.sql("SHOW PARTITIONS cur_ef_mh").collect()
        .map(_.getString(0)).toSet
      assert(ds == Set("ds=d1"), ds.toString)
      // the detector reads d0 as expected-absent (the .empty flag)
      val fams = Seq("tf" -> "cur_ef_post", "mh" -> "cur_ef_mh")
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty,
        "an empty-flagged first date must not read as lag")
      // and once the store EXISTS, a later empty date still reports
      // (as-of that date): d2 all-suppressed on the now-created store
      suppress = Some(docs.filter(pmod(col("id"), lit(3L)) === 2)
        .select("id"))
      docs.filter(pmod(col("id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val s2 = new CurateJob(spark, cfg).run()
      assert(s2.processedDates == Seq("d2"), s2.toString)
      assert(markerOutputs("d2").contains("/reports/mh/ds=d2"),
        s"an empty date on an EXISTING store keeps its report: ${markerOutputs("d2")}")
    } finally dropStores("cur_ef")
  }
}
