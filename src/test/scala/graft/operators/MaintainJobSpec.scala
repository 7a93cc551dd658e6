package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Protocol pins for the maintenance-window orchestrator
  * ([[MaintainJob]]): a marker-present window is skipped wholesale
  * (zero maintenance invocations), a mid-window crash resumes to the
  * same post-fold state with every reader's view preserved, and a
  * resumed window's audit replaces — never duplicates — its own
  * partition. */
class MaintainJobSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")

  private def buildPost(tbl: String): Unit =
    (0 until 3).foreach { d =>
      IncrementalPostings.appendCountsBucketed(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), tbl, s"d$d")
    }

  private def postFamily(tbl: String, calls: java.util.concurrent.atomic.AtomicInteger): MaintainFamily =
    MaintainFamily("post",
      maintain = (sp, w) => {
        calls.incrementAndGet()
        StoreMaintenance.compact(sp, TableLoc(tbl), w,
          merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
      },
      audit = Some((sp, _) => sp.table(tbl)
        .agg(countDistinct(col("term")).as("n_terms"),
          countDistinct(col("doc_id")).as("n_docs"))))

  private def job(tmp: String, fams: Seq[MaintainFamily]): MaintainJob =
    new MaintainJob(spark, MaintainConfig("maint-test",
      s"$tmp/markers", s"$tmp/audits", fams))

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  test("a completed window is skipped wholesale; the fold preserves every reader's view; the audit lands once") {
    val tmp = Files.createTempDirectory("maintain").toString
    spark.sql("DROP TABLE IF EXISTS mnt_a")
    try {
      buildPost("mnt_a")
      val pre = IncrementalPostings.reportBucketed(spark, "mnt_a")
        .localCheckpoint()
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val fams = Seq(postFamily("mnt_a", calls))
      val s1 = job(tmp, fams).run("d1")
      assert(!s1.skipped && s1.maintained == Seq("post") &&
        s1.audited == Seq("post"), s1.toString)
      assert(calls.get() == 1)
      // the fold changed layout, not the report
      val ds = spark.sql("SHOW PARTITIONS mnt_a").collect()
        .map(_.getString(0)).toSet
      assert(ds == Set("ds=c_d1", "ds=d2"), ds.toString)
      sameRows(IncrementalPostings.reportBucketed(spark, "mnt_a"), pre,
        "maintenance must be invisible to readers")
      // the audit landed under its window partition, exactly once
      val audit = spark.read.parquet(s"$tmp/audits/post")
      assert(audit.count() == 1 &&
        audit.select("w").head().getString(0) == "d1", "one audit row at w=d1")
      // SECOND RUN IS A WHOLESALE SKIP: no lease, no listing, no fold
      val s2 = job(tmp, fams).run("d1")
      assert(s2.skipped && s2.maintained.isEmpty, s2.toString)
      assert(calls.get() == 1, "a completed window must not re-invoke maintenance")
    } finally spark.sql("DROP TABLE IF EXISTS mnt_a")
  }

  test("mid-window crash (first family folded, second threw, no marker) resumes to the same state; the audit replaces its partition") {
    val tmp = Files.createTempDirectory("maintain-crash").toString
    spark.sql("DROP TABLE IF EXISTS mnt_c")
    try {
      buildPost("mnt_c")
      val pre = IncrementalPostings.reportBucketed(spark, "mnt_c")
        .localCheckpoint()
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      var armed = true
      val bomb = MaintainFamily("bomb", maintain = (_, _) =>
        if (armed) { armed = false
          throw new RuntimeException("injected mid-window crash") })
      val fams = Seq(postFamily("mnt_c", calls), bomb)
      val ex = intercept[RuntimeException] { job(tmp, fams).run("d1") }
      assert(ex.getMessage.contains("injected"), ex.getMessage)
      // no marker — the window is still owed; the post fold already
      // committed its c_d1 label
      val s2 = job(tmp, fams).run("d1")
      assert(!s2.skipped && s2.maintained == Seq("post", "bomb"), s2.toString)
      assert(calls.get() == 2, "the resume re-invokes; the fold no-ops at its label")
      sameRows(IncrementalPostings.reportBucketed(spark, "mnt_c"), pre,
        "resumed window must preserve the report")
      // the resumed audit REPLACED its w=d1 partition (dynamic
      // overwrite) — one row, not two
      val audit = spark.read.parquet(s"$tmp/audits/post")
      assert(audit.count() == 1, s"audit must not duplicate: ${audit.count()}")
      // a LATER window composes: d2 has only one sibling (c_d1), so the
      // d2 horizon folds both into c_d2 and the report still holds
      val s3 = job(tmp, fams).run("d2")
      assert(!s3.skipped, s3.toString)
      sameRows(IncrementalPostings.reportBucketed(spark, "mnt_c"), pre,
        "a second window must also preserve the report")
      assert(spark.read.parquet(s"$tmp/audits/post").count() == 2,
        "each window keeps its own audit partition")
    } finally spark.sql("DROP TABLE IF EXISTS mnt_c")
  }

  test("retention in the window: compact-then-expire at the SAME label drops it whole; the resume is an idempotent no-op") {
    val tmp = Files.createTempDirectory("maintain-exp").toString
    spark.sql("DROP TABLE IF EXISTS mnt_e")
    try {
      buildPost("mnt_e")
      val keep = spark.table("mnt_e").filter(col("ds") === "d2")
        .drop("ds").localCheckpoint()
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      // the aligned-horizons discipline as code: fold to c_w, then
      // expire at cutoff w — the fresh label's content is provably ≤ w,
      // so the policy drops it whole (exact retention, nothing stranded)
      val fam = postFamily("mnt_e", calls).copy(
        expire = Some((sp, w) =>
          StoreMaintenance.expire(sp, TableLoc("mnt_e"), w)),
        audit = Some((sp, _) =>
          StoreInventory.dates(sp, Seq(StoreInventory.Entry("post", TableLoc("mnt_e"))))))
      val s1 = job(tmp, Seq(fam)).run("d1")
      assert(!s1.skipped && s1.expired == Map("post" -> Seq("c_d1")),
        s1.toString)
      val ds = spark.sql("SHOW PARTITIONS mnt_e").collect()
        .map(_.getString(0)).toSet
      assert(ds == Set("ds=d2"), ds.toString)
      sameRows(spark.table("mnt_e").drop("ds"), keep,
        "expiry must keep exactly the post-cutoff rows")
      // the audit ran AFTER expiry: oldest-held ≤ policy is assertable
      // from it (one surviving partition, d2)
      val audit = spark.read.parquet(s"$tmp/audits/post")
      assert(audit.select("ds").collect().map(_.getString(0)).toSet ==
        Set("d2"), "audit must describe the post-expiry store")
      // crash window: expiry done, marker lost — the resume's fold
      // no-ops (label expired, no pending sentinel), expiry finds
      // nothing at the cutoff, and the view is unchanged
      val p = new org.apache.hadoop.fs.Path(s"$tmp/markers/d1.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, false)
      val s2 = job(tmp, Seq(fam)).run("d1")
      assert(!s2.skipped && s2.expired == Map("post" -> Nil), s2.toString)
      sameRows(spark.table("mnt_e").drop("ds"), keep,
        "the resumed window must not touch surviving rows")
    } finally spark.sql("DROP TABLE IF EXISTS mnt_e")
  }
}
