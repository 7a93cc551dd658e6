package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Pins for the store observability surface ([[StoreInventory]]): the
  * lagging-family detector fires on a hand-dropped date, stays silent
  * across retention folds (pre-horizon absences live under the `c_*`
  * label), and skips gen-rewritten families outright (an `r_*` label
  * makes absence unjudgeable from partitions). */
class StoreInventorySpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")

  private def build(tbl: String): Unit =
    (0 until 3).foreach { d =>
      val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
      IncrementalPostings.appendCountsBucketed(slice, tbl, s"d$d")
      IncrementalPostings.appendNorms(slice, tbl, s"d$d")
    }

  test("a hand-dropped date reads as lag in exactly that family; folds and gen labels do not") {
    val tbl = "inv_a"
    Seq(tbl, s"${tbl}_dl").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      build(tbl)
      val fams = Seq("tf" -> tbl, "norms" -> s"${tbl}_dl")
      assert(StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).isEmpty,
        "a healthy store must not lag")
      // the inventory counts partitions' rows
      val inv = StoreInventory.dates(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(inv.keySet.map(_._2) == Set("d0", "d1", "d2"))
      assert(inv.forall(_._2 > 0))

      // 1. a date dropped OUTSIDE the orchestrators = lag, named exactly
      spark.sql(s"ALTER TABLE ${tbl}_dl DROP PARTITION (ds='d1')")
      val lag = StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag == Set(("norms", "d1")), lag.toString)
      // restore it
      IncrementalPostings.appendNorms(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 1), tbl, "d1")
      assert(StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).isEmpty)

      // 2. a retention fold is NOT lag: tf's d0+d1 live under c_d1
      StoreMaintenance.compact(spark, TableLoc(tbl), "d1",
        merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
      assert(StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).isEmpty,
        "pre-horizon absences live under the consolidated label")
      // but a POST-horizon date dropped from the folded family still is
      spark.sql(s"ALTER TABLE $tbl DROP PARTITION (ds='d2')")
      val lag2 = StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag2 == Set(("tf", "d2")), lag2.toString)
      IncrementalPostings.appendCountsBucketed(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 2), tbl, "d2")

      // 3. a gen label (takedown rewrite) makes the family unjudgeable —
      // skipped, not flooded with false lag
      IncrementalPostings.deleteDocs(spark, tbl,
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"),
        gen = "inv_g1")
      // the delete rewrote BOTH tables to r_inv_g1: neither family has
      // plain dates to compare, so nothing lags
      assert(StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).isEmpty,
        "gen-rewritten families are skipped, not false-flagged")
    } finally Seq(tbl, s"${tbl}_dl").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ledger-keyed detector stays sharp through a gen rewrite: folded dates are credited, a hand-dropped post-rewrite date is named") {
    val tbl = "inv_l"
    val tmp = java.nio.file.Files.createTempDirectory("inv-ledger").toString
    val ledger = new graft.split.MarkerLedger(
      spark.sparkContext.hadoopConfiguration)
    def mark(d: String): Unit = ledger.writeMarker(s"$tmp/markers",
      graft.split.Marker("cur", d, "in", Nil, "t"))
    Seq(tbl, s"${tbl}_dl").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      // d0+d1 land and commit (marker times precede the rewrite's)
      (0 until 2).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        IncrementalPostings.appendCountsBucketed(slice, tbl, s"d$d")
        IncrementalPostings.appendNorms(slice, tbl, s"d$d")
        mark(s"d$d")
      }
      val fams = Seq("tf" -> tbl, "norms" -> s"${tbl}_dl")
      // a takedown rewrite folds EVERYTHING into r_invl_g1
      IncrementalPostings.deleteDocs(spark, tbl,
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"),
        gen = "invl_g1")
      // both committed dates predate the fold marker: credited, no lag
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty,
        "dates the gen rewrite consumed must be credited, not flagged")
      // d2 lands AFTER the rewrite and commits
      val s2 = docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
      IncrementalPostings.appendCountsBucketed(s2, tbl, "d2")
      IncrementalPostings.appendNorms(s2, tbl, "d2")
      mark("d2")
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty)
      // a post-rewrite date dropped OUTSIDE the orchestrator is named —
      // exactly where the partition-keyed missing() goes blind (the
      // family holds an r_* label, so it skips the family outright)
      spark.sql(s"ALTER TABLE ${tbl}_dl DROP PARTITION (ds='d2')")
      assert(StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).isEmpty,
        "partition-keyed detector is blind through a gen rewrite")
      val lag = StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))), s"$tmp/markers")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag == Set(("norms", "d2")), lag.toString)
      // an UNCOMMITTED rewrite (crashed: pending sentinel still
      // planted) earns no fold credit — the committed dates it would
      // have folded now flag instead of silently reading as consumed
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .location.toString
      val fsys = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sentinel = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc), "_fold_pending_r_invl_g1")
      val cmarker = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc), "_compact_r_invl_g1_done")
      fsys.create(sentinel, true).close()
      try {
        val lag2 = StoreInventory.missingVsLedger(spark,
          Seq(StoreInventory.Entry("tf", TableLoc(tbl))), s"$tmp/markers")
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(lag2 == Set(("tf", "d0"), ("tf", "d1")), lag2.toString)
        // …but sentinel + commit marker = a fold that crashed AFTER its
        // commit point — COMMITTED per consistentScan's resolution, so
        // the credit is retained (no mass false alarm on a crash window
        // whose serves read perfectly)
        fsys.create(cmarker, true).close()
        assert(StoreInventory.missingVsLedger(spark,
          Seq(StoreInventory.Entry("tf", TableLoc(tbl))), s"$tmp/markers").isEmpty,
          "a committed-but-uncleaned rewrite must keep its fold credit")
      } finally {
        fsys.delete(sentinel, false); fsys.delete(cmarker, false)
      }
      // a vanished table reports the explicit absent row
      spark.sql(s"DROP TABLE ${tbl}_dl")
      val lag3 = StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))), s"$tmp/markers")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag3.contains(("norms", "(absent)")), lag3.toString)
    } finally Seq(tbl, s"${tbl}_dl").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("retention expiry is not lag: the durable _expired_through record credits policy-dropped dates") {
    val tbl = "inv_x"
    val tmp = java.nio.file.Files.createTempDirectory("inv-expire").toString
    val ledger = new graft.split.MarkerLedger(
      spark.sparkContext.hadoopConfiguration)
    def mark(d: String): Unit = ledger.writeMarker(s"$tmp/markers",
      graft.split.Marker("cur", d, "in", Nil, "t"))
    Seq(tbl, s"${tbl}_dl").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      build(tbl)
      (0 until 3).foreach(d => mark(s"d$d"))
      val fams = Seq("tf" -> tbl, "norms" -> s"${tbl}_dl")
      // the q189 shape: fold to the horizon, then expire AT it — the
      // c_* credit vanishes WITH the dropped label, and only the
      // durable policy record keeps d0/d1 from flagging forever
      // (ADVICE r18: a --RETAIN + --LEDGER deployment must stay quiet)
      StoreMaintenance.compact(spark, TableLoc(tbl), "d1",
        merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
      StoreMaintenance.expire(spark, TableLoc(tbl), "d1")
      // the norms table expires its plain dates directly (no fold first)
      StoreMaintenance.expire(spark, TableLoc(s"${tbl}_dl"), "d1")
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty,
        "policy-expired dates must credit, not read as lag")
      // the curation fence sees the expiry too: a marker-deleted
      // reprocess of an expired date must refuse (resurrection)
      assert(StoreMaintenance.retentionHorizon(spark,
        Seq(tbl, s"${tbl}_dl").map(TableLoc)) == Some("d1"))
      // a NON-expired date hand-dropped afterwards still flags
      spark.sql(s"ALTER TABLE ${tbl}_dl DROP PARTITION (ds='d2')")
      val lag = StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))), s"$tmp/markers")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag == Set(("norms", "d2")), lag.toString)
    } finally Seq(tbl, s"${tbl}_dl").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("gen-label credit is exact via the fold sidecar; a sidecar-less legacy label falls back to inclusive mtime ordering") {
    val tbl = "inv_s"
    val tmp = java.nio.file.Files.createTempDirectory("inv-sidecar").toString
    val ledger = new graft.split.MarkerLedger(
      spark.sparkContext.hadoopConfiguration)
    def mark(d: String): Unit = ledger.writeMarker(s"$tmp/markers",
      graft.split.Marker("cur", d, "in", Nil, "t"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      (0 until 2).foreach { d =>
        IncrementalPostings.appendCountsBucketed(
          docs.filter(pmod(col("doc_id"), lit(3L)) === d), tbl, s"d$d")
        mark(s"d$d")
      }
      IncrementalPostings.deleteDocs(spark, tbl,
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"),
        gen = "invs_g1")
      val fams = Seq("tf" -> tbl)
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty, "sidecar names d0+d1 — credited")
      val hconf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
      val fsys = root.getFileSystem(hconf)
      val sidecar = new org.apache.hadoop.fs.Path(root,
        "_folded_set_r_invs_g1")
      assert(fsys.exists(sidecar), "the rewrite must record its coverage")
      // the exactness pin (ADVICE r18 low): commit a d2 marker whose
      // mtime LOOKS pre-rewrite (clock skew / coarse granularity) and
      // land no partition — the mtime rule would wrongly credit it;
      // the sidecar (which never names d2) must flag it
      val labelDir = new org.apache.hadoop.fs.Path(root, "ds=r_invs_g1")
      val foldAt = fsys.listStatus(labelDir)
        .map(_.getModificationTime).max
      mark("d2")
      val d2marker = new org.apache.hadoop.fs.Path(s"$tmp/markers/d2.json")
      val mfs = d2marker.getFileSystem(hconf)
      mfs.setTimes(d2marker, foldAt - 10000, -1)
      val lag = StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))), s"$tmp/markers")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag == Set(("tf", "d2")),
        s"the sidecar must beat a skewed marker mtime: $lag")
      // LEGACY label (pre-sidecar fold): remove the sidecar — the
      // detector falls back to mtime ordering, which credits d2 (the
      // documented fallback cost), and the comparison is INCLUSIVE: a
      // marker in the same mtime tick as the fold credits rather than
      // mass-false-alarming (coarse-granularity filesystems)
      fsys.delete(sidecar, false)
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty, "legacy fallback keeps mtime credit")
      mfs.setTimes(d2marker, foldAt, -1) // same tick exactly
      assert(StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))),
        s"$tmp/markers").isEmpty, "same-tick commit must credit (<=)")
      mfs.setTimes(d2marker, foldAt + 10000, -1) // clearly post-fold
      val lag2 = StoreInventory.missingVsLedger(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2))), s"$tmp/markers")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag2 == Set(("tf", "d2")), lag2.toString)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("an absent table surfaces as one explicit row, not as fully-lagging") {
    val tbl = "inv_b"
    Seq(tbl, s"${tbl}_dl").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      build(tbl)
      spark.sql(s"DROP TABLE ${tbl}_dl") // never created / dropped by hand
      val fams = Seq("tf" -> tbl, "norms" -> s"${tbl}_dl")
      // one dedicated row — not three per-date false-lag rows (ADVICE
      // r17: missing() and dates() must agree on whether a family exists)
      val lag = StoreInventory.missing(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(lag == Set(("norms", "(absent)")), lag.toString)
      val seen = StoreInventory.dates(spark, fams.map(f => StoreInventory.Entry(f._1, TableLoc(f._2)))).select("family")
        .distinct().collect().map(_.getString(0)).toSet
      assert(seen == Set("tf"), seen.toString)
    } finally Seq(tbl, s"${tbl}_dl").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
