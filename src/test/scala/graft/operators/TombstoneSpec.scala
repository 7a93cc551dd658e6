package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deletion propagation (tombstone passes) across the incremental store
  * families — the q160/q161/q162 oracle rows gate serve-level equality
  * with from-scratch-minus-docs; these tests pin the RETENTION property
  * (the doc's rows are physically GONE from every table, not masked at
  * read time) and the family-specific semantics the oracles can't see
  * (span-count subtraction, bridge-split re-clustering, continued
  * ingestion after a delete). */
class TombstoneSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private def tombDocs = docs.filter(pmod(col("doc_id"), lit(7L)) === 3)
    .select("doc_id")
  private def tombVecs = emb.filter(pmod(col("vec_id"), lit(7L)) === 3)
    .select("vec_id")

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)

  test("postings delete: rows gone from BOTH tables; serve equals a store never fed the docs") {
    val t = "tmb_post"; val ref = "tmb_post_ref"
    Seq(t, s"${t}_dl", ref, s"${ref}_dl")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      val kept = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
      (0 until 2).foreach { d =>
        def slice(src: DataFrame) =
          src.filter(pmod(col("doc_id"), lit(2L)) === d)
        IncrementalPostings.appendCountsBucketed(slice(docs), t, s"d$d")
        IncrementalPostings.appendNorms(slice(docs), t, s"d$d")
        IncrementalPostings.appendCountsBucketed(slice(kept), ref, s"d$d")
        IncrementalPostings.appendNorms(slice(kept), ref, s"d$d")
      }
      IncrementalPostings.deleteDocs(spark, t, tombDocs, gen = "del1")
      // RETENTION: zero tombstoned rows survive in either table
      assert(spark.table(t)
        .filter(pmod(col("doc_id"), lit(7L)) === 3).isEmpty,
        "tf rows must be physically gone")
      assert(spark.table(s"${t}_dl")
        .filter(pmod(col("doc_id"), lit(7L)) === 3).isEmpty,
        "norms rows must be physically gone")
      sameRows(IncrementalPostings.bm25Bucketed(spark, t, Seq("data", "query")),
        IncrementalPostings.bm25Bucketed(spark, ref, Seq("data", "query")),
        "post-delete serve must equal a store that never ingested the docs")
      // the delete fold must preserve the bucket layout: a lost spec
      // would silently turn every serve into a full store reshuffle —
      // the report still plans with zero hash exchanges on the store
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = IncrementalPostings.reportBucketed(spark, t)
          .queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
          s"post-delete store must not reshuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally Seq(t, s"${t}_dl", ref, s"${ref}_dl")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("band-store delete composes with continued ingestion") {
    Seq("tmb_bands", "tmb_bands_ref")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      val kept = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
      def ingest(table: String, src: DataFrame, dates: Range): Unit =
        dates.foreach { d =>
          IncrementalDedup.appendBandsBucketed(
            src.filter(pmod(col("doc_id"), lit(3L)) === d), table, s"d$d")
        }
      ingest("tmb_bands", docs, 0 until 2)
      IncrementalDedup.deleteDocs(spark, "tmb_bands", tombDocs, gen = "del1")
      assert(spark.table("tmb_bands")
        .filter(pmod(col("id"), lit(7L)) === 3).isEmpty,
        "band rows must be physically gone")
      // a NEW date lands after the delete; its pairs must equal those of a
      // store that never saw the tombstoned docs (a deleted doc can never
      // again surface as a candidate)
      ingest("tmb_bands", kept, 2 until 3)
      ingest("tmb_bands_ref", kept, 0 until 3)
      sameRows(
        IncrementalDedup.newPairsBucketed(spark, "tmb_bands", "d2", 0.2),
        IncrementalDedup.newPairsBucketed(spark, "tmb_bands_ref", "d2", 0.2),
        "day-3 pairs after a delete must equal the never-ingested run")
    } finally Seq("tmb_bands", "tmb_bands_ref")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("span-store delete SUBTRACTS the docs' window counts — a dup that existed only via the deleted doc stops reporting") {
    import spark.implicits._
    // doc 2 duplicates doc 1's single 8-token window; doc 3 is unrelated.
    // deleting doc 2 must drop the hash's count to 1 — doc 1's window is
    // no longer duplicated ANYWHERE, so its report shows zero dups.
    val t1 = "a b c d e f g h"
    val all = Seq((1L, t1), (2L, t1), (3L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("tmb-spans").toString
    val store = s"$tmp/spanstore"
    (0 until 2).foreach { d =>
      IncrementalSpans.appendCounts(
        all.filter(pmod(col("doc_id"), lit(2L)) === d), store, s"d$d")
    }
    val before = IncrementalSpans.report(all, store)
      .filter(col("doc_id") === 1L).head()
    assert(before.getLong(2) == 1L, s"doc 1's window must start dup: $before")
    IncrementalSpans.deleteDocs(all.filter(col("doc_id") === 2L), store,
      gen = "del1")
    val remaining = all.filter(col("doc_id") =!= 2L)
    val after = IncrementalSpans.report(remaining, store)
      .filter(col("doc_id") === 1L).head()
    assert(after.getLong(2) == 0L,
      s"the dup existed only via the deleted doc — must stop reporting: $after")
    // and the whole store equals one built over the remaining docs
    val ref = s"$tmp/refstore"
    (0 until 2).foreach { d =>
      IncrementalSpans.appendCounts(
        remaining.filter(pmod(col("doc_id"), lit(2L)) === d), ref, s"d$d")
    }
    sameRows(IncrementalSpans.report(remaining, store),
      IncrementalSpans.report(remaining, ref),
      "post-delete span store must equal a store never fed the doc")
  }

  test("vector-store delete: rows gone from codes AND cells; serves equal a never-ingested store (frozen models)") {
    def dropStore(base: String): Unit =
      Seq("_cb", "_ctr", "_ctr_next", "_codes", "_cells", "_map")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
    dropStore("tmb_vec"); dropStore("tmb_vec_ref")
    try {
      def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
      val keptEmb = emb.filter(pmod(col("vec_id"), lit(7L)) =!= 3)
      // both stores freeze models on the SAME full d0 slice — deletion
      // removes rows, not the models' fit (the documented contract)
      IncrementalVectors.initModel(slice(0), "tmb_vec")
      (0 until 3).foreach(d =>
        IncrementalVectors.appendDate(slice(d), "tmb_vec", s"d$d"))
      IncrementalVectors.deleteIds(spark, "tmb_vec", tombVecs, gen = "del1")
      Seq("tmb_vec_codes", "tmb_vec_cells").foreach(tab =>
        assert(spark.table(tab)
          .filter(pmod(col("id"), lit(7L)) === 3).isEmpty,
          s"$tab must hold no tombstoned rows"))
      IncrementalVectors.initModel(slice(0), "tmb_vec_ref")
      (0 until 3).foreach(d =>
        IncrementalVectors.appendDate(
          keptEmb.filter(pmod(col("vec_id"), lit(3L)) === d),
          "tmb_vec_ref", s"d$d"))
      val queries = emb.filter(col("vec_id") < 10)
      sameRows(IncrementalVectors.adcSearch(spark, "tmb_vec", queries),
        IncrementalVectors.adcSearch(spark, "tmb_vec_ref", queries),
        "post-delete ADC must equal the never-ingested store")
      sameRows(IncrementalVectors.ivfSearch(spark, "tmb_vec", queries),
        IncrementalVectors.ivfSearch(spark, "tmb_vec_ref", queries),
        "post-delete IVF must equal the never-ingested store")
    } finally { dropStore("tmb_vec"); dropStore("tmb_vec_ref") }
  }

  test("SQ8 and matryoshka deletes: rows gone, serves equal never-ingested stores") {
    def dropSq(base: String): Unit =
      Seq("_grid", "_grid_prev", "_codes").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
    def dropMat(base: String): Unit =
      Seq("_ctr", "_cells").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
    dropSq("tmb_sq"); dropSq("tmb_sq_ref")
    dropMat("tmb_mat"); dropMat("tmb_mat_ref")
    try {
      def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
      val keptEmb = emb.filter(pmod(col("vec_id"), lit(7L)) =!= 3)
      def keptSlice(d: Int) =
        keptEmb.filter(pmod(col("vec_id"), lit(3L)) === d)
      val queries = emb.filter(col("vec_id") < 10)
      IncrementalSQ.initGrid(slice(0), "tmb_sq")
      (0 until 3).foreach(d =>
        IncrementalSQ.appendDate(slice(d), "tmb_sq", s"d$d"))
      IncrementalSQ.deleteIds(spark, "tmb_sq", tombVecs, gen = "del1")
      assert(spark.table("tmb_sq_codes")
        .filter(pmod(col("id"), lit(7L)) === 3).isEmpty)
      IncrementalSQ.initGrid(slice(0), "tmb_sq_ref")
      (0 until 3).foreach(d =>
        IncrementalSQ.appendDate(keptSlice(d), "tmb_sq_ref", s"d$d"))
      sameRows(IncrementalSQ.search(spark, "tmb_sq", queries),
        IncrementalSQ.search(spark, "tmb_sq_ref", queries),
        "post-delete SQ8 serve must equal the never-ingested store")
      Matryoshka.initModel(slice(0), "tmb_mat")
      (0 until 3).foreach(d =>
        Matryoshka.appendDate(slice(d), "tmb_mat", s"d$d"))
      Matryoshka.deleteIds(spark, "tmb_mat", tombVecs, gen = "del1")
      assert(spark.table("tmb_mat_cells")
        .filter(pmod(col("id"), lit(7L)) === 3).isEmpty)
      Matryoshka.initModel(slice(0), "tmb_mat_ref")
      (0 until 3).foreach(d =>
        Matryoshka.appendDate(keptSlice(d), "tmb_mat_ref", s"d$d"))
      sameRows(Matryoshka.search(spark, "tmb_mat", queries),
        Matryoshka.search(spark, "tmb_mat_ref", queries),
        "post-delete matryoshka serve must equal the never-ingested store")
    } finally {
      dropSq("tmb_sq"); dropSq("tmb_sq_ref")
      dropMat("tmb_mat"); dropMat("tmb_mat_ref")
    }
  }

  test("clustering delete SPLITS a component whose only bridge is tombstoned") {
    import spark.implicits._
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    val v = (1 to 10).map(i => s"v$i").mkString(" ")
    val bridge = s"$w $v" // 3-gram Jaccard ≈ 0.44 to each side
    // {1,4} ~ w, {2,5} ~ v, doc 3 bridges the two clusters into one
    val all = Seq((1L, w), (2L, v), (4L, w), (5L, v), (3L, bridge))
      .toDF("doc_id", "text")
    val byDate = Map("d0" -> Seq(1L, 2L), "d1" -> Seq(4L, 5L),
      "d2" -> Seq(3L))
    val base = java.nio.file.Files.createTempDirectory("tmb-comp").toString
    val (sigs, labels, repmap, edges) =
      (s"$base/sigs", s"$base/labels", s"$base/repmap", s"$base/edges")
    Seq("d0", "d1", "d2").foreach { d =>
      IncrementalComponents.processDate(spark,
        all.filter(col("doc_id").isin(byDate(d): _*)), all,
        sigs, labels, repmap, d, threshold = 0.4,
        edgesPath = Some(edges))
    }
    val before = IncrementalComponents.currentLabels(spark, labels, repmap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L),
      s"the bridge must merge everything pre-delete, got $before")
    // the takedown removes the bridge: the merged component must SPLIT
    // back into {1,4} and {2,5} — exactly what label-row dropping alone
    // could never produce
    IncrementalComponents.deleteDocs(spark,
      Seq(3L).toDF("doc_id"), sigs, labels, repmap, edges, gen = "del1")
    val after = IncrementalComponents.currentLabels(spark, labels, repmap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after == Map(1L -> 1L, 4L -> 1L, 2L -> 2L, 5L -> 2L),
      s"deleting the bridge must split the component, got $after")
    // retention: the doc is gone from every table of the family
    assert(IncrementalDedup.loadSignatures(spark, sigs)
      .filter(col("id") === 3L).isEmpty, "signatures must be gone")
    assert(spark.read.parquet(edges)
      .filter(col("a_id") === 3L || col("b_id") === 3L).isEmpty,
      "edges must be gone")
    assert(IncrementalComponents.loadLabels(spark, labels)
      .filter(col("id") === 3L).isEmpty, "label rows must be gone")
    // deleting one side of a surviving pair afterwards: {1,4} clears too
    IncrementalComponents.deleteDocs(spark,
      Seq(4L).toDF("doc_id"), sigs, labels, repmap, edges, gen = "del2")
    val last = IncrementalComponents.currentLabels(spark, labels, repmap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(last == Map(2L -> 2L, 5L -> 2L),
      s"doc 1 must become an unclustered singleton, got $last")
  }

  test("mass-deletion path (large=true): same rows and serve as the broadcast path, and the anti-join never broadcasts") {
    val t = "tmb_large"; val ref = "tmb_large_ref"
    Seq(t, s"${t}_dl", ref, s"${ref}_dl")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      // a whole-source takedown: every doc of a 25%-of-corpus source set
      val pulled = docs
        .filter(col("source").isInCollection(Seq("src0", "src1", "src2",
          "src3", "src4")))
        .select("doc_id")
      (0 until 2).foreach { d =>
        def slice(src: DataFrame) =
          src.filter(pmod(col("doc_id"), lit(2L)) === d)
        IncrementalPostings.appendCountsBucketed(slice(docs), t, s"d$d")
        IncrementalPostings.appendNorms(slice(docs), t, s"d$d")
        IncrementalPostings.appendCountsBucketed(slice(docs), ref, s"d$d")
        IncrementalPostings.appendNorms(slice(docs), ref, s"d$d")
      }
      // the non-broadcast plan shape is the point: pin it on the
      // transform itself before running the pass
      val plan = StoreMaintenance.tombstoneLarge(pulled, "doc_id")(
        spark.table(t).drop("ds")).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
        !plan.contains("BroadcastExchange"),
        s"tombstoneLarge must never broadcast the key set:\n${plan.take(2000)}")
      // and never a shuffled-hash BUILD of the key set either: a hash
      // build cannot spill (the shape the retired MassProbe dev main
      // measured OOM-aborting under the 4 GiB ceiling on the two-level
      // pairing join) — the anti-join must be sort-merge, where both
      // sides spill
      assert(plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"tombstoneLarge must anti-join sort-merge (spillable):\n${plan.take(2000)}")
      IncrementalPostings.deleteDocs(spark, t, pulled, gen = "big1",
        large = true)
      IncrementalPostings.deleteDocs(spark, ref, pulled, gen = "big1")
      // bit-identical to the broadcast path, table by table
      sameRows(spark.table(t).drop("ds"), spark.table(ref).drop("ds"),
        "tf rows: large path must equal the broadcast path")
      sameRows(spark.table(s"${t}_dl").drop("ds"),
        spark.table(s"${ref}_dl").drop("ds"),
        "norms rows: large path must equal the broadcast path")
      sameRows(IncrementalPostings.bm25Bucketed(spark, t, Seq("data", "query")),
        IncrementalPostings.bm25Bucketed(spark, ref, Seq("data", "query")),
        "post-takedown serve must match")
    } finally Seq(t, s"${t}_dl", ref, s"${ref}_dl")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }
}
