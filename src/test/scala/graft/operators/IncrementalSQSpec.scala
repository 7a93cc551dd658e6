package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

class IncrementalSQSpec extends SparkSpec {

  private lazy val emb = graft.Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def slice(d: Int) =
    emb.filter(pmod(col("vec_id"), lit(3L)) === d)
  private def queries = emb.filter(col("vec_id") < 10)

  private def dropStore(base: String): Unit =
    Seq("_grid", "_grid_prev", "_codes").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))

  private def bitEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("incremental date appends equal a one-shot encode under the same frozen grid") {
    dropStore("isq_inc")
    try {
      IncrementalSQ.initGrid(slice(0), "isq_inc")
      (0 until 3).foreach(d =>
        IncrementalSQ.appendDate(slice(d), "isq_inc", s"d$d"))
      val got = IncrementalSQ.search(spark, "isq_inc", queries)
      // from-scratch with the SAME frozen grid (trained on slice 0 only)
      val grid = SQ.stats(slice(0))
      val want = SQ.search(queries,
        SQ.reconstruct(SQ.encode(emb, grid), grid))
      assert(want.count() > 0)
      assert(bitEqual(got, want),
        "store-served must equal the one-shot frozen-grid pipeline")
      // and the stored codes themselves are bit-equal to the one-shot encode
      val codes = spark.table("isq_inc_codes").select("id", "dim", "code")
      assert(bitEqual(codes, SQ.encode(emb, grid)))
    } finally dropStore("isq_inc")
  }

  test("components outside the frozen grid's range saturate into [0, 255]") {
    import spark.implicits._
    // grid trained on [0,1]-ish vectors; a later date 10× outside the range
    val init = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val drifted = Seq((3L, Array(-10.0f, 10.0f))).toDF("vec_id", "embedding")
    dropStore("isq_sat")
    try {
      IncrementalSQ.initGrid(init, "isq_sat")
      IncrementalSQ.appendDate(init, "isq_sat", "d0")
      IncrementalSQ.appendDate(drifted, "isq_sat", "d1")
      val codes = spark.table("isq_sat_codes")
        .select("id", "dim", "code").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
      assert(codes.values.forall(c => c >= 0 && c <= 255),
        s"codes must saturate: $codes")
      assert(codes((3L, 0)) == 0 && codes((3L, 1)) == 255,
        s"out-of-range components clamp to the grid edges: $codes")
      // re-running a date after a drop is the documented retry path
      IncrementalSQ.dropDate(spark, "isq_sat", "d1")
      IncrementalSQ.appendDate(drifted, "isq_sat", "d1")
      assert(spark.table("isq_sat_codes")
        .filter(col("id") === 3L).count() == 2)
    } finally dropStore("isq_sat")
  }

  test("as-of search excludes later dates' codes") {
    dropStore("isq_asof")
    try {
      IncrementalSQ.initGrid(slice(0), "isq_asof")
      IncrementalSQ.appendDate(slice(0), "isq_asof", "d0")
      val atD0 = IncrementalSQ.search(spark, "isq_asof", queries,
        upTo = Some("d0")).localCheckpoint()
      IncrementalSQ.appendDate(slice(1), "isq_asof", "d1")
      IncrementalSQ.appendDate(slice(2), "isq_asof", "d2")
      val asOfD0 = IncrementalSQ.search(spark, "isq_asof", queries,
        upTo = Some("d0"))
      assert(bitEqual(asOfD0, atD0),
        "as-of d0 after d1/d2 appends must equal the d0-era search")
      // and the unrestricted search sees the full store (different result
      // set size is not guaranteed, but the scanned code count is)
      assert(spark.table("isq_asof_codes").count() >
        spark.table("isq_asof_codes").filter(col("ds") === "d0").count())
    } finally dropStore("isq_asof")
  }

  test("filtered serve equals a store that never ingested the excluded vectors") {
    Seq("isq_filt", "isq_fonly").foreach(dropStore)
    try {
      // same fit slice ⇒ bit-identical frozen grid in both stores
      IncrementalSQ.initGrid(slice(0), "isq_filt")
      IncrementalSQ.appendDate(emb, "isq_filt", "all")
      IncrementalSQ.initGrid(slice(0), "isq_fonly")
      IncrementalSQ.appendDate(emb.filter(col("vec_id") % 2 === 0),
        "isq_fonly", "all")
      val allowDf = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
      assert(bitEqual(
        IncrementalSQ.search(spark, "isq_filt", queries,
          allowed = Some(allowDf)),
        IncrementalSQ.search(spark, "isq_fonly", queries)),
        "allow-list candidates must score exactly like an allowed-only store")
    } finally Seq("isq_filt", "isq_fonly").foreach(dropStore)
  }

  test("serve aggregates never reshuffle the id-bucketed code store") {
    dropStore("isq_plan")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      IncrementalSQ.initGrid(emb, "isq_plan")
      IncrementalSQ.appendDate(emb, "isq_plan", "all")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def hasStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table.endsWith("_codes")) => s
        }.nonEmpty
      val serve = IncrementalSQ.search(spark, "isq_plan", queries)
      // both store-fed aggregates (corpus norm groupBy(id), dot
      // groupBy(qid, id)) must have their distribution satisfied by the
      // id bucketing — no exchange between the code scan and its aggregate
      val reshuffled = serve.queryExecution.executedPlan
        .collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if hasStoreScan(a) => a
        }
        .exists(_.collect { case e: ShuffleExchangeLike => e }
          .exists(hasStoreScan))
      assert(!reshuffled,
        s"code store must never cross the wire:\n${serve.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      dropStore("isq_plan")
    }
  }

  test("refitGrid with the same fit slice is an identity migration; drift refit re-encodes in range") {
    dropStore("isq_refit")
    try {
      IncrementalSQ.initGrid(slice(0), "isq_refit")
      (0 until 3).foreach(d =>
        IncrementalSQ.appendDate(slice(d), "isq_refit", s"d$d"))
      val codesBefore = spark.table("isq_refit_codes")
        .select("id", "dim", "code").localCheckpoint()
      val serveBefore = IncrementalSQ.search(spark, "isq_refit", queries)
        .localCheckpoint()
      // same grid ⇒ reconstruct-then-re-encode reproduces every code
      // exactly (xh sits on its own grid point), so the migration is an
      // identity on codes and the serve is bit-equal
      IncrementalSQ.refitGrid(spark, "isq_refit", slice(0), gen = "g1")
      assert(spark.table("isq_refit_codes").select("ds").distinct()
        .collect().map(_.getString(0)).toSeq == Seq("r_g1"),
        "migration folds every date into one generation partition")
      assert(bitEqual(
        spark.table("isq_refit_codes").select("id", "dim", "code"),
        codesBefore))
      assert(bitEqual(
        IncrementalSQ.search(spark, "isq_refit", queries), serveBefore))
      // a genuinely different fit still yields in-range codes and a full
      // ranking per query (reconstruct-re-encode is the documented trade)
      IncrementalSQ.refitGrid(spark, "isq_refit",
        emb.withColumn("embedding",
          transform(col("embedding"), x => x * lit(2.0f))), gen = "g2")
      val codes = spark.table("isq_refit_codes")
      assert(codes.filter(col("code") < 0 || col("code") > 255).isEmpty)
      val served = IncrementalSQ.search(spark, "isq_refit", queries)
      assert(served.groupBy("qid").count().collect()
        .forall(_.getLong(1) == 3))
    } finally dropStore("isq_refit")
  }

  test("refitGrid crashed after the grid publish resumes from the durable prev snapshot") {
    dropStore("isq_crash")
    dropStore("isq_crashref")
    try {
      def build(base: String): Unit = {
        IncrementalSQ.initGrid(slice(0), base)
        (0 until 3).foreach(d =>
          IncrementalSQ.appendDate(slice(d), base, s"d$d"))
      }
      build("isq_crash"); build("isq_crashref")
      val fit = emb.withColumn("embedding",
        transform(col("embedding"), x => x * lit(2.0f)))
      // the reference: the same refit, uninterrupted
      IncrementalSQ.refitGrid(spark, "isq_crashref", fit, gen = "g1")
      // the crash window ADVICE r12 flags: prev snapshotted, NEW grid
      // published, process dies before the code rewrite ever starts —
      // the store now holds new grid + old codes
      spark.table("isq_crash_grid").withColumn("gen", lit("g1"))
        .write.mode("errorifexists").saveAsTable("isq_crash_grid_prev")
      SQ.stats(fit, "vec_id", "embedding")
        .write.mode("overwrite").saveAsTable("isq_crash_grid")
      // a DIFFERENT gen must refuse while the interrupted refit is pending
      intercept[IllegalArgumentException] {
        IncrementalSQ.refitGrid(spark, "isq_crash", fit, gen = "g2")
      }
      // resuming with the same gen reconstructs against the TRUE old grid
      // (the durable snapshot), not the freshly-published one
      IncrementalSQ.refitGrid(spark, "isq_crash", fit, gen = "g1")
      assert(!spark.catalog.tableExists("isq_crash_grid_prev"),
        "a completed refit cleans up its prev snapshot")
      assert(bitEqual(
        spark.table("isq_crash_codes").select("id", "dim", "code"),
        spark.table("isq_crashref_codes").select("id", "dim", "code")),
        "crash-resumed codes must be bit-equal to an uninterrupted refit")
      assert(bitEqual(
        IncrementalSQ.search(spark, "isq_crash", queries),
        IncrementalSQ.search(spark, "isq_crashref", queries)))
    } finally { dropStore("isq_crash"); dropStore("isq_crashref") }
  }

  test("appends and serves fail closed while a refit is pending; resume + late append equal the uninterrupted run") {
    dropStore("isq_pend"); dropStore("isq_pendref")
    try {
      def build(base: String): Unit = {
        IncrementalSQ.initGrid(slice(0), base)
        (0 until 2).foreach(d =>
          IncrementalSQ.appendDate(slice(d), base, s"d$d"))
      }
      build("isq_pend"); build("isq_pendref")
      val fit = emb.withColumn("embedding",
        transform(col("embedding"), x => x * lit(2.0f)))
      // manufacture the crash window: prev snapshotted, NEW grid published,
      // process dies before the code rewrite ever starts
      spark.table("isq_pend_grid").withColumn("gen", lit("g1"))
        .write.mode("errorifexists").saveAsTable("isq_pend_grid_prev")
      SQ.stats(fit, "vec_id", "embedding")
        .write.mode("overwrite").saveAsTable("isq_pend_grid")
      // an append here would encode under the new grid and then be
      // bit-corrupted by the mandated same-gen resume (which reconstructs
      // ALL rows via the old-grid snapshot) — it must refuse
      val exA = intercept[IllegalStateException] {
        IncrementalSQ.appendDate(slice(2), "isq_pend", "d2")
      }
      assert(exA.getMessage.contains("refit is pending"), exA.getMessage)
      // a search here would score OLD codes against the NEW grid — refuse
      val exS = intercept[IllegalStateException] {
        IncrementalSQ.search(spark, "isq_pend", queries)
      }
      assert(exS.getMessage.contains("refit is pending"), exS.getMessage)
      // resume (same gen) unblocks the store; the late append then equals
      // the same sequence run uninterrupted — and, for the late date,
      // a direct from-scratch encode under the new grid
      IncrementalSQ.refitGrid(spark, "isq_pend", fit, gen = "g1")
      IncrementalSQ.appendDate(slice(2), "isq_pend", "d2")
      IncrementalSQ.refitGrid(spark, "isq_pendref", fit, gen = "g1")
      IncrementalSQ.appendDate(slice(2), "isq_pendref", "d2")
      assert(bitEqual(
        spark.table("isq_pend_codes").select("id", "dim", "code"),
        spark.table("isq_pendref_codes").select("id", "dim", "code")),
        "resumed refit + late append must equal the uninterrupted run")
      assert(bitEqual(
        spark.table("isq_pend_codes").filter(col("ds") === "d2")
          .select("id", "dim", "code"),
        SQ.encode(slice(2), SQ.stats(fit, "vec_id", "embedding"))),
        "the late append must be a from-scratch encode under the new fit")
      assert(bitEqual(
        IncrementalSQ.search(spark, "isq_pend", queries),
        IncrementalSQ.search(spark, "isq_pendref", queries)))
    } finally { dropStore("isq_pend"); dropStore("isq_pendref") }
  }

  test("an empty prev snapshot (crashed before rows landed) is dropped and re-made, not wedged") {
    dropStore("isq_esnap"); dropStore("isq_esnapref")
    try {
      def build(base: String): Unit = {
        IncrementalSQ.initGrid(slice(0), base)
        (0 until 2).foreach(d =>
          IncrementalSQ.appendDate(slice(d), base, s"d$d"))
      }
      build("isq_esnap"); build("isq_esnapref")
      // the ADVICE r13 wedge: the snapshot write registered the table but
      // crashed before any rows landed — the gen probe reads None and the
      // old require() rejected EVERY gen, including the retry it asks for
      spark.table("isq_esnap_grid").withColumn("gen", lit("g1")).limit(0)
        .write.mode("errorifexists").saveAsTable("isq_esnap_grid_prev")
      val fit = emb.withColumn("embedding",
        transform(col("embedding"), x => x * lit(2.0f)))
      IncrementalSQ.refitGrid(spark, "isq_esnap", fit, gen = "g1")
      assert(!spark.catalog.tableExists("isq_esnap_grid_prev"))
      IncrementalSQ.refitGrid(spark, "isq_esnapref", fit, gen = "g1")
      assert(bitEqual(
        spark.table("isq_esnap_codes").select("id", "dim", "code"),
        spark.table("isq_esnapref_codes").select("id", "dim", "code")),
        "recovery from an empty snapshot must equal a clean refit")
    } finally { dropStore("isq_esnap"); dropStore("isq_esnapref") }
  }

  test("a refit aborted before any rewrite state RESTORES the grid and unstages — no wedge") {
    dropStore("isq_ab")
    try {
      IncrementalSQ.initGrid(slice(0), "isq_ab")
      (0 until 2).foreach(d =>
        IncrementalSQ.appendDate(slice(d), "isq_ab", s"d$d"))
      val preGrid = spark.table("isq_ab_grid").localCheckpoint()
      val pre = IncrementalSQ.search(spark, "isq_ab", queries)
        .localCheckpoint()
      val codesLoc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("isq_ab_codes"))
        .location.toString
      // a live lease on the code store: the refit publishes the new grid,
      // then its rewrite aborts before the pending sentinel lands
      StoreMaintenance.acquireLease(spark, codesLoc)
      try intercept[IllegalStateException] {
        IncrementalSQ.refitGrid(spark, "isq_ab",
          emb.filter(pmod(col("vec_id"), lit(3L)) >= 1), "g9")
      } finally StoreMaintenance.releaseLease(spark, codesLoc)
      // the published-new-grid effect is ROLLED BACK from the snapshot
      // and the snapshot dropped: grid, serves, and appends all as before
      assert(!spark.catalog.tableExists("isq_ab_grid_prev"),
        "an abort with no rewrite state must drop the prev snapshot")
      assert(bitEqual(spark.table("isq_ab_grid"), preGrid),
        "the live grid must be restored to the pre-refit fit")
      assert(bitEqual(IncrementalSQ.search(spark, "isq_ab", queries), pre),
        "the aborted refit must leave serves untouched")
      IncrementalSQ.appendDate(slice(2), "isq_ab", "d2")
    } finally dropStore("isq_ab")
  }

  test("code-store compaction re-bins partitions; serve bit-equal, bucket spec preserved") {
    dropStore("isq_cmp")
    try {
      IncrementalSQ.initGrid(slice(0), "isq_cmp")
      (0 until 2).foreach(d =>
        IncrementalSQ.appendDate(slice(d), "isq_cmp", s"d$d"))
      val before = IncrementalSQ.search(spark, "isq_cmp", queries)
        .localCheckpoint()
      StoreMaintenance.compact(spark, TableLoc("isq_cmp_codes"), "d1")
      val parts = spark.sql("SHOW PARTITIONS isq_cmp_codes").collect()
        .map(_.getString(0)).toSet
      assert(parts == Set("ds=c_d1"), s"fold must consolidate: $parts")
      assert(bitEqual(IncrementalSQ.search(spark, "isq_cmp", queries), before),
        "compaction must re-bin partitions, not codes")
      // the bucket spec survives the fold (read from catalog metadata),
      // so continued ingestion and the zero-exchange serve still hold
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier("isq_cmp_codes")).bucketSpec
      assert(spec.exists(_.bucketColumnNames == Seq("id")), s"spec: $spec")
      IncrementalSQ.appendDate(slice(2), "isq_cmp", "d2")
      assert(IncrementalSQ.search(spark, "isq_cmp", queries)
        .groupBy("qid").count().collect().forall(_.getLong(1) == 3))
    } finally dropStore("isq_cmp")
  }

  test("streamed micro-batches serve the batch-built store's searches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("ssq").toString
    val pid = ProcessHandle.current().pid()
    val sBase = s"graft_ssq_stream_$pid"
    val bBase = s"graft_ssq_batch_$pid"
    Seq(sBase, bBase).foreach(dropStore)
    try {
      IncrementalSQ.initGrid(slice(0), sBase)
      IncrementalSQ.initGrid(slice(0), bBase)
      (0 until 3).foreach(d =>
        IncrementalSQ.appendDate(slice(d), bBase, s"d$d"))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.StreamingSQ.run(
        ms.toDF().toDF("vec_id", "embedding"), sBase, s"$tmp/ck")
      (0 until 3).foreach { d =>
        ms.addData(slice(d).select("vec_id", "embedding")
          .as[(Long, Array[Float])].collect().toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val want = IncrementalSQ.search(spark, bBase, queries).localCheckpoint()
      val got = IncrementalSQ.search(spark, sBase, queries)
      assert(want.count() > 0)
      assert(bitEqual(got, want),
        "streamed store must serve the batch store's results bit-equal")
    } finally Seq(sBase, bBase).foreach(dropStore)
  }
}
