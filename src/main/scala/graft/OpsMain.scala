package graft

import graft.operators._
import graft.split.SplitMain.{getArg, withSession}
import org.apache.spark.sql.SparkSession

/** CLI entry point for the OPERATIONAL TRIAD — the last mile between
  * "the protocols exist as a library" and "the pipeline is operable":
  * `spark-submit --class graft.OpsMain … --JOB curate --STORE s …`
  * wires [[graft.operators.CurateJob]] / [[graft.operators.TakedownJob]]
  * / [[graft.operators.MaintainJob]] / [[graft.operators.StoreInventory]]
  * over the [[graft.operators.OpsFamilies]] standard-store registry from
  * flags alone, with the safety rails ON BY DEFAULT: every curate family
  * carries its `foldedThrough` retention fence, and curation warns loud
  * when run without the takedown suppression feed. Argument resolution
  * is the reference's O1 (flag → env var → default,
  * reference/src/Split/parquet-splitter.py:14-26 — the same `getArg` the
  * split engine's main uses). One JSON summary line per job (O15/O17).
  *
  * Jobs (common: `--STORE` table-name prefix, `--FAMILIES` csv from
  * `postings | minhash | semantic | vectors | sq8 | matryoshka |
  * maxsim | langmodel | spans | components`, default `postings`;
  * `spans`/`components`/`langmodel` are path-backed under
  * `--STORE_DIR`):
  *   - `--JOB curate --IN drops/ --MARKERS m/ --REPORTS r/
  *      [--REQUESTS req/ --TD_MARKERS tdm/]   ← the suppression feed
  *      [--ID_COL id] [--TEXT_COL text] [--VEC_COL embedding]
  *      [--LANG_COL lang]                     ← langmodel's label col
  *      [--PAIR_THRESHOLD 0.5] [--SEM_THRESHOLD 0.9] [--SEM_HORIZON n]
  *      [--VEC_CELLS n]               ← vectors/maxsim init capacity
  *      [--MAT_CELLS n] [--MAT_PDIM 16]     ← matryoshka init shape
  *   - `--JOB takedown --REQUESTS req/ --TD_MARKERS tdm/
  *      [--CORPUS drops/]   ← spans/langmodel subtract from the texts
  *      [--TOKENS_PER_DOC 8]          ← maxsim's doc→token expansion`
  *   - `--JOB maintain --WINDOW d --M_MARKERS mm/ --AUDITS a/
  *      [--RETAIN cutoff | --RETAIN_AT_WINDOW true]
  *      [--VEC_PSI_REFIT bar] [--VEC_MAX_CELL_ROWS n]  ← vec/maxsim policy
  *      [--SEM_PSI_REBAND bar]`            ← semantic re-band policy
  *   - `--JOB inventory [--LEDGER curate-markers/] [--OUT path/]
  *     [--LIMIT n]` — with `--LEDGER`, lag detection is
  *     [[graft.operators.StoreInventory.missingVsLedger]] (sharp
  *     through gen rewrites); without, the partition-keyed
  *     [[graft.operators.StoreInventory.missing]]; `--OUT` sinks the
  *     full frames as parquet (counts-only summary line), `--LIMIT`
  *     bounds the inline arrays (default 1000, stamps `truncated`).
  *
  * The q186 operational-triad lifecycle is reproducible from config
  * alone — oracle-gated as q190, protocol windows spec-pinned in
  * OpsMainSpec. */
object OpsMain {

  private def q(s: String): String = graft.split.Marker.quote(s)
  private def arr(xs: Seq[String]): String =
    xs.map(q).mkString("[", ",", "]")

  /** Execute one job against `spark`; returns the JSON summary line.
    * Factored from [[main]] so specs and queries drive the exact CLI
    * surface against the test session. */
  def run(args: Array[String], spark: SparkSession): String = {
    def a(n: String, d: String = null) = getArg(args, n, d)
    val job = a("JOB")
    require(job != null,
      "JOB is required: curate | takedown | maintain | inventory")
    // table families key their table names on --STORE; the path
    // families (spans, components) key on --STORE_DIR — STORE is
    // required exactly when a table-backed family is requested (an
    // empty prefix would silently share table names across stores)
    val store = a("STORE", "")
    val fams = a("FAMILIES", "postings").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    require(store.nonEmpty || fams.forall(OpsFamilies.PathNames.contains),
      "STORE is required (the table-name prefix) for table-backed " +
        "families; purely path-backed invocations (spans, components) " +
        "may give --STORE_DIR alone")

    job match {
      case "curate" =>
        val in = a("IN"); val markers = a("MARKERS")
        val reports = a("REPORTS")
        require(in != null && markers != null && reports != null,
          "IN, MARKERS and REPORTS are required for curate")
        val req = a("REQUESTS"); val tdm = a("TD_MARKERS")
        require((req == null) == (tdm == null),
          "REQUESTS and TD_MARKERS come together (the suppression feed)")
        if (req == null) System.err.println(
          "[ops] WARN: curating WITHOUT the takedown suppression feed " +
            "(--REQUESTS/--TD_MARKERS): a re-crawled taken-down " +
            "document will silently re-enter the corpus")
        val idCol = a("ID_COL", "id")
        val cfams = fams.map(f => OpsFamilies.curate(store, f,
          idCol, a("TEXT_COL", "text"), a("VEC_COL", "embedding"),
          a("PAIR_THRESHOLD", "0.5").toDouble,
          a("SEM_THRESHOLD", "0.9").toDouble,
          a("SEM_HORIZON", "0").toLong,
          a("VEC_CELLS", "0").toInt,
          storeDir = a("STORE_DIR", ""), inDir = in,
          matCells = a("MAT_CELLS", "0").toInt,
          matPDim = a("MAT_PDIM", "16").toInt,
          langCol = a("LANG_COL", "lang")))
        val s = new CurateJob(spark, CurateConfig(a("KIND", "curate"),
          in, markers, reports, cfams,
          suppressIds =
            if (req == null) _ => None
            else sp => TakedownJob.appliedIds(sp, req, tdm),
          suppressCol = idCol)).run()
        s"""{"job":"curate","kind":${q(s.kind)},"families":${arr(fams)},""" +
          s""""input_dates":${s.inputDates},"done_dates":${s.doneDates},""" +
          s""""processed":${arr(s.processedDates)},""" +
          s""""skipped_missing":${arr(s.skippedMissing)},""" +
          s""""suppression_feed":${req != null}}"""

      case "takedown" =>
        val req = a("REQUESTS"); val tdm = a("TD_MARKERS")
        require(req != null && tdm != null,
          "REQUESTS and TD_MARKERS are required for takedown")
        // the subtract families remove deleted documents' own
        // contributions — --CORPUS names the retained drops catalog
        // their texts come from (flat, one multi-path scan; columns via
        // ID_COL/TEXT_COL, plus LANG_COL when the langmodel family's
        // exact unlearning needs the labels too)
        val corpus = Option(a("CORPUS")).map { dir =>
          val drops = new graft.split.MarkerLedger(
            spark.sparkContext.hadoopConfiguration).catalog(dir)
          val cols = Seq(a("ID_COL", "id"), a("TEXT_COL", "text")) ++
            (if (fams.contains("langmodel")) Seq(a("LANG_COL", "lang"))
             else Seq.empty)
          spark.read.parquet(drops: _*).select(cols.head, cols.tail: _*)
        }
        val s = new TakedownJob(spark, TakedownConfig(a("KIND", "td"),
          req, tdm, fams.map(f =>
            OpsFamilies.takedown(spark, store, f,
              storeDir = a("STORE_DIR", ""), corpus = corpus,
              tokensPerDoc = a("TOKENS_PER_DOC", "8").toInt)))).run()
        val applied = s.idsApplied.toSeq.sorted
          .map { case (d, n) => q(d) + ":" + n }.mkString("{", ",", "}")
        s"""{"job":"takedown","kind":${q(s.kind)},""" +
          s""""families":${arr(fams)},"request_dates":${s.requestDates},""" +
          s""""done_dates":${s.doneDates},"processed":${arr(s.processedDates)},""" +
          s""""skipped_missing":${arr(s.skippedMissing)},""" +
          s""""ids_applied":$applied}"""

      case "maintain" =>
        val window = a("WINDOW"); val mm = a("M_MARKERS")
        val audits = a("AUDITS")
        require(window != null && mm != null && audits != null,
          "WINDOW, M_MARKERS and AUDITS are required for maintain")
        val retain: Option[String => String] =
          Option(a("RETAIN")).map(cut => (_: String) => cut)
            .orElse(if (a("RETAIN_AT_WINDOW", "false").toBoolean)
              Some((w: String) => w) else None)
        val s = new MaintainJob(spark, MaintainConfig(a("KIND", "maint"),
          mm, audits,
          fams.map(f => OpsFamilies.maintain(store, f, retain,
            vecMaxCellRows = Option(a("VEC_MAX_CELL_ROWS")).map(_.toLong),
            vecPsiRefit = Option(a("VEC_PSI_REFIT")).map(_.toDouble),
            storeDir = a("STORE_DIR", ""),
            semPsiReband = Option(a("SEM_PSI_REBAND")).map(_.toDouble)))))
          .run(window)
        val exp = s.expired.toSeq.sortBy(_._1)
          .map { case (f, ds) => q(f) + ":" + arr(ds) }
          .mkString("{", ",", "}")
        s"""{"job":"maintain","kind":${q(s.kind)},"window":${q(s.window)},""" +
          s""""skipped":${s.skipped},"maintained":${arr(s.maintained)},""" +
          s""""audited":${arr(s.audited)},"expired":$exp}"""

      case "inventory" =>
        val sd = a("STORE_DIR", "")
        val held0 = fams.flatMap(f => OpsFamilies.stores(store, sd, f))
        // the detectors judge only stores whose per-date presence a
        // committed marker implies (components' labels/edges skip
        // no-new-cluster dates by design — held view only)
        val judge = fams.flatMap(f => OpsFamilies.ledgerStores(store, sd, f))
        val heldDf = StoreInventory.dates(spark, held0)
        val ledger = a("LEDGER")
        val lagDf = if (ledger != null)
          StoreInventory.missingVsLedger(spark, judge, ledger)
        else StoreInventory.missing(spark, judge)
        val out = a("OUT")
        if (out != null) {
          // PATH SINK (the scale mode): at 10-year × many-family scale the
          // inline JSON arrays are families × partitions rows — megabytes
          // in a log line. The full frames land as parquet; the summary
          // line carries only counts + where to look.
          val base = graft.split.PathOps.normalizePrefix(out)
          heldDf.write.mode("overwrite").parquet(base + "held")
          lagDf.write.mode("overwrite").parquet(base + "missing")
          val nh = spark.read.parquet(base + "held").count()
          val nm = spark.read.parquet(base + "missing").count()
          s"""{"job":"inventory","families":${arr(fams)},""" +
            s""""detector":${q(if (ledger != null) "ledger" else "partitions")},""" +
            s""""out":${q(out)},"held_rows":$nh,"missing_rows":$nm}"""
        } else {
          // inline mode stays bounded: LIMIT (default 1000 rows per
          // section) truncates the arrays and says so — a truncated
          // inventory must never read as a complete one
          val limit = a("LIMIT", "1000").toInt
          val held = heldDf.collect()
          val lag = lagDf.collect()
          val heldJson = held.take(limit).map(r =>
            s"""{"family":${q(r.getString(0))},"ds":${q(r.getString(1))},""" +
              s""""n_rows":${r.getLong(2)}}""").mkString("[", ",", "]")
          val lagJson = lag.take(limit).map(r =>
            s"""{"family":${q(r.getString(0))},"ds":${q(r.getString(1))}}""")
            .mkString("[", ",", "]")
          s"""{"job":"inventory","families":${arr(fams)},""" +
            s""""detector":${q(if (ledger != null) "ledger" else "partitions")},""" +
            s""""held_rows":${held.length},"missing_rows":${lag.length},""" +
            s""""truncated":${held.length > limit || lag.length > limit},""" +
            s""""held":$heldJson,"missing":$lagJson}"""
        }

      case other => throw new IllegalArgumentException(
        s"unknown JOB '$other': curate | takedown | maintain | inventory")
    }
  }

  /** Under spark-submit this creates the session; driven in-process
    * (specs, a host app) it adopts the existing one and leaves it
    * running ([[graft.Session.run]]); `--CLOUD_WRITE true` applies
    * [[graft.sources.CloudConf]] to either. */
  def main(args: Array[String]): Unit =
    withSession("graft-ops", args) { spark =>
      println(run(args, spark))
    }
}
