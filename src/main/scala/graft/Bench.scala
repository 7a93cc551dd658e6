package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. TIMEOUT-PROOF by construction: rounds 3–5 lost
  * complete measurements because results were printed once at the very
  * end, so a driver wall-clock cap (rc=124) discarded everything. Now:
  *
  *   - a full summary snapshot (same schema as the final line, plus
  *     `"complete"`/`"elapsed_sec"`) is atomically rewritten to
  *     `BENCH_PARTIAL.json` after EVERY completed measurement;
  *   - one progress line per measurement goes to stderr;
  *   - pass structure is breadth-first: a first timed rep for every
  *     query FIRST (a complete per-query record exists as early as
  *     possible), then min-of-N refinement reps only while the time
  *     budget (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default 840) allows;
  *   - the first TWO reps are exempt from the REFINEMENT budget
  *     (round 9): round 8's rep 1 alone consumed the whole budget on a
  *     ~4× contended host, leaving reps=1 cold singles everywhere —
  *     numbers the artifact itself says to treat as upper bounds, i.e.
  *     an uninterpretable official record. Guaranteeing rep 2 makes the
  *     worst contended outcome min-of-2 (a usable estimator) at the
  *     cost of a bounded budget overshoot; only refinement reps (3+)
  *     are budget-gated;
  *   - but a HARD wall cap (`SPARK_GRAFT_BENCH_WALL_SEC`, default 900)
  *     gates EVERY measurement including the guaranteed reps
  *     (round 18): rounds 15–17 all lost the driver's official record
  *     to its ~20 min kill (rc=124) because two exempt passes at 187
  *     queries exceed it outright — a record whose tail queries are
  *     cold singles parses; a killed process records nothing. Quiet
  *     definitive records override the cap explicitly (WALL_SEC=7200);
  *   - JIT warm-up is a HANDFUL of representative queries at sf0.001
  *     (scan/agg/join/window/dedup codegen paths), not all of them —
  *     the old all-queries pass was ~100 extra executions of pure
  *     harness overhead. Rep 1 itself warms rep 2 at the real SF, and
  *     min-of-N keeps the warm number.
  *
  * SELF-DESCRIBING by construction (round 7): round 6's record was
  * complete but uninterpretable — cold singles on a ~20× contended host
  * (q55: 192.7 s official vs 1.8 s on a quiet machine, code untouched)
  * look identical to a 20× regression. The artifact now carries the
  * evidence a reader needs to classify every number without re-running:
  *
  *   - `"raw"`: EVERY per-rep wall time, per query (the published
  *     `"queries"` value is still min over successful reps);
  *   - `"reps"`: per-query measurement count — 1 means a cold single,
  *     so treat the number as an upper bound, not a measurement;
  *   - `"sentinel"`: a fixed ~0.3 s calibration query
  *     (`q20_dedup_exact`) re-timed before the run and after every
  *     ~10 measurements; its series is a host-load seismograph taken
  *     with the same harness, same JVM, same data as the real numbers;
  *   - `"noise_factor"`: max/min of the successful sentinel times —
  *     ≈1 means a quiet host (trust the numbers), ≫1 means contention
  *     (trust only the minima, and only where reps ≥ 2);
  *   - `"slots"`: the session's task slots — [[Session]] defaults them
  *     to the host's cores, so a 4-slot and a 32-slot record differ here;
  *   - `"run_id"`: stamps the snapshot AND the final line, so a stale
  *     `BENCH_PARTIAL.json` from a previous run can never be mistaken
  *     for this one (the file is also deleted at startup).
  *
  * stdout still carries exactly ONE JSON line (the driver's contract),
  * printed at the end.
  */
object Bench {

  /** Timed action: a noop-format write. It executes the WHOLE physical
    * plan including a final ORDER BY — under a count()-only action,
    * Catalyst's EliminateSorts removes the output sort and every
    * orderBy-terminated query is under-measured. */
  def run(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Release everything a query materialized: Dataset caches (k-means'
    * persisted dims) AND localCheckpoint RDDs (the label-propagation /
    * PageRank results whose disposal Components.scala documents as
    * caller-owned). Queries are self-contained, so a blanket sweep
    * between measurements is safe — without it a 3-pass bench over
    * q62/q81/q95/q98 accumulates one executor-storage snapshot per run. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** The JIT warm-up described above, skipped where the sf0.001 testdata
    * is absent; failures are ignored. */
  def warmUp(spark: SparkSession): Unit = {
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      Seq("q01_agg", "q03_join_topk", "q07_window_rank", "q20_dedup_exact",
          "q30_knn_brute").foreach { name =>
        try run(SparkEntry.queries(name)(spark, warmDir))
        catch { case _: Throwable => () }
        sweep(spark)
      }
  }

  /** One timed run of registered query `name` on the noop sink, then
    * [[sweep]]: its wall seconds, NEGATIVE time-to-failure if it throws
    * (never disguised as a fast success), and the [[Phases]] it recorded. */
  def timeOne(spark: SparkSession, sfDir: String,
      name: String): (Double, Map[String, Double]) = {
    Phases.drain() // discard any stale phase records from a failed rep
    val t0 = System.nanoTime()
    val ok = try { run(SparkEntry.queries(name)(spark, sfDir)); true }
    catch { case e: Throwable => System.err.println(s"FAIL $name: $e"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    sweep(spark)
    (if (ok) dt else -dt, Phases.drain())
  }

  def main(args: Array[String]): Unit = Session.run("graft-bench")(bench)

  private def bench(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "840").toDouble
    // HARD wall cap on the measurement loop (round 18): the driver's
    // official record died rc=124 three rounds running because the
    // guaranteed reps were budget-EXEMPT — at 187 queries on a drifted
    // host, two exempt passes alone exceed the driver's ~20 min kill.
    // Unlike the refinement budget, the wall cap gates EVERY measurement
    // (reps 1–2 included): a record with cold singles on the tail
    // queries parses; a killed process records nothing. Default 900 s
    // leaves ~300 s for sbt/JVM startup under a 1,200 s driver timeout.
    val wallSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL_SEC", "900").toDouble
    val partialPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTIAL", "BENCH_PARTIAL.json")
    // DRIVER-PROOF summary (round 19): the stdout contract survives sbt's
    // [info] wrapping and trailing [warn]/[success] lines only with regex
    // archaeology — r18's official record carried parsed:null for exactly
    // that reason. The compact summary is therefore ALSO written to a
    // stable root-level file as the run's last act; a reader that can see
    // the repo needs no stdout at all.
    val summaryPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json")
    // target 3 passes: two budget-exempt (the min-of-2 floor), a third
    // expensive-first refinement only while the budget allows — a quiet
    // host tightens its minima with otherwise-idle budget, a contended
    // host still stops at the guaranteed two
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val runId = java.lang.Long.toHexString(System.currentTimeMillis())
    // task slots the run had: records from differently sized sessions
    // must not read alike
    val slots = spark.sparkContext.defaultParallelism
    // a previous run's snapshot must never be readable as this run's
    new java.io.File(partialPath).delete()
    new java.io.File(summaryPath).delete()
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    val names = SparkEntry.queries.keys.toSeq.sorted
    // failure semantics: a failed rep records NEGATIVE time-to-failure and
    // poisons the query (never disguised as a fast success); min over the
    // successful reps otherwise — the standard "what the engine costs when
    // the machine isn't busy" estimator (see round-3 notes).
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    val raw = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    def combine(a: Double, b: Double): Double =
      if (a < 0) a else if (b < 0) b else math.min(a, b)
    // Calibration sentinel: q20 (exact dedup) — cheap, stable, untouched
    // for rounds, and it exercises scan+shuffle+agg, the same machinery
    // whose contention the sentinel exists to witness.
    val sentinelName = "q20_dedup_exact"
    // Per-phase sub-timings for the LIFECYCLE queries (build vs serve —
    // see graft.Phases): per-phase MIN across successful reps, the same
    // estimator as the headline numbers. Phase sums need not equal the
    // headline value (cleanup/untimed sections sit between phases).
    val phasesMin =
      scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    val sentinel = scala.collection.mutable.ListBuffer[Double]()
    var sinceSentinel = 0
    def fmtSeq(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    // noise_factor = max/MEDIAN (round 12; was max/min): host contention
    // can only manifest as SLOW-side spread — a busy host never makes the
    // sentinel run FASTER than typical, so a JIT/cache-lucky fast outlier
    // in the denominator was disqualifying genuinely quiet runs (two
    // round-12 quiet-host runs read 2.2×/3.0× under max/min purely from
    // 0.14–0.19 s fast readings against a 0.27 s median). The raw series
    // still ships, and `sentinel_spread` keeps the old max/min so any
    // record remains comparable under either definition.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // (noise_factor, sentinel_spread, contended): contended stamps a
    // self-disqualifying record (round 10) — slow-side sentinel spread
    // above 3× means host contention, not engine cost, so a dirty run can
    // never silently read as the design's official number (rounds 8–9
    // were both taken at noise ≈ 4 and needed judge-side forensics)
    def sentinelStats(): (String, String, String) = {
      val ok = sentinel.filter(_ >= 0)
      if (ok.size >= 2 && ok.min > 0)
        ((ok.max / median(ok.toSeq)).toString, (ok.max / ok.min).toString,
          (ok.max / median(ok.toSeq) > 3.0).toString)
      else ("null", "null", "null")
    }
    // SENTINEL-NORMALIZED totals (round 18): three rounds of verdicts
    // re-derived host drift by hand from the sentinel series. The record
    // now carries the division itself — `host_drift` = this run's
    // sentinel median over the PINNED r12 operative-baseline median
    // (BENCH_QUIET_r12.json, q20 over 39 readings on a quiet host), and
    // `total_sentinel_adj` = total ÷ host_drift, comparable to the r12
    // total on the shared queries — but ONLY when `measured` equals
    // `universe` (a wall-capped record totals just its measured subset,
    // and the reader must compare per-query or not at all) AND `slots`
    // is 32: r12 ran local[32], and a session's slots default to the
    // host's cores, so an r12 comparison needs SPARK_GRAFT_CPUS=32. The
    // pin changes ONLY if the operative baseline or the sentinel query
    // changes.
    val sentinelRef = 0.2627
    def sentinelAdj(): (String, String, String) = {
      val ok = sentinel.filter(_ >= 0)
      if (ok.isEmpty) ("null", "null", "null")
      else {
        val m = median(ok.toSeq)
        val drift = m / sentinelRef
        val total = best.values.filter(_ >= 0).sum
        (m.toString, drift.toString, (total / drift).toString)
      }
    }
    // FIELD SEMANTICS (round 19 — the r18 verdict's ambiguity fix):
    //   "complete"    = measured == universe: EVERY registered query has at
    //                   least one measurement. Purely about coverage.
    //   "final"       = this snapshot is the run's last word (the process
    //                   reached its epilogue) — what "complete" used to
    //                   conflate with coverage: r18's driver record read
    //                   complete:true at measured 54/190.
    //   "wall_capped" = the hard wall cap (SPARK_GRAFT_BENCH_WALL_SEC)
    //                   skipped at least one GUARANTEED measurement — the
    //                   record is final but its coverage was cut by time,
    //                   not by the query universe.
    var wallCapped = false
    def summaryJson(finalRecord: Boolean): String = {
      val errors = best.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      val qs = best.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val rawJson = raw.map { case (k, v) => "\"" + k + "\":" + fmtSeq(v) }
        .mkString("{", ",", "}")
      val repsJson = raw.map { case (k, v) => "\"" + k + "\":" + v.size }
        .mkString("{", ",", "}")
      val (noise, spread, contended) = sentinelStats()
      val (sentMed, drift, totalAdj) = sentinelAdj()
      val total = best.values.filter(_ >= 0).sum
      val phasesJson = phasesMin.map { case (k, m) =>
        "\"" + k + "\":" +
          m.map { case (p, v) => "\"" + p + "\":" + v }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","errors":${errors.mkString("[", ",", "]")},"complete":${best.size == names.size},"final":$finalRecord,"wall_capped":$wallCapped,"measured":${best.size},"universe":${names.size},"elapsed_sec":$elapsed,"wall_sec":$wallSec,"reps":$repsJson,"raw":$rawJson,"phases":$phasesJson,"sentinel_query":"$sentinelName","sentinel":${fmtSeq(sentinel.toSeq)},"noise_factor":$noise,"sentinel_spread":$spread,"contended":$contended,"sentinel_median":$sentMed,"sentinel_ref":$sentinelRef,"host_drift":$drift,"total_sentinel_adj":$totalAdj,"slots":$slots,"run_id":"$runId"}"""
    }
    def compactSummaryJson(finalRecord: Boolean): String = {
      val errors = best.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      val (noise, spread, contended) = sentinelStats()
      val (sentMed, drift, totalAdj) = sentinelAdj()
      val total = best.values.filter(_ >= 0).sum
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","errors":${errors.mkString("[", ",", "]")},"complete":${best.size == names.size},"final":$finalRecord,"wall_capped":$wallCapped,"measured":${best.size},"universe":${names.size},"elapsed_sec":$elapsed,"noise_factor":$noise,"sentinel_spread":$spread,"contended":$contended,"sentinel_median":$sentMed,"sentinel_ref":$sentinelRef,"host_drift":$drift,"total_sentinel_adj":$totalAdj,"slots":$slots,"run_id":"$runId","queries_artifact":"$partialPath"}"""
    }
    def snapshot(finalRecord: Boolean = false): Unit = try {
      val tmp = new java.io.File(partialPath + ".tmp")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.println(summaryJson(finalRecord)) finally w.close()
      tmp.renameTo(new java.io.File(partialPath))
      ()
    } catch { case _: Throwable => () } // never let bookkeeping kill the run
    def measure(name: String): Double = {
      val (t, ph) = timeOne(spark, sfDir, name)
      if (t >= 0 && ph.nonEmpty)
        phasesMin(name) = phasesMin.get(name).fold(ph) { prev =>
          (prev.keySet ++ ph.keySet).map(k => k -> math.min(
            prev.getOrElse(k, Double.MaxValue),
            ph.getOrElse(k, Double.MaxValue))).toMap
        }
      t
    }
    // Sentinel runs are calibration-only: never merged into the query's
    // own record (its official number stays comparable across rounds —
    // min over exactly `reps` measurement reps, like every other query).
    def timeSentinel(): Unit = {
      sentinel += measure(sentinelName)
      System.err.println(
        s"""BENCH {"sentinel":"$sentinelName","sec":${sentinel.last},"elapsed":$elapsed}""")
    }
    warmUp(spark)
    // one DISCARDED sentinel execution first: the sentinel series exists to
    // witness HOST contention, and a cold first reading (JIT + scan warm-up
    // at the real SF — measured ~2× steady-state) would inflate
    // noise_factor on a perfectly quiet host
    measure(sentinelName)
    timeSentinel() // baseline host-load reading before any measurement
    // reps 1..guaranteed ignore the REFINEMENT budget (worst case =
    // min-of-2 instead of cold singles); only refinement reps beyond
    // that are budget-gated. The WALL cap gates everything (see above).
    val guaranteed = math.min(reps, 2)
    // a measurement may start only if its ESTIMATE fits the wall: prior
    // reps' best (abs: a failure's time-to-failure is still its cost)
    // for a seen query, 0 for rep 1 (unknown — the cap then bounds the
    // overshoot to one query's own duration)
    def fitsWall(name: String): Boolean =
      elapsed + best.get(name).map(_.abs).getOrElse(0.0) < wallSec
    var rep = 1
    while (rep <= reps && elapsed < wallSec &&
        (rep <= guaranteed || elapsed < budgetSec)) {
      // refinement passes go EXPENSIVE-FIRST: the cold/warm spread that
      // min-of-N exists to cancel is concentrated in the slowest queries
      // (round-5 judge data: q95 5.6 s vs 73.5 s across identical runs), so
      // when the budget cuts a pass short, the refinements that happened
      // are the ones that mattered; a cheap query's cold number is already
      // within noise of warm.
      val order =
        if (rep == 1) names
        else names.sortBy(n => -best.getOrElse(n, Double.MaxValue).abs)
      order.foreach { name =>
        // refinement reps stop mid-pass when the budget is gone —
        // already-measured queries simply keep their earlier minimum;
        // the wall cap stops ANY pass (a cold-singles tail parses,
        // a killed process records nothing).
        if (fitsWall(name) && (rep <= guaranteed || elapsed < budgetSec)) {
          val t = measure(name)
          best(name) = best.get(name).map(combine(_, t)).getOrElse(t)
          raw(name) = raw.getOrElse(name, Nil) :+ t
          System.err.println(
            s"""BENCH {"q":"$name","rep":$rep,"sec":$t,"elapsed":$elapsed}""")
          sinceSentinel += 1
          if (sinceSentinel >= 10) { sinceSentinel = 0; timeSentinel() }
          snapshot()
        } else if (rep <= guaranteed && !fitsWall(name))
          wallCapped = true // the wall cut a GUARANTEED measurement
      }
      rep += 1
    }
    // the while-condition itself can cut a guaranteed pass (elapsed past
    // the wall before the pass starts) — that too is a wall-capped record
    if (rep <= guaranteed) wallCapped = true
    timeSentinel() // closing reading: did the host get busier mid-run?
    // the FINAL snapshot carries final=true: the artifact file IS the
    // definitive record, so a stdout capture that truncates the (large)
    // summary line loses nothing — read BENCH_PARTIAL.json instead
    snapshot(finalRecord = true)
    println(summaryJson(finalRecord = true))
    // LAST line = a COMPACT record that fits a bounded tail capture: the
    // full summary above is per-query-map-sized (>10 KB at 180 queries)
    // and a harness keeping only the final ~2 KB of stdout slices through
    // its middle, parsing nothing. The compact line carries the headline
    // total and the run's quality stamps, and names the artifact holding
    // the per-query map — so ANY tail window ends with one parseable
    // record instead of a truncated one.
    println(compactSummaryJson(finalRecord = true))
    // … and the same compact record to a STABLE FILE, the run's last act:
    // sbt wraps stdout in [info] and appends [warn]/[success] lines, so a
    // line-oriented tail parse of the captured log fails even when the
    // line itself is intact (the r18 parsed:null). The file needs no
    // stdout at all — atomically replaced, never partially visible.
    try {
      val tmp = new java.io.File(summaryPath + ".tmp")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.println(compactSummaryJson(finalRecord = true)) finally w.close()
      tmp.renameTo(new java.io.File(summaryPath))
      ()
    } catch { case _: Throwable => () }
  }
}
