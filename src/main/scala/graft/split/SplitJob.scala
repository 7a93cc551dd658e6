package graft.split

import org.apache.spark.sql.SparkSession

/** Job configuration (reference O1, parquet-splitter.py:14-26). MAX_WORKERS
  * has no analog: Spark task parallelism replaces the thread pool.
  *
  * @param emptyInputMarker O8 policy flag (SURVEY.md §2.2.4): false =
  *   faithful to the reference's empty-file livelock (no marker, the date is
  *   re-examined every run, forever); true = commit an `outputs: []` marker
  *   so an empty date is done once and for all.
  * @param maxRecordsPerFile / saltBuckets hot-key bounding (see Splitter):
  *   defaults preserve the reference's one-file-per-key layout. */
final case class SplitConfig(
    kind: String,
    inDir: String,
    outDir: String,
    markerDir: String,
    keyCol: String = "item_id",
    preserveOrder: Boolean = false,
    emptyInputMarker: Boolean = false,
    maxRecordsPerFile: Long = 0L,
    saltBuckets: Int = 1)

/** Run summary (reference O15, parquet-splitter.py:190-196).
  * `droppedNullRows` maps each processed date to its null-key rows, which
  * no output holds (SURVEY §2.2.3). */
final case class SplitSummary(
    kind: String,
    inputDates: Int,
    doneDates: Int,
    missingDates: Seq[String],
    processedDates: Seq[String],
    skippedMissing: Seq[String],
    skippedEmpty: Seq[String],
    droppedNullRows: Map[String, Long])

/** Orchestrator — the full incremental split pipeline (reference O16): the
  * [[MarkerLedger]] cycle (list inputs recursively and markers, anti-join,
  * per missing date skip a gone input, marker last) with one date's split
  * as its body, each date in one Spark pass (see [[Splitter.splitOne]]: one
  * keyed write over every shuffle partition, with the guard counts taken
  * inside it, then a parallel promote).
  *
  * Dates run sequentially, as in the reference: markers commit in sorted
  * date order and the run stops at the first failed date, so every marker
  * on disk covers a prefix of the missing dates. A date's write runs a
  * task per core but keeps them far from busy: a traced 3-date backfill
  * (perfbench `backfill_3d`, seed 1, 4 cores) reads `spark.cpu_util`
  * (task CPU over wall × cores) 0.21, and 0.16 while every created output
  * file still started a `chmod` process. Two ways of overlapping dates were
  * prototyped on that workload and not adopted, because each buys wall
  * time with the latency of a date's marker, the commit unit:
  *  - one keyed write for all 3 dates, markers still per date: `wall_s`
  *    4.9 → 4.0 s, but `commit_p50_s` 3.4 → 4.0 s (traced seed 1);
  *  - a one-date lookahead: `wall_s` −5 to −10 % over 4 pairs, but date
  *    1's latency rose from 1.5–1.9 s to 2.0–3.5 s.
  * Either would also make a failure's committed set depend on timing.
  */
final class SplitJob(spark: SparkSession, config: SplitConfig) {
  private val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)
  private val splitter = new Splitter(spark, config.keyCol, config.preserveOrder,
    config.maxRecordsPerFile, config.saltBuckets)

  def run(): SplitSummary = {
    val backlog = ledger.backlog(config.inDir, config.markerDir, nested = true)
    var skippedEmpty = List.empty[String]
    var dropped = Map.empty[String, Long]

    val cycle = ledger.run(backlog, config.kind) { date =>
      splitter.splitPresent(backlog.inputKey(date), config.outDir, date) match {
        case SplitOutcome.Written(outputs, _, nullRows) =>
          dropped += date -> nullRows
          Some(outputs)
        case SplitOutcome.EmptyInput =>
          // O8 policy: faithful mode never commits (livelock quirk); the
          // fixed mode writes an empty-outputs marker so the date is done
          skippedEmpty ::= date
          if (config.emptyInputMarker) Some(Nil) else None
        case SplitOutcome.MissingInput => None // the cycle checked the input
      }
    }
    SplitSummary(config.kind, backlog.input.size, backlog.done.size, backlog.missing,
      cycle.committed.filter(dropped.contains), cycle.skippedMissing,
      skippedEmpty.reverse, dropped)
  }
}
