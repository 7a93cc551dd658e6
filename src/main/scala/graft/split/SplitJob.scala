package graft.split

import org.apache.spark.sql.SparkSession
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

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

/** Orchestrator — the full incremental split pipeline (reference O16):
  * list inputs, list markers, anti-join, then per missing date
  * read→validate→split→write→marker, each date in one Spark pass (see
  * [[Splitter.splitOne]]: one keyed write over every shuffle partition,
  * with the guard counts taken inside it, then a parallel promote).
  *
  * Dates run sequentially, as in the reference: markers commit in sorted
  * date order and the run stops at the first failed date, so every marker
  * on disk covers a prefix of the missing dates. Each date's write already
  * uses every core, so overlapping dates would buy little and would make
  * a failure's committed set depend on timing.
  */
final class SplitJob(spark: SparkSession, config: SplitConfig) {
  private val ledger = new MarkerLedger(spark.sparkContext.hadoopConfiguration)
  private val splitter = new Splitter(spark, config.keyCol, config.preserveOrder,
    config.maxRecordsPerFile, config.saltBuckets)
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  def run(): SplitSummary = {
    val input = ledger.inputDates(config.inDir)
    val done = ledger.doneDates(config.markerDir)
    val missing = (input -- done).toSeq.sorted

    var processed = List.empty[String]
    var skippedMissing = List.empty[String]
    var skippedEmpty = List.empty[String]
    var dropped = Map.empty[String, Long]

    missing.foreach { date =>
      val inPath = PathOps.normalizePrefix(config.inDir) + s"$date.parquet"
      splitter.splitOne(inPath, config.outDir, date) match {
        case SplitOutcome.Written(outputs, _, nullRows) =>
          // marker LAST — the commit point (parquet-splitter.py:176-186)
          ledger.writeMarker(config.markerDir,
            Marker(config.kind, date, inPath, outputs, tsFmt.format(Instant.now())))
          processed ::= date
          dropped += date -> nullRows
        case SplitOutcome.MissingInput => skippedMissing ::= date
        case SplitOutcome.EmptyInput =>
          // O8 policy: faithful mode never commits (livelock quirk); the
          // fixed mode writes an empty-outputs marker so the date is done
          if (config.emptyInputMarker)
            ledger.writeMarker(config.markerDir,
              Marker(config.kind, date, inPath, Nil, tsFmt.format(Instant.now())))
          skippedEmpty ::= date
      }
    }
    SplitSummary(config.kind, input.size, done.size, missing,
      processed.reverse, skippedMissing.reverse, skippedEmpty.reverse, dropped)
  }
}
