package graft.split

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** Completion-marker document, the engine's commit record
  * (reference/src/Split/parquet-splitter.py:176-186 and
  * sample-data/data/markers/ *.json). */
final case class Marker(
    kind: String,
    date: String,
    inputKey: String,
    outputs: Seq[String],
    generatedAt: String) {

  /** Serialize to the reference's JSON shape. Hand-rolled (zero extra deps);
    * output keys/ordering match the reference doc. */
  def toJson: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    s"""{"kind": ${q(kind)}, "date": ${q(date)}, "input_key": ${q(inputKey)}, """ +
      s""""outputs": [${outputs.map(q).mkString(", ")}], """ +
      s""""output_count": ${outputs.size}, "generated_at": ${q(generatedAt)}}"""
  }
}

/** One cycle's listing (reference O2–O5, parquet-splitter.py:125-138):
  * the input dates, the done dates, and `missing = sorted(input − done)`,
  * fixed before any date runs, so a caller can fence on all three first. */
final case class Backlog(inDir: String, markerDir: String, input: Set[String],
    done: Set[String]) {
  val missing: Seq[String] = (input -- done).toSeq.sorted

  /** The date's input key, rebuilt flat as `{inDir}/{date}.parquet`. */
  def inputKey(date: String): String = PathOps.normalizePrefix(inDir) + s"$date.parquet"
}

/** What [[MarkerLedger.run]] did: the dates whose markers it wrote and the
  * dates skipped because their input was gone (O7), both in date order. */
final case class Cycle(committed: Seq[String], skippedMissing: Seq[String])

/** Driver-side processing ledger: which dates exist, which are done, the
  * anti-join between them, and the per-date cycle that commits a marker
  * last (reference/src/Split/parquet-splitter.py:125-186). [[SplitJob]],
  * [[graft.operators.CurateJob]] and [[graft.operators.TakedownJob]] run
  * this one cycle and supply only their per-date bodies.
  *
  * This is job orchestration ABOVE the query layer — deliberately not a
  * Catalyst rule (SURVEY.md §4). All storage goes through the Hadoop
  * FileSystem API, so `file://` in tests and `s3a://` on a cluster are the
  * same code path. Listings are driver-side: the ledger holds one string per
  * date-partition, not per row, so it stays tiny even at 100 TB of data
  * (e.g. 10 years of daily partitions = ~3,650 entries).
  */
final class MarkerLedger(conf: Configuration) {

  private def fsFor(p: String): FileSystem = new Path(p).getFileSystem(conf)

  /** Stems of the files under `dir` whose names end with `suffix`. FLAT
    * by default — the orchestrator catalog contract
    * ([[graft.operators.CurateJob]]/TakedownJob/MaintainJob): immediate
    * children only, files OR dataset directories, so nested drops are
    * invisible rather than discovered-then-skipped; one directory listing
    * (README, "Orchestrator ledger and suppression feed — measured at
    * 10-year scale").
    *
    * `nested` lists the whole subtree instead, mirroring the reference's
    * paginated ListObjectsV2+suffix filter (O2,
    * parquet-splitter.py:48-57,125): the SPLIT engine's pinned reference
    * quirk (§2.2.5), one listing per directory of the subtree. Faithful
    * consequence: a file in a NESTED sub-prefix is discovered, but the
    * per-date read key is rebuilt flat ([[Backlog.inputKey]]), so a nested
    * input turns into a missing-input warn-and-skip — exactly the
    * reference's discovered-then-NoSuchKey behavior
    * (parquet-splitter.py:145,150-152). */
  def listStems(dir: String, suffix: String, nested: Boolean = false): Set[String] = {
    val path = new Path(PathOps.normalizePrefix(dir))
    val fs = fsFor(dir)
    if (!fs.exists(path)) Set.empty
    else if (!nested)
      PathOps.stemsWithSuffix(fs.listStatus(path).map(_.getPath.toString).toSeq, suffix)
    else {
      // a listStatus walk, not listFiles: listFiles' LocatedFileStatus
      // reads each local file's permission, which without libhadoop starts
      // a child process per entry (4.3–5.1 ms against 0.04–0.07 ms)
      def files(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) files(st.getPath) else Seq(st.getPath.toString)
      }
      PathOps.stemsWithSuffix(files(path), suffix)
    }
  }

  /** The `{date}.parquet` inputs of a flat catalog, as full paths in date
    * order: what a multi-path scan of every retained drop reads. An absent
    * or empty catalog fails here, naming the directory, rather than in the
    * scan's schema inference. */
  def catalog(dir: String): Seq[String] = {
    val dates = listStems(dir, ".parquet").toSeq.sorted
    require(dates.nonEmpty, s"no {date}.parquet drops under $dir")
    dates.map(d => PathOps.normalizePrefix(dir) + s"$d.parquet")
  }

  /** Done dates on the flat contract — for the orchestrators' marker
    * dirs, which they create and keep flat by construction. */
  def doneDatesFlat(markerDir: String): Set[String] =
    listStems(markerDir, ".json")

  /** Flat marker listing WITH commit times: date stem → the marker
    * file's modification time (epoch ms) — i.e. WHEN each date
    * committed, from the same single directory listing
    * [[doneDatesFlat]] pays. The orchestration-order oracle for
    * [[graft.operators.StoreInventory.missingVsLedger]]: store
    * mutations are lease-excluded and the operational contract runs
    * curation and maintenance sequentially, so a curate marker OLDER
    * than a family's newest committed fold marker proves the date's
    * partitions existed when that fold consumed them. */
  def doneTimesFlat(markerDir: String): Map[String, Long] = {
    val path = new Path(PathOps.normalizePrefix(markerDir))
    val fs = fsFor(markerDir)
    if (!fs.exists(path)) Map.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(st => st.getPath.getName.stripSuffix(".json") ->
        st.getModificationTime).toMap
  }

  /** List `{date}.parquet` inputs and `{date}.json` markers: flat for the
    * orchestrators' catalogs, recursively (`nested`) for the split engine,
    * the pinned reference quirk ([[listStems]]). */
  def backlog(inDir: String, markerDir: String, nested: Boolean = false): Backlog =
    Backlog(inDir, markerDir, listStems(inDir, ".parquet", nested),
      listStems(markerDir, ".json", nested))

  /** Does the date's input still exist? A listed date whose key is gone
    * (deleted since the listing, or nested under the split's recursive
    * listing) is O7's warn-and-skip. */
  def hasInput(b: Backlog, date: String): Boolean = {
    val p = new Path(b.inputKey(date))
    p.getFileSystem(conf).exists(p)
  }

  /** The incremental cycle (reference O16, parquet-splitter.py:140-186):
    * each missing date in sorted order, one at a time. A date whose input
    * is gone is skipped (O7). Otherwise `body(date)` runs; when it returns
    * the date's outputs, the date's marker is written LAST — the commit
    * point — and when it returns None the date is skipped with no marker,
    * so the next cycle lists it again. An exception ends the cycle, so
    * the markers it wrote cover exactly the missing dates before the
    * failed one. */
  def run(b: Backlog, kind: String)(body: String => Option[Seq[String]]): Cycle = {
    val committed = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[String]
    b.missing.foreach { date =>
      if (!hasInput(b, date)) skipped += date
      else body(date).foreach { outputs =>
        commit(b.markerDir, kind, date, b.inputKey(date), outputs)
        committed += date
      }
    }
    Cycle(committed.result(), skipped.result())
  }

  /** Write the marker for `date`, stamped now — the commit point, only
    * called after every output for the date has been durably written
    * (O14). */
  def commit(markerDir: String, kind: String, date: String, inputKey: String,
      outputs: Seq[String]): Unit =
    writeMarker(markerDir, Marker(kind, date, inputKey, outputs,
      MarkerLedger.stamp.format(Instant.now())))

  /** Write a marker document as given. */
  def writeMarker(markerDir: String, marker: Marker): Unit = {
    val p = new Path(PathOps.normalizePrefix(markerDir) + marker.date + ".json")
    val fs = fsFor(markerDir)
    val out = fs.create(p, true)
    try out.write(marker.toJson.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

object MarkerLedger {
  /** The markers' `generated_at` format (UTC, whole seconds). */
  private val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)
}
