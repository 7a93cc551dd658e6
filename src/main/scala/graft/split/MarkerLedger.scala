package graft.split

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

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

/** Driver-side processing ledger: which dates exist, which are done, and the
  * anti-join between them (reference/src/Split/parquet-splitter.py:125-138).
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

  /** List files under `dir` RECURSIVELY whose names end with `suffix`,
    * mirroring the reference's paginated ListObjectsV2+suffix filter (O2),
    * which lists the whole prefix subtree (parquet-splitter.py:48-57,125).
    * Faithful consequence (quirk §2.2.5): a file in a NESTED sub-prefix is
    * discovered here, but the per-date read key is reconstructed flat as
    * `{inDir}/{stem}.parquet` (SplitJob), so a nested input turns into a
    * MissingInput warn-and-skip — exactly the reference's
    * discovered-then-NoSuchKey behavior (parquet-splitter.py:145,150-152). */
  def listStems(dir: String, suffix: String): Set[String] = {
    val path = new Path(PathOps.normalizePrefix(dir))
    val fs = fsFor(dir)
    if (!fs.exists(path)) Set.empty
    else {
      val files = scala.collection.mutable.ListBuffer.empty[String]
      val it = fs.listFiles(path, true)
      while (it.hasNext) files += it.next().getPath.toString
      PathOps.stemsWithSuffix(files.toSeq, suffix)
    }
  }

  /** FLAT variant of [[listStems]] — the orchestrator catalog contract
    * ([[graft.operators.CurateJob]]/TakedownJob/MaintainJob): immediate
    * children only. The recursive walk above is the SPLIT engine's
    * pinned reference quirk (§2.2.5) and pays a per-file stat on the
    * whole subtree; a flat catalog needs one directory listing
    * (README, "Orchestrator ledger and suppression feed — measured at
    * 10-year scale"). */
  def listStemsFlat(dir: String, suffix: String): Set[String] = {
    val path = new Path(PathOps.normalizePrefix(dir))
    val fs = fsFor(dir)
    if (!fs.exists(path)) Set.empty
    else PathOps.stemsWithSuffix(
      fs.listStatus(path).map(_.getPath.toString).toSeq, suffix)
  }

  def inputDates(inDir: String): Set[String] = listStems(inDir, ".parquet")
  def doneDates(markerDir: String): Set[String] = listStems(markerDir, ".json")

  /** [[doneDates]] on the flat contract — for the orchestrators' marker
    * dirs, which they create and keep flat by construction. */
  def doneDatesFlat(markerDir: String): Set[String] =
    listStemsFlat(markerDir, ".json")

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

  /** The incremental core: `sorted(input − done)` (O5, parquet-splitter.py:135-138). */
  def missingDates(inDir: String, markerDir: String): Seq[String] =
    (inputDates(inDir) -- doneDates(markerDir)).toSeq.sorted

  /** Write the marker — the commit point, only called after every split
    * output for the date has been durably written (O14). */
  def writeMarker(markerDir: String, marker: Marker): Unit = {
    val p = new Path(PathOps.normalizePrefix(markerDir) + marker.date + ".json")
    val fs = fsFor(markerDir)
    val out = fs.create(p, true)
    try out.write(marker.toJson.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
