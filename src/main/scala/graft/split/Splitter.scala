package graft.split

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.operators.FamilyPar
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One-date split result (analog of the per-date section of process_kind,
  * reference/src/Split/parquet-splitter.py:144-186). */
sealed trait SplitOutcome
object SplitOutcome {
  /** Outputs written (full paths), marker may now be committed. */
  final case class Written(outputs: Seq[String], distinctKeys: Long, droppedNullRows: Long)
      extends SplitOutcome
  /** Input object missing → warn + skip, no marker (quirk §2.2, O7). */
  case object MissingInput extends SplitOutcome
  /** Empty input → skip; marker policy decided by the caller (SplitJob):
    * faithful mode writes NO marker — the reference's empty-file livelock
    * (parquet-splitter.py:154-156, SURVEY §2.2.4). */
  case object EmptyInput extends SplitOutcome
}

/** The split engine: read one date's parquet, validate, and write one output
  * file per distinct `keyCol` value at `outDir/{key}/{date}.parquet`
  * (reference O6–O12).
  *
  * Spark-first design notes (vs the reference's driver-RAM pandas loop):
  *  - the input is never materialized on the driver; a keyed
  *    `repartition(n, keyCol)` shuffles each key's rows to exactly one task,
  *    and the partitioned write fans out across executors — Spark tasks
  *    replace the thread pool (O12). Every hash arm passes the session's
  *    shuffle-partition count `n` explicitly: AQE coalesces a
  *    `repartition(col)` shuffle by its byte size, and a small date's keyed
  *    shuffle (tens of KB for hundreds of keys) then collapses into ONE
  *    write task that writes every output file serially; AQE never
  *    coalesces a shuffle whose partition count is given. Without AQE a
  *    `repartition(col)` also gets exactly `n`, so the given count only
  *    removes the coalescing;
  *  - a failed task fails the Spark action, which aborts the date BEFORE its
  *    marker is written — same commit semantics as the reference's
  *    as_completed + raise (parquet-splitter.py:169-171);
  *  - null keys are dropped explicitly (pandas groupby dropna quirk,
  *    SURVEY §2.2.3) and counted, instead of silently;
  *  - hot keys at 100 TB: `saltBuckets > 1` spreads hot keys across tasks
  *    (hash-salted round-robin in unordered mode; range-partitioned into
  *    max(saltBuckets, shuffle partitions) contiguous chunks in ordered
  *    mode) and `maxRecordsPerFile > 0` bounds output file size; both
  *    leave reference-parity mode (exactly one `{key}/{date}.parquet` per
  *    key), so multi-part outputs are written as numbered
  *    `{key}/{date}-NNNNN.parquet` files instead (numeric part order =
  *    input order in ordered mode; N widens past 5 digits as needed).
  *
  * @param preserveOrder when true, each output file keeps the input's row
  *   order within its key group (the reference's pandas-groupby semantics,
  *   SURVEY.md §2.2.2): rows are tagged with a monotonic sequence before the
  *   key shuffle and sorted within each output partition. Costs a
  *   sort-within-partition per output task; leave false when only multiset
  *   equality matters.
  * @param maxRecordsPerFile 0 = single file per key (parity); >0 bounds rows
  *   per output file (Spark splits a task's output at the bound).
  * @param saltBuckets 1 = one task per key (parity); >1 bounds task/file
  *   size under skew. Unordered mode hash-salts each key over exactly that
  *   many tasks; ordered mode range-partitions (key, sequence) into
  *   max(saltBuckets, session shuffle partitions) total tasks so each
  *   key's files stay contiguous chunks of its input order (concatenating
  *   them in numeric part order reconstructs it).
  */
final class Splitter(spark: SparkSession, keyCol: String = "item_id",
    preserveOrder: Boolean = false, maxRecordsPerFile: Long = 0L,
    saltBuckets: Int = 1) {
  import Splitter.{CId, PartId}
  require(saltBuckets >= 1, "saltBuckets must be >= 1")

  /** Reference-parity layout contract: exactly one part file per key. */
  private def parityLayout: Boolean = maxRecordsPerFile == 0L && saltBuckets == 1

  private def shufflePartitions: Int = spark.sessionState.conf.numShufflePartitions

  /** Split one date in one Spark pass. The missing-file and missing-column
    * guards need no job; the empty-input guard and the null-key count are
    * taken INSIDE the keyed write by an `Observation` (row count and
    * non-null key count), so the input is scanned once. An empty date
    * writes nothing: its staging dir holds no key dir and is deleted by the
    * promote. Layout parity: writes via `partitionBy` on a duplicated key
    * column (so the data keeps `keyCol`, like the reference), then the
    * promote collapses `__split_key={k}/part-*.parquet` to
    * `{k}/{date}.parquet` — a few FS metadata ops per key, run in parallel
    * across keys. */
  def splitOne(inPath: String, outDir: String, date: String): SplitOutcome = {
    val p = new Path(inPath)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      SplitOutcome.MissingInput
    else splitPresent(inPath, outDir, date)
  }

  /** [[splitOne]] past its missing-file guard: the ledger's cycle has
    * already checked that the input exists. */
  private[split] def splitPresent(inPath: String, outDir: String,
      date: String): SplitOutcome = {
    val df = spark.read.parquet(inPath)
    require(df.columns.contains(keyCol),
      s"input $inPath is missing required column '$keyCol'") // O9, job-fatal

    // count(keyCol) skips nulls. A scan with no partitions runs no task, and
    // the observation then completes with no row: that is zero rows.
    val counts = Observation()
    val outputs = writeGroups(
      df.observe(counts, count(lit(1)).as("total"), count(col(keyCol)).as("keyed")),
      outDir, date)
    val observed = counts.get
    def counted(name: String) = observed.get(name).fold(0L)(_.asInstanceOf[Long])
    val total = counted("total")
    if (total == 0L) return SplitOutcome.EmptyInput // O8
    val distinctKeys = outputs
      .map(p => new Path(p).getParent.getName).distinct.size.toLong
    SplitOutcome.Written(outputs.sorted, distinctKeys, total - counted("keyed"))
  }

  /** The keyed write path alone (no guards): output files per distinct
    * non-null key at `outDir/{key}/{date}[-NNNNN].parquet`. Shared by the
    * batch ledger job and the streaming variant's foreachBatch. */
  def writeGroups(df: DataFrame, outDir: String, date: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(conf)
    val stagingDir = PathOps.normalizePrefix(outDir) + s"_staging_$date"
    val keyed = df.filter(col(keyCol).isNotNull)
      .withColumn("__split_key", col(keyCol))
    val seqd =
      if (preserveOrder || saltBuckets > 1)
        keyed.withColumn("__seq", monotonically_increasing_id())
      else keyed
    val n = shufflePartitions
    val arranged = (preserveOrder, saltBuckets) match {
      case (true, 1) =>
        seqd.repartition(n, col("__split_key"))
          .sortWithinPartitions(col("__split_key"), col("__seq"))
          .drop("__seq")
      case (true, s) => // salted + ordered: a RANGE partitioner on
        // (key, __seq) keeps each key's chunks contiguous — file p's rows
        // all precede file p+1's in the input — so concatenating a key's
        // numbered files in part order reconstructs its input sequence
        // exactly (a pmod salt would round-robin rows across files and
        // lose that property). The task count is max(s, session shuffle
        // partitions) so a small saltBuckets never CAPS job parallelism —
        // the sampler gives hot keys proportionally more tasks. Note the
        // range boundaries come from sampling: WHICH rows land in which
        // file may vary run to run; the per-key concatenation order and
        // the row multiset are the invariants.
        seqd.repartitionByRange(math.max(s, n), col("__split_key"), col("__seq"))
          .sortWithinPartitions(col("__split_key"), col("__seq"))
          .drop("__seq")
      case (false, 1) => keyed.repartition(n, col("__split_key"))
      case (false, s) => // salt spreads one hot key over s shuffle tasks
        seqd.repartition(n, col("__split_key"), pmod(col("__seq"), lit(s)))
          .drop("__seq")
    }
    val writer = arranged.write.mode("overwrite").partitionBy("__split_key")
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(stagingDir)
    promoteStaging(fs, stagingDir, outDir, date)
  }

  /** Move `_staging/{__split_key=k}/part-*.parquet` into place. Parity mode
    * asserts exactly one part per key → `outDir/k/{date}.parquet`; bounded
    * modes (salt / maxRecordsPerFile) number the parts in task order →
    * `outDir/k/{date}-NNNNN.parquet` (a single part keeps the parity name,
    * so unskewed keys look identical in either mode). The staging dir is
    * listed once; each key's list, mkdirs, cleanup and rename touch only
    * that key's dirs, so keys run in parallel on a driver pool bounded by
    * the session's shuffle-partition count (a few ms of FS round-trips per
    * key add up to seconds at thousands of keys). A failed key fails the
    * date after every key has settled, before the staging dir is removed
    * and before the caller's marker. Results stay in listing order. */
  private def promoteStaging(fs: FileSystem, stagingDir: String, outDir: String,
      date: String): Seq[String] = {
    val staging = new Path(stagingDir)
    val keyDirs = fs.listStatus(staging).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__split_key="))
    // idempotent overwrite (O11): clear every prior file for this date,
    // including stale numbered parts from a previous bounded-mode run
    // with a different part count. Match ONLY this date's exact name or
    // its `-NNNNN` part numbering — a looser `{date}-*` prefix would
    // delete outputs of a DIFFERENT date whose stem merely starts with
    // this one (stems are arbitrary strings, SURVEY §2.2.5).
    // \d{5,}: part numbers are zero-padded to 5 digits but grow wider
    // past 99999 parts; the cleanup must match those too or a rerun
    // with fewer parts would leave stale wide-numbered files behind.
    val partPattern = java.util.regex.Pattern
      .compile(java.util.regex.Pattern.quote(date) + "-\\d{5,}\\.parquet")
    val outputs = FamilyPar.map(keyDirs, shufflePartitions) { st =>
      val key = st.getPath.getName.stripPrefix("__split_key=")
      val parts = fs.listStatus(st.getPath).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .sortBy { f => // (numeric task id, numeric c-counter, name): both
          // ids are NUMERIC — lexicographic order misorders either counter
          // once it widens past its zero-padding (…-c999 → …-c1000)
          val nm = f.getPath.getName
          (PartId.findFirstMatchIn(nm).map(_.group(1).toLong)
            .getOrElse(Long.MaxValue),
            CId.findFirstMatchIn(nm).map(_.group(1).toLong).getOrElse(0L),
            nm)
        }
      if (parityLayout) require(parts.size == 1,
        s"expected exactly one part file for key $key, got ${parts.size}")
      val targetDir = new Path(PathOps.normalizePrefix(outDir) + key)
      fs.mkdirs(targetDir)
      fs.listStatus(targetDir).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && (n == s"$date.parquet" || partPattern.matcher(n).matches())
      }.foreach(f => fs.delete(f.getPath, false))
      parts.zipWithIndex.map { case (part, i) =>
        val name =
          if (parts.size == 1) s"$date.parquet" else f"$date-$i%05d.parquet"
        val target = new Path(targetDir, name)
        require(fs.rename(part.getPath, target), s"rename failed for $key")
        target.toString
      }
    }.flatten
    fs.delete(staging, true)
    outputs
  }
}

private object Splitter {
  // NUMERIC sort on the part id: lexicographic name order misorders ids
  // past 99999 ("part-100000" < "part-10001"), which would break the
  // ordered-mode concatenation contract exactly in the huge-date regime;
  // same for our own emitted "-NNNNN" numbering.
  val PartId = "part-(\\d+)".r
  // the c-counter (a task's maxRecordsPerFile split index) sits right
  // before the extension: "…-c000.snappy.parquet". Anchor on the trailing
  // dot so a uuid segment that happens to start with 'c' can never match.
  val CId = "-c(\\d+)\\.".r
}
