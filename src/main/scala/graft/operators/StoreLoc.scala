package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** WHERE a per-date store lives — a catalog TABLE ([[TableLoc]]) or a
  * plain-parquet `ds=<date>` directory ([[PathLoc]]). This is the only
  * thing the two store kinds differ in: [[StoreMaintenance]] writes the
  * fold, the expiry, the consistent read, the retention horizon and the
  * append lease ONCE over it, and both kinds keep the protocol files
  * (`_fold_pending_*`, `_compact_*_done`, leases, `_expired_through`,
  * `_folded_set_*`) in their root. */
sealed trait StoreLoc {

  /** The table name or the store directory (messages). */
  def name: String

  /** The store's root directory: a table's catalog location (throws
    * when the table is absent), or the directory itself. */
  def root(spark: SparkSession): Path

  def exists(spark: SparkSession): Boolean

  /** The `ds` partition values of an existing store (bounded metadata). */
  def partitions(spark: SparkSession): Seq[String]

  /** Every row, `ds` included. */
  def scan(spark: SparkSession): DataFrame

  /** The rows of the `dates` partitions, without `ds`. */
  def read(spark: SparkSession, dates: Seq[String]): DataFrame

  def dropPartition(spark: SparkSession, ds: String): Unit

  /** Land `rows` (no `ds` column) as the partition `label` — the fold's
    * publish step, before its commit marker. */
  def publish(spark: SparkSession, rows: DataFrame, label: String): Unit

  /** Remove what a crashed [[publish]] of `label` can leave beside the
    * store (a path store's staging dir; nothing for a table). */
  def unstage(spark: SparkSession, label: String): Unit

  /** Whether a fold or an expiry has a store to act on: an absent path
    * store is a no-op (false); an absent or non-per-date table throws. */
  def mutable(spark: SparkSession): Boolean

  final def fs(spark: SparkSession): FileSystem =
    root(spark).getFileSystem(spark.sparkContext.hadoopConfiguration)
}

/** A `ds`-partitioned catalog table. Folds publish through a bucketed
  * `saveAsTable` append that re-reads the table's bucket spec from the
  * catalog (never re-declared), so every layout property survives. */
final case class TableLoc(name: String) extends StoreLoc {

  private def meta(spark: SparkSession) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))

  def root(spark: SparkSession): Path = new Path(meta(spark).location)

  def exists(spark: SparkSession): Boolean = spark.catalog.tableExists(name)

  def partitions(spark: SparkSession): Seq[String] =
    spark.sql(s"SHOW PARTITIONS $name").collect()
      .map(_.getString(0).stripPrefix("ds=")).toSeq

  def scan(spark: SparkSession): DataFrame = spark.table(name)

  def read(spark: SparkSession, dates: Seq[String]): DataFrame =
    scan(spark).filter(col("ds").isin(dates.map(x => x: Any): _*)).drop("ds")

  def dropPartition(spark: SparkSession, ds: String): Unit = {
    spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (ds='$ds')")
    ()
  }

  def publish(spark: SparkSession, rows: DataFrame, label: String): Unit = {
    // same bucketed-append path as the daily ingests — spec preserved
    val base = rows.withColumn("ds", lit(label))
      .write.mode("append").partitionBy("ds")
    val writer = meta(spark).bucketSpec match {
      case Some(b) =>
        val bb = base.bucketBy(b.numBuckets,
          b.bucketColumnNames.head, b.bucketColumnNames.tail: _*)
        if (b.sortColumnNames.nonEmpty)
          bb.sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*)
        else bb
      case None => base
    }
    writer.saveAsTable(name)
  }

  def unstage(spark: SparkSession, label: String): Unit = ()

  def mutable(spark: SparkSession): Boolean = {
    val m = meta(spark)
    require(m.partitionColumnNames == Seq("ds"),
      s"$name is not a per-date store (partitions: ${m.partitionColumnNames})")
    true
  }

  /** Run a FIRST append (the table does not exist yet). An absent table
    * has no location to lease and no partitions a fold could drop — but
    * two concurrent first appends would still race the catalog's table
    * creation, so the init append runs under the EXCLUSIVE lease
    * machinery on a sibling of the would-be warehouse path (never the
    * path itself: a managed-table create refuses a non-empty location).
    * The loser fails fast and its retry takes the normal shared path; a
    * crashed init's lease ages out by the standard dead-pid/stillness
    * rules. */
  private[operators] def withInitLease[T](spark: SparkSession)(body: => T): T = {
    val initLoc = spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(name)).toString + "_init_lease"
    StoreMaintenance.acquireLease(spark, initLoc)
    try body
    finally {
      StoreMaintenance.releaseLease(spark, initLoc)
      // drop the (now-empty) sibling dir — warehouse hygiene
      val d = new Path(initLoc)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
      ()
    }
  }
}

/** A plain-parquet store under `dir/ds=<date>/`. Folds publish by
  * writing a sibling staging dir and renaming it into place as the label
  * partition (writing into the root while scanning it would race the
  * reader's file listing); the staging dir's `_SUCCESS` sidecar is
  * harmless to partition discovery. */
final case class PathLoc(dir: String) extends StoreLoc {

  def name: String = dir

  def root(spark: SparkSession): Path = new Path(dir)

  private def staging(spark: SparkSession, label: String): Path = {
    val r = root(spark)
    new Path(r.getParent, s"${r.getName}_staging_$label")
  }

  def exists(spark: SparkSession): Boolean = fs(spark).exists(root(spark))

  def partitions(spark: SparkSession): Seq[String] =
    fs(spark).listStatus(root(spark)).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("ds="))
      .map(_.stripPrefix("ds=")).toSeq

  def scan(spark: SparkSession): DataFrame = spark.read.parquet(dir)

  def read(spark: SparkSession, dates: Seq[String]): DataFrame =
    spark.read.parquet(
      dates.map(d => new Path(root(spark), s"ds=$d").toString): _*)

  def dropPartition(spark: SparkSession, ds: String): Unit = {
    fs(spark).delete(new Path(root(spark), s"ds=$ds"), true)
    ()
  }

  def publish(spark: SparkSession, rows: DataFrame, label: String): Unit = {
    val fs0 = fs(spark)
    val st = staging(spark, label)
    val labelDir = new Path(root(spark), s"ds=$label")
    fs0.delete(st, true)
    rows.write.mode("overwrite").parquet(st.toString)
    if (!fs0.rename(st, labelDir))
      throw new java.io.IOException(s"rename $st -> $labelDir failed")
  }

  def unstage(spark: SparkSession, label: String): Unit = {
    fs(spark).delete(staging(spark, label), true)
    ()
  }

  def mutable(spark: SparkSession): Boolean = exists(spark)
}
