package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only TIMING probe for a named subset of queries — the optimization
  * loop's inner tool: identical session config and timed action (noop sink)
  * as [[Bench]], min over `reps` (arg 3, default 3) after one discarded
  * warm rep, one JSON line per query plus a compact total. The full Bench
  * pass costs ~40 min at 199 queries; iterating on five hot queries needs
  * seconds-per-signal, not minutes. Usage:
  *   runMain graft.TimeProbe <sfDir> q133_vector_store,q144_asof_search [reps]
  */
object TimeProbe {

  /** Seconds covered by the union of `(start, end)` nanosecond intervals.
    * Jobs overlap when families run concurrently ([[graft.operators
    * .FamilyPar]]), so the driver gap is wall minus this union — wall
    * minus the SUM of job durations goes negative. */
  private[graft] def unionSec(intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered / 1e9
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeProbe <sfDir> <q1,q2,...> [reps]")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // Job accounting: splits a query's wall time into "inside Spark jobs"
    // vs driver-side gaps (planning, metastore DDL, filesystem ops) — the
    // first fork in the optimization decision tree.
    val jobIntervals =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStarts.put(e.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(e.jobId)
          if (s != 0L) { jobIntervals.add((s, System.nanoTime())); () }
        }
      })
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // same JIT warm-up set as Bench
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      Seq("q01_agg", "q03_join_topk", "q07_window_rank", "q20_dedup_exact",
          "q30_knn_brute").foreach { n =>
        try run(SparkEntry.queries(n)(spark, warmDir))
        catch { case _: Throwable => () }
        sweep()
      }
    var total = 0.0
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      val times = (0 until reps).map { rep =>
        Phases.drain()
        jobIntervals.clear()
        val t0 = System.nanoTime()
        val ok = try { run(q(spark, dir)); true }
        catch { case e: Throwable =>
          System.err.println(s"TIMEPROBE FAIL $name: $e"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a beat before reading
        Thread.sleep(150)
        val jobs = jobIntervals.toArray(Array.empty[(Long, Long)]).toSeq
        val jobSec = jobs.map { case (s, e) => e - s }.sum / 1e9
        System.err.println(f"TIMEPROBE jobs $name rep=$rep wall=$dt%.2f " +
          f"njobs=${jobs.size} jobSec=$jobSec%.2f " +
          f"gapSec=${dt - unionSec(jobs)}%.2f")
        sweep()
        val ph = Phases.drain()
        if (ph.nonEmpty) System.err.println(
          s"TIMEPROBE phases $name: " + ph.toSeq.sortBy(_._1)
            .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
        if (ok) dt else -dt
      }
      val best = times.filter(_ >= 0) match {
        case s if s.nonEmpty => s.min
        case _ => times.min
      }
      total += math.max(best, 0)
      println(s"""TIMEPROBE {"q":"$name","best":$best,"raw":${times.mkString("[", ",", "]")}}""")
    }
    println(f"""TIMEPROBE {"total":$total%.3f,"n":${names.size}}""")
    spark.stop()
  }
}
