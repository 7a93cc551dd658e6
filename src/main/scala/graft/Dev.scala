package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Dev CLI for diagnosing registered queries. Every mode runs on one
  * [[Session]] with Bench's noop sink, and one listener records every
  * Spark job (id, start, end, the call site of its SQL execution):
  *
  *   - `time <sfDir> <q1,q2,...> [reps]` — Bench's JIT warm-up, then
  *     `reps` (default 3) timed runs per query. Per rep: wall, job count,
  *     summed job seconds and the driver gap (wall minus the union of job
  *     intervals), plus the [[Phases]] split; per query the min over reps
  *     (a failed rep records its negative time-to-failure). The optimization
  *     loop's inner tool: seconds per signal, where Bench needs a full pass.
  *   - `jobs <sfDir> <q>` — one warm run, then one counted run: jobs and
  *     their summed seconds per SQL-execution call site, costliest first.
  *     AQE runs every shuffle stage as its own job, so a lifecycle of N
  *     driver actions × k shuffles pays N·k fixed scheduling overheads;
  *     this is how those jobs get names.
  *   - `gap <sfDir> <q>` — one warm run, then one sampled run: every ~5 ms
  *     while no job is active, each live thread's stack is sampled and
  *     counted by signature (RUNNABLE threads by their most informative
  *     frame; blocked threads inside graft code by where they blocked).
  *     It prints the share of samples taken in the gap and each
  *     signature's share of the gap samples, never seconds: sampling slows
  *     the run it samples (q194 at sf0.01: 31.7 s against 20.2 s), so the
  *     gap's seconds come from `time`'s unsampled reps.
  *   - `rows <sfDir> <q>` — the query's row count: a one-query check at
  *     any scale factor without a Verify pass over the registry (e.g.
  *     banded-candidate recall at sf0.1).
  *   - `plan <sfDir> [q...]` — formatted physical plans with exchange,
  *     parquet-scan and broadcast counts (every query if none is named).
  */
object Dev {

  private val usage = "usage: Dev time <sfDir> <q1,q2,...> [reps] | " +
    "jobs|gap|rows <sfDir> <query> | plan <sfDir> [query...]"

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

  /** Seconds during which some job of `done` was running. */
  private def jobSpan(done: Seq[Job]): Double =
    unionSec(done.map(j => (j.start, j.end)))

  private final class Job(val site: String, val start: Long) {
    @volatile var end = 0L
    def sec: Double = (end - start) / 1e9
  }

  /** Every job since the last [[clear]], keyed by job id. */
  private final class Jobs extends SparkListener {
    private val siteOf = new ConcurrentHashMap[Long, String]()
    private val jobs = new ConcurrentHashMap[Int, Job]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // the description is the driver call site of the SQL action
      case s: SparkListenerSQLExecutionStart =>
        siteOf.put(s.executionId, s.description); ()
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(siteOf.get(id.toLong)))
        .orElse(e.stageInfos.lastOption.map("rdd: " + _.name))
        .getOrElse("?")
      jobs.put(e.jobId, new Job(site, System.nanoTime())); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())

    def clear(): Unit = jobs.clear()
    def active: Int = jobs.values.asScala.count(_.end == 0L)
    /** Ended jobs, once every queued listener event is delivered. */
    def done(spark: SparkSession): Seq[Job] = {
      ListenerBridge.drainListenerBus(spark.sparkContext)
      jobs.values.asScala.filter(_.end > 0L).toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val (mode, dir, rest) = (args(0), args(1), args.drop(2).toSeq)
    require(mode == "plan" || rest.nonEmpty, usage)
    Session.run("graft-dev") { spark =>
      val jobs = new Jobs
      spark.sparkContext.addSparkListener(jobs)
      mode match {
        case "time" => time(spark, jobs, dir,
          rest.head.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          rest.drop(1).headOption.fold(3)(_.toInt))
        case "jobs" => jobsBySite(spark, jobs, dir, rest.head)
        case "gap" => gap(spark, jobs, dir, rest.head)
        case "rows" =>
          println(s"ROWS ${rest.head} rows=" +
            SparkEntry.queries(rest.head)(spark, dir).count())
        case "plan" => plan(spark, dir,
          if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted)
        case _ => throw new IllegalArgumentException(usage)
      }
    }
  }

  private def time(spark: SparkSession, jobs: Jobs, dir: String,
      names: Seq[String], reps: Int): Unit = {
    Bench.warmUp(spark)
    var total = 0.0
    names.foreach { name =>
      val times = (0 until reps).map { rep =>
        jobs.clear()
        val (t, ph) = Bench.timeOne(spark, dir, name)
        val done = jobs.done(spark)
        System.err.println(f"TIME jobs $name rep=$rep wall=${t.abs}%.2f " +
          f"njobs=${done.size} jobSec=${done.map(_.sec).sum}%.2f " +
          f"gapSec=${t.abs - jobSpan(done)}%.2f")
        if (ph.nonEmpty) System.err.println(
          s"TIME phases $name: " + ph.toSeq.sortBy(_._1)
            .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
        t
      }
      // unlike Bench, where one failed rep poisons the query: the min over
      // the successful reps (negative only when every rep failed)
      val best = times.filter(_ >= 0) match {
        case s if s.nonEmpty => s.min
        case _ => times.min
      }
      total += math.max(best, 0)
      println(s"""TIME {"q":"$name","best":$best,"raw":${times.mkString("[", ",", "]")}}""")
    }
    println(f"""TIME {"total":$total%.3f,"n":${names.size}}""")
  }

  /** Runs `name` once unmeasured (JIT, classloading), then returns the
    * wall seconds of `measured` around a second run. */
  private def warmThenTime(spark: SparkSession, dir: String, name: String)(
      measured: (=> Unit) => Unit): Double = {
    try Bench.run(SparkEntry.queries(name)(spark, dir))
    catch { case e: Throwable => System.err.println(s"warm fail: $e") }
    val t0 = System.nanoTime()
    measured(Bench.run(SparkEntry.queries(name)(spark, dir)))
    (System.nanoTime() - t0) / 1e9
  }

  private def jobsBySite(spark: SparkSession, jobs: Jobs, dir: String,
      name: String): Unit = {
    val wall = warmThenTime(spark, dir, name) { body => jobs.clear(); body }
    val done = jobs.done(spark)
    println(f"JOBS $name wall=$wall%.2f njobs=${done.size} " +
      f"jobSec=${done.map(_.sec).sum}%.2f")
    done.groupBy(_.site).toSeq.map { case (s, js) => (s, js.size, js.map(_.sec).sum) }
      .sortBy(-_._3).foreach { case (s, n, sec) =>
        println(f"JOBS   $sec%7.2f s  n=$n%-4d $s")
      }
  }

  /** The signature of a RUNNABLE stack: its top frame, the first Spark/
    * Hadoop/Parquet frame and the innermost graft frame; None for threads
    * that only poll or wait although RUNNABLE. */
  private def frameSig(st: Array[StackTraceElement]): Option[String] = {
    if (st.isEmpty) return None
    val top = st.head
    val tc = top.getClassName
    if (tc.contains("epoll") || tc.contains("EPoll") ||
      tc.contains("Socket") || tc.contains("Net") ||
      top.getMethodName.contains("poll") ||
      top.getMethodName.contains("wait") ||
      top.getMethodName.contains("park") ||
      top.getMethodName.contains("accept")) return None
    val graft = st.find(f => f.getClassName.startsWith("graft."))
      .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
    val spark = st.find { f =>
      val c = f.getClassName
      c.startsWith("org.apache.spark.sql.execution") ||
      c.startsWith("org.apache.spark.sql.catalyst") ||
      c.startsWith("org.apache.spark.sql.DataFrameWriter") ||
      c.startsWith("org.apache.hadoop") ||
      c.startsWith("org.apache.parquet") ||
      c.startsWith("org.apache.spark.scheduler")
    }.map(f => s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}")
    val topSig = s"${tc.split('.').takeRight(1).mkString}.${top.getMethodName}"
    Some(Seq(Some(topSig), spark, graft.map("@" + _)).flatten.mkString(" | "))
  }

  private def gap(spark: SparkSession, jobs: Jobs, dir: String,
      name: String): Unit = {
    val counts = new ConcurrentHashMap[String, Int]()
    @volatile var sampling = false
    @volatile var gapSamples = 0L
    @volatile var allSamples = 0L
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        if (sampling) {
          allSamples += 1
          if (jobs.active == 0) {
            gapSamples += 1
            val self = Thread.currentThread()
            Thread.getAllStackTraces.forEach { (t, st) =>
              if (t ne self) {
                // RUNNABLE threads show where CPU burns; blocked threads
                // inside query-driving code show what the driver is
                // WAITING on (both matter for gap attribution)
                if (t.getState == Thread.State.RUNNABLE)
                  frameSig(st).foreach(sig =>
                    counts.merge(sig, 1, Integer.sum(_, _)))
                else if (st.exists(_.getClassName.startsWith("graft."))) {
                  // top frames are park/wait here; key on the first
                  // non-JDK frame (what the code was doing when it
                  // blocked) plus the innermost graft frame
                  val blockedAt = st.find { f =>
                    val c = f.getClassName
                    !c.startsWith("java.") && !c.startsWith("jdk.") &&
                    !c.startsWith("sun.") && !c.startsWith("scala.concurrent.")
                  }.map(f => s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}")
                  val graftF = st.find(_.getClassName.startsWith("graft."))
                    .map(f => s"@${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
                  val sig = s"[${t.getState}] " +
                    Seq(blockedAt, graftF).flatten.mkString(" | ")
                  counts.merge(sig, 1, Integer.sum(_, _)); ()
                }
              }
            }
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try warmThenTime(spark, dir, name) { body =>
      jobs.clear(); sampling = true
      try body finally sampling = false
    } finally { running = false; sampler.join() }
    val gapFrac = gapSamples.toDouble / math.max(1, allSamples)
    println(f"GAP $name samples=$allSamples gapFrac=$gapFrac%.2f")
    val total = counts.values.asScala.sum.toDouble
    counts.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (sig, n) =>
      println(f"GAP   ${100 * n / total}%5.1f%%  n=$n%-5d $sig")
    }
  }

  private def plan(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n======== $n ========")
      val df = SparkEntry.queries(n)(spark, dir)
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      println(s"[audit] $n: exchanges=${"Exchange".r.findAllIn(plan).size} " +
        s"parquetScans=${"Scan parquet".r.findAllIn(plan).size} " +
        s"broadcasts=${"BroadcastExchange".r.findAllIn(plan).size}")
    }
}
