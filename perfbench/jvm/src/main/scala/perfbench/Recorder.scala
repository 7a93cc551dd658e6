package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Epoch-aligned nanosecond clock shared by the harness's spans and the
  * listener's events (Spark stamps its events in epoch milliseconds). */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = base + System.nanoTime()
}

/** Task counters summed over one job's tasks. */
final class TaskAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var peakExecMem = 0L
}

final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int], execId: String) {
  var endMs: Long = -1L
}

/** The benchmark's own SparkListener: keeps every job's interval, its SQL
  * execution id and the counters of its tasks while `on` is set.
  * Events arrive on the listener bus thread; readers drain the bus first
  * (see [[org.apache.spark.perfbench.Bus]]) and then call [[take]]. */
final class Recorder extends SparkListener {
  @volatile var on = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobAgg = mutable.HashMap.empty[Int, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    val m = e.taskMetrics
    // a task is charged to the job that ran its stage: with AQE a shuffle
    // stage reappears, skipped, in the stage list of later jobs
    if (m != null && stageJob.contains(e.stageId)) {
      val a = jobAgg.getOrElseUpdate(stageJob(e.stageId), new TaskAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Every recorded job with its tasks' summed counters, oldest first;
    * clears the record. */
  def take(): Seq[(JobRec, TaskAgg)] = synchronized {
    val out = jobs.values.toSeq.map(j =>
      (j, jobAgg.getOrElse(j.id, new TaskAgg)))
    jobs.clear(); stageJob.clear(); jobAgg.clear()
    out
  }
}
