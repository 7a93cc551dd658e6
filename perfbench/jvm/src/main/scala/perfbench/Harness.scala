package perfbench

import graft.split.{SplitConfig, SplitJob}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import scala.io.StdIn

/** The benchmark's JVM side: one SparkSession at `local[cores]` that runs
  * commands read from stdin, one per line, fields separated by tabs, and
  * answers each with one line `@@PB <json>` on stdout. Spark logs go to
  * stderr. Commands:
  *
  *  - `split <trace> <kind> <inDir> <outDir> <markerDir> <keyCol>` — one
  *    `SplitJob.run()`;
  *  - `ops <trace> <ledgerDirs,csv> <markerDirs,csv> <arg>...` — one
  *    `OpsMain.run(args)`;
  *  - `serve_postings <table> <out>` — the BM25 serve over a postings
  *    store, written as parquet for the correctness gate;
  *  - `serve_spans <docsDir> <where> <spansStore> <out>` — the span report
  *    of the drops' documents that satisfy `where`;
  *  - `oracle <query>` — the DuckDB oracle SQL the program ships for a query;
  *  - `sql <statement>`, `quit`.
  *
  * With `<trace>` = 1 the answer carries the call's Spark jobs (interval,
  * SQL execution id, summed task counters) and its filesystem events
  * ([[FsEvent]]) and the bytes read from the input directories' files;
  * with 0 it carries only the call's start and end.
  *
  * Usage: Harness <cores> <trace 0|1> <warehouseDir> <localDir> */
object Harness {

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(cores, traceArg, warehouse, localDir) = args
    val traceable = traceArg == "1"
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
    if (traceable) b.config("spark.hadoop.fs.file.impl", classOf[TracingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.sparkContext.hadoopConfiguration
    val recorder = new Recorder
    if (traceable) {
      if (!FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[TracingFs])
        FileSystem.closeAll() // a stock instance was cached before the session
      require(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[TracingFs],
        "tracing filesystem not installed")
      spark.sparkContext.addSparkListener(recorder)
    }
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    reply(s"""{"ready":true,"jvm_start_ms":${jvm.getStartTime},""" +
      s""""ready_ns":${Clock.nowNs},"spark":${q(spark.version)},""" +
      s""""java":${q(System.getProperty("java.version"))},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory / 1048576}}""")

    /** Time `body`, recording its jobs and filesystem events when traced. */
    def measured(trace: Boolean, ledgerDirs: Seq[String], probeDirs: Seq[String],
        markerDirs: Seq[String])(body: => String): String = {
      val tr = trace && traceable
      if (tr) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        recorder.take()
        recorder.on = true
        FsTrace.arm(ledgerDirs, probeDirs, markerDirs)
      }
      val t0 = Clock.nowNs
      var events = Seq.empty[FsEvent]
      var inputRead = 0L
      val result = try body finally {
        if (tr) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          recorder.on = false
          val (ev, n) = FsTrace.disarm()
          events = ev; inputRead = n
        }
      }
      val t1 = Clock.nowNs
      val extra = if (!tr) "" else {
        val fs = events.map(e =>
          s"""{"kind":${q(e.kind)},"path":${q(e.path)},"t0":${e.t0},""" +
            s""""t1":${e.t1},"n":${e.n}}""").mkString("[", ",", "]")
        val jobs = recorder.take().map { case (j, a) =>
          s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
            s""""exec":${q(j.execId)},""" +
            s""""tasks":${a.tasks},"run_ms":${a.runMs},"cpu_ns":${a.cpuNs},""" +
            s""""input_bytes":${a.inputBytes},""" +
            s""""shuffle_write_bytes":${a.shuffleWriteBytes},""" +
            s""""spill_bytes":${a.spillBytes},"output_bytes":${a.outputBytes},""" +
            s""""output_records":${a.outputRecords},""" +
            s""""peak_exec_mem":${a.peakExecMem}}"""
        }.mkString("[", ",", "]")
        s""","input_read_bytes":$inputRead,"fs":$fs,"jobs":$jobs"""
      }
      s"""{"t0":$t0,"t1":$t1,"result":$result$extra}"""
    }

    var line = StdIn.readLine()
    while (line != null && line != "quit") {
      val f = line.split("\t", -1).toSeq
      val answer = try f.head match {
        case "split" =>
          val Seq(tr, kind, in, out, markers, key) = f.tail
          measured(tr == "1", Seq(in, markers), Seq(in), Seq(markers)) {
            val s = new SplitJob(spark, SplitConfig(kind, in, out, markers, key)).run()
            s"""{"input_dates":${s.inputDates},"done_dates":${s.doneDates},""" +
              s""""processed":${s.processedDates.map(q).mkString("[", ",", "]")},""" +
              s""""skipped":${(s.skippedMissing ++ s.skippedEmpty).size}}"""
          }
        case "ops" =>
          val tr +: ledger +: markers +: opsArgs = f.tail
          def dirs(csv: String) = csv.split(",").toSeq.filter(_.nonEmpty)
          measured(tr == "1", dirs(ledger), Nil, dirs(markers)) {
            graft.OpsMain.run(opsArgs.toArray, spark)
          }
        case "serve_postings" =>
          val Seq(table, out) = f.tail
          graft.operators.IncrementalPostings
            .bm25Bucketed(spark, table, Seq("data", "query"))
            .write.mode("overwrite").parquet(out)
          "{}"
        case "serve_spans" =>
          val Seq(docsDir, where, store, out) = f.tail
          val docs = spark.read.parquet(docsDir).filter(expr(where))
          graft.operators.IncrementalSpans.report(docs, store)
            .write.mode("overwrite").parquet(out)
          "{}"
        case "oracle" =>
          q(graft.SparkEntry.oracleSql(f(1)))
        case "sql" =>
          spark.sql(f(1)).collect()
          "{}"
        case other => throw new IllegalArgumentException(s"unknown command $other")
      } catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          System.err.println(sw)
          s"""{"error":${q(e.toString)}}"""
      }
      reply(answer)
      line = StdIn.readLine()
    }
    spark.stop()
  }

  private def reply(json: String): Unit = {
    System.out.println("@@PB " + json)
    System.out.flush()
  }
}
