package graft.split

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SQLExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files
import scala.collection.mutable

/** Writes a DataFrame as ONE plain parquet FILE at `target` (not a Spark
  * dataset directory): the reference's per-date drop shape, which the
  * ledger lists. */
object PlainParquet {
  def write(df: DataFrame, target: String, rowGroupBytes: Option[Int] = None): Unit = {
    val fs = new Path(target).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmpDir = target + "_tmpwrite"
    val w = df.coalesce(1).write
    rowGroupBytes.fold(w)(b => w.option("parquet.block.size", b.toLong)).parquet(tmpDir)
    val part = fs.listStatus(new Path(tmpDir))
      .find(_.getPath.getName.startsWith("part-")).get
    fs.mkdirs(new Path(target).getParent)
    fs.rename(part.getPath, new Path(target))
    fs.delete(new Path(tmpDir), true)
  }
}

/** Hermetic split coverage on generated inputs: the one-pass parallel write
  * (job and task counts per date), the footer schema that replaces schema
  * inference, and ordered mode over many keys. */
class ParallelSplitSpec extends SparkSpec {

  /** `rows` events over `keys` keys for one date; `pos` is the row's input
    * position, so a file's `pos` sequence shows its row order. */
  private def events(date: Int, rows: Int, keys: Int): DataFrame =
    spark.range(rows).select(
      col("id").as("pos"),
      format_string("k%03d", pmod(col("id") * 7 + date, lit(keys))).as("item_id"),
      (col("id") * 31 + date).as("sales_figures"))

  /** Jobs and write stages of `body`, from a listener added around it. */
  private def recorded[T](body: => T): (T, Seq[(Int, Seq[Int])], Map[Int, Int]) = {
    val jobs = mutable.ArrayBuffer.empty[(Int, Seq[Int])]
    val writeStages = mutable.Map.empty[Int, Int] // stage id -> tasks
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e.jobId -> e.stageIds }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        if (s.taskMetrics.outputMetrics.bytesWritten > 0)
          writeStages.synchronized { writeStages(s.stageId) = s.numTasks }
      }
    }
    ListenerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val result = try body finally {
      ListenerBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (result, jobs.sortBy(_._1).toSeq, writeStages.toMap)
  }

  /** The executed plan of every write `body` runs, from a query-execution
    * listener registered around it. */
  private def writePlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try body finally {
      ListenerBridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    (result, plans.toSeq.filter(nodes(_).exists(_.isInstanceOf[DataWritingCommandExec])))
  }

  /** Every node of `plan`, looking inside AQE's final plan, its query
    * stages and command results. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case p => p.children.flatMap(nodes)
  })

  /** Ordered mode's contract in the plan: each of the `n` writes sorts
    * within partitions by the split key, then by input sequence. */
  private def assertSeqSorted(plans: Seq[SparkPlan], n: Int): Unit = {
    assert(plans.size == n, plans.map(_.treeString))
    for (p <- plans) {
      val localSorts = nodes(p).collect { case s: SortExec if !s.global =>
        s.sortOrder.map(_.child).collect { case a: Attribute => a.name }
      }
      assert(localSorts.contains(Seq("__split_key", "__seq")), p.treeString)
    }
  }

  private def markerOutputs(markerDir: String, date: String): Set[String] =
    spark.read.option("multiLine", "true").json(s"$markerDir/$date.json")
      .select(explode(col("outputs"))).collect().map(_.getString(0)).toSet

  /** Rows of every `outDir/{key}/{date}.parquet`, each tagged with its key dir. */
  private def outputsOf(outDir: String, date: String): DataFrame =
    spark.read.parquet(s"$outDir/*/$date.parquet")
      .withColumn("__dir", element_at(split(input_file_name(), "/"), -2))

  test("each date is split by one full-width keyed write in at most 3 Spark jobs") {
    val tmp = Files.createTempDirectory("split-parallel").toString
    val dates = Seq("20250101", "20250102")
    for ((d, i) <- dates.zipWithIndex)
      PlainParquet.write(events(i, rows = 600, keys = 60 + i), s"$tmp/in/$d.parquet")

    val (summary, jobs, writeStages) = recorded {
      new SplitJob(spark, SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers")).run()
    }
    assert(summary.processedDates == dates)
    assert(summary.droppedNullRows == dates.map(_ -> 0L).toMap)

    val n = spark.sessionState.conf.numShufflePartitions
    assert(n > 1)
    assert(writeStages.size == dates.size, writeStages)
    assert(writeStages.values.forall(_ == n),
      s"every write stage must run $n tasks: $writeStages")
    // dates run one after another and each ends with its write job, so the
    // jobs up to and including a write job are that date's
    val perDate = mutable.ArrayBuffer(0)
    for ((_, stages) <- jobs) {
      perDate(perDate.size - 1) += 1
      if (stages.exists(writeStages.contains)) perDate += 0
    }
    assert(perDate.last == 0, s"jobs after the last write: $jobs")
    assert(perDate.init.size == dates.size && perDate.init.forall(_ <= 3),
      s"Spark jobs per date: ${perDate.init}")

    // every key's file holds exactly its groupBy(key) group: the outputs'
    // rows equal the input's, each row sits in its own key's dir, and the
    // marker lists one file per group
    for (d <- dates) {
      val in = spark.read.parquet(s"$tmp/in/$d.parquet")
      val groups = in.collect().toSeq.groupBy(_.getAs[String]("item_id"))
        .map { case (k, rs) => k -> rs.map(_.toSeq.mkString("|")).sorted }
      assert(groups.size >= 50)
      assert(markerOutputs(s"$tmp/markers", d) ==
        groups.keySet.map(k => s"$tmp/out/$k/$d.parquet"))
      val got = outputsOf(s"$tmp/out", d).select(col("__dir") +: in.columns.map(col): _*)
        .collect().toSeq.groupBy(_.getString(0))
        .map { case (k, rs) => k -> rs.map(_.toSeq.tail.mkString("|")).sorted }
      assert(got == groups, d)
    }
  }

  /** The SQL execution id of each job `body` starts (None outside one). */
  private def jobExecutions[T](body: => T): (T, Map[Int, Option[String]]) = {
    val execs = mutable.Map.empty[Int, Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = execs.synchronized {
        execs(e.jobId) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      }
    }
    ListenerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val result = try body finally {
      ListenerBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (result, execs.toMap)
  }

  test("a date runs at most 2 Spark jobs, all inside its write's SQL execution") {
    val tmp = Files.createTempDirectory("split-jobs").toString
    val dates = Seq("20250101", "20250102", "20250103")
    for ((d, i) <- dates.zipWithIndex)
      PlainParquet.write(events(i, rows = 600, keys = 60 + i), s"$tmp/in/$d.parquet")

    val ((summary, jobs, writeStages), execs) = jobExecutions(recorded {
      new SplitJob(spark, SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers")).run()
    })
    assert(summary.processedDates == dates)
    assert(writeStages.size == dates.size, writeStages)
    // each date's jobs end with its write job; every one of them, the
    // first included, belongs to that write's SQL execution
    val perDate = mutable.ArrayBuffer(Seq.empty[Int])
    for ((id, stages) <- jobs) {
      perDate(perDate.size - 1) :+= id
      if (stages.exists(writeStages.contains)) perDate += Nil
    }
    assert(perDate.last.isEmpty && perDate.init.size == dates.size, s"jobs: $jobs")
    for (ids <- perDate.init) {
      assert(ids.size <= 2, s"Spark jobs per date: ${perDate.init}")
      val write = execs(ids.last)
      assert(write.isDefined && ids.forall(execs(_) == write), s"executions: $execs")
    }

    // a drop without the key column fails before any job
    PlainParquet.write(spark.range(5).toDF("v"), s"$tmp/nokey/20250101.parquet")
    val (e, noKeyJobs, _) = recorded {
      intercept[IllegalArgumentException](new Splitter(spark)
        .splitOne(s"$tmp/nokey/20250101.parquet", s"$tmp/nokey_out", "20250101"))
    }
    assert(e.getMessage.contains("missing required column 'item_id'"), e.getMessage)
    assert(noKeyJobs.isEmpty, noKeyJobs)
  }

  /** The split's scan of a plain file has Spark's inferred schema, and
    * starts no job. */
  private def assertFooterSchema(p: String): Unit = {
    val (scanned, jobs, _) = recorded(new Splitter(spark).scan(p).schema)
    assert(jobs.isEmpty, jobs)
    assert(scanned == spark.read.parquet(p).schema, scanned.treeString)
  }

  test("the footer schema equals Spark's inferred schema on a Spark-written file") {
    val tmp = Files.createTempDirectory("split-footer").toString
    PlainParquet.write(spark.sql("""select 'k1' as item_id,
        timestamp'2025-01-01 12:00:00' as ts,
        timestamp_ntz'2025-01-01 12:00:00' as ntz,
        cast(12.345 as decimal(12, 3)) as dec,
        cast('ab' as binary) as bin,
        array(1, 2, cast(null as int)) as arr,
        named_struct('a', 1L, 'b', 'x', 'c', array(named_struct('d', 1.5d))) as st"""),
      s"$tmp/20250101.parquet")
    assertFooterSchema(s"$tmp/20250101.parquet")
  }

  test("the footer schema equals Spark's inferred schema on a file without Spark metadata") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val tmp = Files.createTempDirectory("split-footer-plain").toString
    val p = new Path(s"$tmp/20250101.parquet")
    val schema = MessageTypeParser.parseMessageType("""message drop {
        required binary item_id (STRING);
        required int96 i96;
        optional binary raw;
        required int64 ns (TIMESTAMP(NANOS, true));
      }""")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("item_id", "k1").append("i96", new NanoTime(2460000, 0L))
      .append("raw", "abc").append("ns", 1L))
    finally writer.close()
    assert(spark.read.parquet(p.toString).schema.map(_.dataType) ==
      Seq(StringType, TimestampType, BinaryType, LongType))
    assertFooterSchema(p.toString)
  }

  /** Asserts every key file of `date` holds its key's rows in input order. */
  private def assertInputOrder(in: DataFrame, outDir: String, date: String): Unit = {
    val want = in.collect().groupBy(_.getAs[String]("item_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("pos")).sorted.toSeq }
    assert(want.size >= 50)
    // a small file is one split, read front to back, so collect() keeps
    // each file's row order
    val got = outputsOf(outDir, date).select("__dir", "pos").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSeq }
    for ((k, positions) <- want)
      assert(got.get(k).contains(positions), s"row order of $k/$date")
    assert(got.keySet == want.keySet)
  }

  /** One plain-parquet drop whose scan spans several input partitions, so
    * the keyed shuffle merges rows from several map tasks. */
  private def orderedDrop(target: String, date: Int): DataFrame = {
    PlainParquet.write(events(date, rows = 5000, keys = 64), target, rowGroupBytes = Some(4096))
    spark.read.parquet(target)
  }

  private def withSmallSplits[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "8192")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("preserveOrder through splitOne keeps each key's rows in input order") {
    withSmallSplits {
      val tmp = Files.createTempDirectory("split-ordered").toString
      val in = orderedDrop(s"$tmp/in/20250101.parquet", 1)
      assert(in.rdd.getNumPartitions > 1, "the drop must scan as several partitions")
      val (outcome, plans) = writePlans {
        new Splitter(spark, preserveOrder = true)
          .splitOne(s"$tmp/in/20250101.parquet", s"$tmp/out", "20250101")
      }
      assert(outcome.asInstanceOf[SplitOutcome.Written].distinctKeys == 64L)
      assertSeqSorted(plans, 1)
      assertInputOrder(in, s"$tmp/out", "20250101")
      // the salted ordered arm range-partitions, and sorts the same way
      val (_, salted) = writePlans {
        new Splitter(spark, preserveOrder = true, saltBuckets = 4)
          .splitOne(s"$tmp/in/20250101.parquet", s"$tmp/out_salted", "20250101")
      }
      assertSeqSorted(salted, 1)
    }
  }

  test("preserveOrder through SplitJob keeps each key's rows in input order on every date") {
    withSmallSplits {
      val tmp = Files.createTempDirectory("split-ordered-job").toString
      val ins = Seq("20250101", "20250102").zipWithIndex.map { case (d, i) =>
        d -> orderedDrop(s"$tmp/in/$d.parquet", i)
      }
      val (summary, plans) = writePlans {
        new SplitJob(spark, SplitConfig("test", s"$tmp/in", s"$tmp/out",
          s"$tmp/markers", preserveOrder = true)).run()
      }
      assert(summary.processedDates == ins.map(_._1))
      assertSeqSorted(plans, ins.size)
      for ((d, in) <- ins) assertInputOrder(in, s"$tmp/out", d)
    }
  }
}
