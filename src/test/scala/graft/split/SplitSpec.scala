package graft.split

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Reference-parity tests against the golden corpus at
  * /root/reference/sample-data (read-only). See SURVEY.md §5. */
class SplitSpec extends SparkSpec {

  private val golden = "/root/reference/sample-data/data"

  private def freshJob(tmp: String) = new SplitJob(spark,
    SplitConfig("test", s"$golden/input", s"$tmp/output", s"$tmp/markers"))

  test("PathOps stems + prefix normalization handle reference edge cases") {
    assert(PathOps.normalizePrefix("a/b///") == "a/b/")
    assert(PathOps.normalizePrefix("a/b") == "a/b/")
    assert(PathOps.stemsWithSuffix(
      Seq("p/20251107.parquet", "p/x.json", "p/sub/20250101.parquet", "p/foo.parquet"),
      ".parquet") == Set("20251107", "20250101", "foo"))
  }

  test("Marker serializes to the reference JSON shape") {
    val m = Marker("pyshell", "20251107", "in/20251107.parquet",
      Seq("out/a/20251107.parquet"), "2025-11-22T03:25:16Z")
    val js = m.toJson
    assert(js.contains("\"kind\": \"pyshell\""))
    assert(js.contains("\"output_count\": 1"))
    assert(js.contains("\"generated_at\": \"2025-11-22T03:25:16Z\""))
  }

  test("Marker escapes quote, backslash and control characters and keeps non-ASCII as UTF-8") {
    val m = Marker("split\"kind", "2025\\11\\07", "in/\u0007bell.parquet",
      Seq("out/k\u00e9y/\u65e5\u4ed8.parquet", "out/tab\tkey/x.parquet"),
      "2025-11-22T03:25:16Z")
    val want = "{\"kind\": \"split\\\"kind\", \"date\": \"2025\\\\11\\\\07\", " +
      "\"input_key\": \"in/\\u0007bell.parquet\", \"outputs\": " +
      "[\"out/k\u00e9y/\u65e5\u4ed8.parquet\", \"out/tab\\u0009key/x.parquet\"], " +
      "\"output_count\": 2, \"generated_at\": \"2025-11-22T03:25:16Z\"}"
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    assert(m.toJson.getBytes(utf8).toSeq == want.getBytes(utf8).toSeq, m.toJson)
  }

  test("golden corpus: full run splits 3 dates x 30 keys and matches golden outputs") {
    val tmp = Files.createTempDirectory("split-golden").toString
    val summary = freshJob(tmp).run()

    assert(summary.missingDates == Seq("20251107", "20251114", "20251121"))
    assert(summary.processedDates == Seq("20251107", "20251114", "20251121"))

    // 30 keys per date, marker per date
    for (date <- Seq("20251107", "20251114", "20251121")) {
      assert(Files.exists(Paths.get(s"$tmp/markers/$date.json")))
      val markerJson = new String(Files.readAllBytes(Paths.get(s"$tmp/markers/$date.json")))
      assert(markerJson.contains("\"output_count\": 30"), markerJson.take(200))
    }

    // row-set equality vs every checked-in golden output
    for (item <- Seq("0000000001", "0000000002", "0000000003");
         date <- Seq("20251107", "20251114", "20251121")) {
      val got = spark.read.parquet(s"$tmp/output/$item/$date.parquet")
      val want = spark.read.parquet(s"$golden/output/$item/$date.parquet")
      assert(got.count() == want.count(), s"$item/$date row count")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$item/$date row multiset mismatch")
    }
  }

  test("ledger: second run is a no-op; deleting one marker reprocesses exactly that date") {
    val tmp = Files.createTempDirectory("split-ledger").toString
    freshJob(tmp).run()
    val second = freshJob(tmp).run()
    assert(second.missingDates.isEmpty && second.processedDates.isEmpty)

    Files.delete(Paths.get(s"$tmp/markers/20251114.json"))
    val third = freshJob(tmp).run()
    assert(third.processedDates == Seq("20251114"))
  }

  // The ledger cycle on generated drops (no golden corpus needed): one plain
  // parquet file per date, 12 keys each.
  private val genDates = Seq("20250101", "20250102", "20250103")

  private def genDrop(tmp: String, date: String, keyCol: String = "item_id"): Unit =
    PlainParquet.write(spark.range(48).select(
      format_string("k%02d", pmod(col("id") * 5 + date.toLong, lit(12))).as(keyCol),
      (col("id") + date.toLong).as("sales_figures")), s"$tmp/in/$date.parquet")

  private def genJob(tmp: String) = new SplitJob(spark,
    SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers"))

  private def markerOf(tmp: String, date: String): Option[String] = {
    val p = Paths.get(s"$tmp/markers/$date.json")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p))) else None
  }

  test("ledger on generated drops: second run is a no-op; deleting one marker reprocesses exactly that date") {
    val tmp = Files.createTempDirectory("split-ledger-gen").toString
    genDates.foreach(genDrop(tmp, _))
    val first = genJob(tmp).run()
    assert(first.missingDates == genDates && first.processedDates == genDates)
    val markers = genDates.map(d => d -> markerOf(tmp, d).get).toMap
    genDates.foreach { d =>
      assert(markers(d).contains(s""""input_key": "$tmp/in/$d.parquet""""), markers(d))
      assert(markers(d).contains("\"output_count\": 12"), markers(d))
    }

    val second = genJob(tmp).run()
    assert(second.inputDates == 3 && second.doneDates == 3)
    assert(second.missingDates.isEmpty && second.processedDates.isEmpty &&
      second.skippedMissing.isEmpty && second.skippedEmpty.isEmpty)
    genDates.foreach(d => assert(markerOf(tmp, d).contains(markers(d)), d))

    Files.delete(Paths.get(s"$tmp/markers/20250102.json"))
    val third = genJob(tmp).run()
    assert(third.doneDates == 2)
    assert(third.missingDates == Seq("20250102") && third.processedDates == Seq("20250102"))
    assert(markerOf(tmp, "20250101").contains(markers("20250101")))
    assert(markerOf(tmp, "20250103").contains(markers("20250103")))
    val redone = markerOf(tmp, "20250102").get
    val stamp = """"generated_at": "[^"]*"""".r
    assert(stamp.replaceAllIn(redone, "") == stamp.replaceAllIn(markers("20250102"), ""))
  }

  test("ledger on generated drops: a date without the key column fails the run after the dates before it; a rerun resumes there") {
    val tmp = Files.createTempDirectory("split-ledger-fail").toString
    genDrop(tmp, "20250101")
    genDrop(tmp, "20250102", keyCol = "sku")
    genDrop(tmp, "20250103")
    val e = intercept[IllegalArgumentException](genJob(tmp).run())
    assert(e.getMessage.contains("missing required column 'item_id'"), e.getMessage)
    assert(markerOf(tmp, "20250101").nonEmpty)
    assert(markerOf(tmp, "20250102").isEmpty && markerOf(tmp, "20250103").isEmpty)
    val before = markerOf(tmp, "20250101")

    Files.delete(Paths.get(s"$tmp/in/20250102.parquet"))
    genDrop(tmp, "20250102")
    val resumed = genJob(tmp).run()
    assert(resumed.doneDates == 1)
    assert(resumed.missingDates == Seq("20250102", "20250103"))
    assert(resumed.processedDates == Seq("20250102", "20250103"))
    assert(markerOf(tmp, "20250101") == before)
    genDates.foreach(d => assert(markerOf(tmp, d).exists(_.contains("\"output_count\": 12")), d))
  }

  test("quirk parity: null keys dropped and counted; empty input never commits a marker") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("split-quirks").toString
    Seq(("2025/01/01", "0000000001", 5L, "0001"),
        ("2025/01/01", null.asInstanceOf[String], 7L, "0002"))
      .toDF("date", "item_id", "sales_figures", "store_id")
      .coalesce(1).write.parquet(s"$tmp/in_nulls/20250101.parquet")
    spark.emptyDataset[(String, String, Long, String)]
      .toDF("date", "item_id", "sales_figures", "store_id")
      .coalesce(1).write.parquet(s"$tmp/in_empty/20250102.parquet")

    val splitter = new Splitter(spark)
    splitter.splitOne(s"$tmp/in_nulls/20250101.parquet", s"$tmp/out", "20250101") match {
      case SplitOutcome.Written(outputs, keys, dropped) =>
        assert(keys == 1L && dropped == 1L, s"keys=$keys dropped=$dropped")
        assert(outputs.size == 1 &&
          outputs.head.endsWith("/out/0000000001/20250101.parquet"), outputs)
      case other => fail(s"unexpected $other")
    }
    assert(splitter.splitOne(s"$tmp/in_empty/20250102.parquet", s"$tmp/out", "20250102")
      == SplitOutcome.EmptyInput)
    // the empty date leaves nothing behind: no staging dir, no key dir
    assert(!Files.exists(Paths.get(s"$tmp/out/_staging_20250102")))
    val left = Files.list(Paths.get(s"$tmp/out")).toArray.map(_.toString).toSeq
    assert(left == Seq(s"$tmp/out/0000000001"), left)
    assert(!Files.list(Paths.get(s"$tmp/out/0000000001")).toArray
      .exists(_.toString.contains("20250102")))
    assert(splitter.splitOne(s"$tmp/in_missing/20250103.parquet", s"$tmp/out", "20250103")
      == SplitOutcome.MissingInput)
  }

  test("quirk parity: missing item_id column is job-fatal") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("split-nocol").toString
    Seq(("2025/01/01", 5L)).toDF("date", "sales_figures")
      .write.parquet(s"$tmp/in/20250101.parquet")
    val ex = intercept[IllegalArgumentException] {
      new Splitter(spark).splitOne(s"$tmp/in/20250101.parquet", s"$tmp/out", "20250101")
    }
    assert(ex.getMessage.contains("item_id"))
  }

  test("preserveOrder mode reproduces the golden files' exact row order") {
    val tmp = Files.createTempDirectory("split-order").toString
    val splitter = new Splitter(spark, preserveOrder = true)
    splitter.splitOne(s"$golden/input/20251107.parquet", s"$tmp/out", "20251107")
    for (item <- Seq("0000000001", "0000000002", "0000000003")) {
      val got = spark.read.parquet(s"$tmp/out/$item/20251107.parquet")
        .collect().map(_.toSeq).toSeq
      val want = spark.read.parquet(s"$golden/output/$item/20251107.parquet")
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"row ORDER differs from golden for $item")
    }
  }

  test("hot-key bounding: salt + maxRecordsPerFile produce bounded numbered files") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("split-skew").toString
    // deliberately skewed: one key with 1000 rows, one with 10
    val rows = (1 to 1000).map(i => ("2025/01/01", "HOTKEY", i.toLong, "0001")) ++
      (1 to 10).map(i => ("2025/01/01", "COLD", i.toLong, "0002"))
    rows.toDF("date", "item_id", "sales_figures", "store_id")
      .coalesce(1).write.parquet(s"$tmp/in/20250101.parquet")

    val splitter = new Splitter(spark, maxRecordsPerFile = 100L, saltBuckets = 4)
    val outcome = splitter.splitOne(s"$tmp/in/20250101.parquet", s"$tmp/out", "20250101")
    val outputs = outcome.asInstanceOf[SplitOutcome.Written].outputs
    assert(outcome.asInstanceOf[SplitOutcome.Written].distinctKeys == 2L)

    val hotFiles = outputs.filter(_.contains("/HOTKEY/"))
    assert(hotFiles.size >= 10, s"hot key should split into many files: $hotFiles")
    for (f <- outputs)
      assert(spark.read.parquet(f).count() <= 100L, s"file over bound: $f")
    // the unskewed key keeps the parity name when it fits one part
    val coldFiles = outputs.filter(_.contains("/COLD/"))
    assert(coldFiles == Seq(s"$tmp/out/COLD/20250101.parquet")
      || coldFiles.forall(_.matches(".*/COLD/20250101(-\\d{5})?\\.parquet")), coldFiles)
    // multiset preserved across all bounded parts
    val in = spark.read.parquet(s"$tmp/in/20250101.parquet")
    val out = spark.read.parquet(s"$tmp/out/*/2025*.parquet")
    assert(out.count() == in.count())
    assert(in.exceptAll(out).isEmpty && out.exceptAll(in).isEmpty)
    // idempotence: a rerun (same config) leaves no stale numbered parts
    val rerun = splitter.splitOne(s"$tmp/in/20250101.parquet", s"$tmp/out", "20250101")
    val rerunOut = rerun.asInstanceOf[SplitOutcome.Written].outputs
    val onDisk = spark.read.parquet(s"$tmp/out/*/2025*.parquet")
    assert(onDisk.count() == in.count(), "stale parts left after rerun")
    assert(rerunOut.nonEmpty)
  }

  test("salted + ordered: numbered files concatenate back to exact input order") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("split-saltorder").toString
    // one hot key whose value column encodes its input position
    val rows = (1 to 500).map(i => ("2025/01/01", "HOTKEY", i.toLong, "0001")) ++
      (1 to 7).map(i => ("2025/01/01", "COLD", i.toLong, "0002"))
    rows.toDF("date", "item_id", "sales_figures", "store_id")
      .coalesce(1).write.parquet(s"$tmp/in/20250101.parquet")

    val splitter = new Splitter(spark, preserveOrder = true, saltBuckets = 4)
    val outcome = splitter.splitOne(s"$tmp/in/20250101.parquet", s"$tmp/out", "20250101")
    val outputs = outcome.asInstanceOf[SplitOutcome.Written].outputs
    val hotFiles = outputs.filter(_.contains("/HOTKEY/")).sorted
    assert(hotFiles.size > 1, s"hot key should span multiple range parts: $hotFiles")
    // range salting contract: concatenating a key's files in name order
    // reconstructs that key's input sequence exactly
    val concat = hotFiles.flatMap(f =>
      spark.read.parquet(f).collect().map(_.getAs[Long]("sales_figures")))
    assert(concat == (1L to 500L), "concatenated salted files must equal input order")
    val cold = outputs.filter(_.contains("/COLD/")).sorted.flatMap(f =>
      spark.read.parquet(f).collect().map(_.getAs[Long]("sales_figures")))
    assert(cold == (1L to 7L))
  }

  test("O8 policy flag: emptyInputMarker=true commits an outputs:[] marker (no livelock)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("split-emptypolicy").toString
    PlainParquet.write(spark.emptyDataset[(String, String, Long, String)]
      .toDF("date", "item_id", "sales_figures", "store_id"),
      s"$tmp/in/20250101.parquet")

    // faithful default: skipped every run, never done (livelock preserved)
    val faithful = new SplitJob(spark,
      SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers_f")).run()
    assert(faithful.skippedEmpty == Seq("20250101"))
    assert(!Files.exists(Paths.get(s"$tmp/markers_f/20250101.json")))
    val faithful2 = new SplitJob(spark,
      SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers_f")).run()
    assert(faithful2.missingDates == Seq("20250101"), "livelock must persist")

    // fixed mode: empty marker commits, second run is a no-op
    val fixed = new SplitJob(spark,
      SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers_x",
        emptyInputMarker = true)).run()
    assert(fixed.skippedEmpty == Seq("20250101"))
    val markerJson = new String(Files.readAllBytes(Paths.get(s"$tmp/markers_x/20250101.json")))
    assert(markerJson.contains("\"outputs\": []"), markerJson)
    assert(markerJson.contains("\"output_count\": 0"), markerJson)
    val fixed2 = new SplitJob(spark,
      SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers_x",
        emptyInputMarker = true)).run()
    assert(fixed2.missingDates.isEmpty, "empty date must be done after its marker")
  }

  test("quirk parity: nested inputs are discovered recursively, then warn-skipped (§2.2.5)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("split-nested").toString
    PlainParquet.write(Seq(("2025/01/01", "0000000001", 5L, "0001"))
      .toDF("date", "item_id", "sales_figures", "store_id"),
      s"$tmp/in/20250101.parquet")
    PlainParquet.write(Seq(("2025/01/02", "0000000002", 6L, "0001"))
      .toDF("date", "item_id", "sales_figures", "store_id"),
      s"$tmp/in/nested/20250102.parquet")

    val summary = new SplitJob(spark,
      SplitConfig("test", s"$tmp/in", s"$tmp/out", s"$tmp/markers")).run()
    // the nested file IS discovered (recursive listing, like ListObjectsV2)…
    assert(summary.missingDates.contains("20250102"), summary.missingDates)
    // …but the flat-key reconstruction misses it → warn + skip, no outputs
    assert(summary.processedDates == Seq("20250101"))
    assert(summary.skippedMissing == Seq("20250102"))
    assert(!Files.exists(Paths.get(s"$tmp/out/0000000002")))
    assert(!Files.exists(Paths.get(s"$tmp/markers/20250102.json")))
  }

  test("split preserves the row multiset (union of outputs == input minus null keys)") {
    val tmp = Files.createTempDirectory("split-multiset").toString
    freshJob(tmp).run()
    val in = spark.read.parquet(s"$golden/input/20251107.parquet")
      .filter(col("item_id").isNotNull)
    val out = spark.read.parquet(s"$tmp/output/*/20251107.parquet")
    assert(out.count() == in.count())
    assert(in.exceptAll(out).isEmpty && out.exceptAll(in).isEmpty)
  }
}
