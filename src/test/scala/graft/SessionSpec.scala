package graft

import org.apache.spark.sql.SparkSession

class SessionSpec extends SparkSpec {

  test("one config: a shuffle partition per requested core, AQE, UTC, nanosAsLong, no UI; extra applied last") {
    val cores = Session.coresIn(sys.env)
    assert(Session.cores == cores)
    val conf = Session.settings("app", Map.empty)
    assert(conf("spark.master") == sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
    assert(conf("spark.app.name") == "app")
    assert(conf("spark.sql.shuffle.partitions") == cores.toString)
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf("spark.ui.enabled") == "false")
    val over = Session.settings("app", Map("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "Europe/Paris", "spark.memory.fraction" -> "0.2"))
    assert(over == conf ++ Map("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "Europe/Paris", "spark.memory.fraction" -> "0.2"))

    // the suite's own session is built the same way, its 8 cores passed
    // through extra
    assert(spark.sparkContext.master == "local[8]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("run adopts an active session: the body runs on that instance, which keeps its config and stays running") {
    val partitions = Session.run("other", Map("spark.sql.shuffle.partitions" -> "3")) { s =>
      assert(s eq spark)
      s.conf.get("spark.sql.shuffle.partitions")
    }
    assert(partitions == "8")
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3L)
  }

  test("cores: SPARK_GRAFT_CPUS if set, else the host's cores for local[cores], else 32 under a SPARK_MASTER") {
    val host = Runtime.getRuntime.availableProcessors
    assert(Session.coresIn(Map.empty) == host)
    assert(Session.coresIn(Map("SPARK_GRAFT_CPUS" -> "5")) == 5)
    // the driver's cores say nothing of a cluster's slots
    assert(Session.coresIn(Map("SPARK_MASTER" -> "spark://head:7077")) == 32)
    assert(Session.coresIn(Map("SPARK_MASTER" -> "spark://head:7077",
      "SPARK_GRAFT_CPUS" -> "64")) == 64)
  }

  test("master: SPARK_MASTER, else a spark-submit --master (the spark.master property) left to Spark, else local[cores]") {
    val host = Runtime.getRuntime.availableProcessors
    val local = Session.settings("app", Map.empty, env = Map.empty, props = Map.empty)
    assert(local("spark.master") == s"local[$host]")
    assert(local("spark.sql.shuffle.partitions") == host.toString)
    // a builder setting would override the property spark-submit sets
    val submitted = Map("spark.master" -> "yarn")
    val onYarn = Session.settings("app", Map.empty, env = Map.empty, props = submitted)
    assert(!onYarn.contains("spark.master"), onYarn)
    assert(onYarn("spark.sql.shuffle.partitions") == "32")
    assert(Session.coresIn(Map.empty, submitted) == 32)
    assert(Session.coresIn(Map("SPARK_GRAFT_CPUS" -> "6"), submitted) == 6)
    val env = Map("SPARK_MASTER" -> "spark://head:7077")
    assert(Session.settings("app", Map.empty, env, submitted)("spark.master") ==
      "spark://head:7077")
  }

  test("--CLOUD_WRITE reaches an adopted session: OpsMain.main applies CloudConf to it") {
    // an isolated session, so nothing the flag sets reaches the suite's
    val s2 = spark.newSession()
    SparkSession.setActiveSession(s2)
    val e = try intercept[IllegalArgumentException](
      OpsMain.main(Array("--CLOUD_WRITE", "true")))
    finally SparkSession.setActiveSession(spark)
    // this classpath has no spark-hadoop-cloud module, so binding its
    // committer protocol fails loudly. That failure is the proof the flag
    // reached the adopted session: dropped, run's own "JOB is required"
    // would be the error instead.
    assert(e.getMessage.contains("spark.sql.sources.commitProtocolClass"), e.getMessage)
    assert(!e.getMessage.contains("JOB is required"))
    assert(s2 ne spark)
    assert(!s2.sparkContext.isStopped)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic",
      "the suite's session must be unaffected")
  }
}
