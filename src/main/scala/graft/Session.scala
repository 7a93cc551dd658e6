package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point runs under: the
  * mains, the dev CLI and the test suite. Master is `SPARK_MASTER` if set,
  * else the `spark.master` that `spark-submit --master` passes as a system
  * property (left to Spark: a builder setting would override it), else
  * `local[cores]` ([[cores]]); one shuffle partition per core, AQE on,
  * UTC, `nanosAsLong` on (testdata `events.ts` may be INT64
  * TIMESTAMP(NANOS)), UI off, log level WARN. `extra` is applied last, so
  * it overrides any of these.
  *
  * An already active or default session is adopted as it is: its config
  * belongs to whoever built it (a spec, or a host app driving a main
  * in-process), so it is never reconfigured, re-leveled or stopped here.
  * `extra` only reaches a session this module creates; a main whose flag
  * must hold on an adopted session too applies it itself (SplitMain's
  * `withSession` for `--CLOUD_WRITE`). */
object Session {

  /** Task slots, and shuffle partitions, of a session this module creates
    * ([[coresIn]] of the environment and system properties). */
  val cores: Int = coresIn(sys.env, sys.props.toMap)

  /** `SPARK_GRAFT_CPUS` if set. Otherwise the host's core count when the
    * master is the `local[cores]` built here; under a `SPARK_MASTER` or a
    * `spark.master` property the driver's cores say nothing of the
    * cluster's slots (and the count sets the split's keyed-write task
    * count, which AQE never expands), so it is 32, the count OpsMain and
    * SplitMain have always used there. */
  private[graft] def coresIn(env: Map[String, String],
      props: Map[String, String] = Map.empty): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      if (env.contains("SPARK_MASTER") || props.contains("spark.master")) 32
      else Runtime.getRuntime.availableProcessors)

  private[graft] def settings(app: String, extra: Map[String, String],
      env: Map[String, String] = sys.env,
      props: Map[String, String] = sys.props.toMap): Map[String, String] = {
    val n = coresIn(env, props)
    val master = env.get("SPARK_MASTER")
      .orElse(if (props.contains("spark.master")) None else Some(s"local[$n]"))
    master.map("spark.master" -> _).toMap ++ Map(
      "spark.app.name" -> app,
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ extra
  }

  // getOrCreate also falls back to the process-wide DEFAULT session: a
  // host driving a main from a worker thread has no thread-local active
  // session, and stopping its default session would kill the host
  private def existing: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The existing session if there is one, else a new one for `app`. */
  def apply(app: String, extra: Map[String, String] = Map.empty): SparkSession =
    existing.getOrElse {
      val b = SparkSession.builder()
      settings(app, extra).foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

  /** Run `body` on [[apply]]'s session, stopping it afterwards only if
    * this call created it. */
  def run[T](app: String, extra: Map[String, String] = Map.empty)(
      body: SparkSession => T): T = {
    val created = existing.isEmpty
    val spark = apply(app, extra)
    try body(spark) finally if (created) spark.stop()
  }
}
