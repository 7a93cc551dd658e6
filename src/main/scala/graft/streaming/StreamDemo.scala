package graft.streaming

import graft.Session

/** Example/demo entry point: drain the streaming operators over a static
  * events table (Trigger.AvailableNow) and print the results — the same
  * pattern a backfill job would use in production.
  *
  * Usage: runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    Session.run("graft-stream-demo") { implicit spark =>
      val hourly = EventStream.drainToTable(spark,
        EventStream.hourlyAgg(EventStream.readEvents(spark, dir)), "hourly", "complete")
      println(s"[stream-demo] hourly buckets: ${hourly.count()}")
      hourly.orderBy("hour_bucket", "event_type").show(3, truncate = false)

      val sessions = EventStream.drainToTable(spark,
        EventStream.sessionize(EventStream.readEvents(spark, dir)).toDF(), "sessions", "update")
      println(s"[stream-demo] users sessionized: ${sessions.select("user_id").distinct().count()}")
      sessions.orderBy("user_id").show(3, truncate = false)
    }
  }
}
