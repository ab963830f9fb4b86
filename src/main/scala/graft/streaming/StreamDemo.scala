package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Runnable end-to-end streaming demo: drives [[Streams.hourlyCounts]] and
  * [[Streams.sessionize]] (production path, processing-time timeouts ON)
  * against a live `rate` source for a few seconds and prints what was
  * emitted. Usage: `sbt "runMain graft.streaming.StreamDemo"`. Kept as a
  * main because it is the only caller of `sessionize(withTimeouts =
  * true)`, the production timeout path: the specs run with timeouts off
  * so their finite `AvailableNow` runs terminate.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // rate source → synthetic events in 3-seconds-on / 3-seconds-off
    // bursts, so the 2 s session gap closes sessions mid-run (during the
    // silent phase the processing-time timeout flushes idle users).
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .filter((col("value") / 50).cast("long") % 6 < 3)
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 3).as("user_id"),
        concat(lit("type"), col("value") % 2).as("event_type"),
        (col("value") % 10).cast("double").as("value"))

    // seconds-scale windows so append-mode emission actually happens
    // within the 12 s run (a 1-hour window would only close if the run
    // straddled an hour boundary).
    val hourly = Streams.hourlyCounts(events, watermark = "0 seconds",
        windowLength = "5 seconds")
      .writeStream.format("memory").queryName("demo_hourly")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()

    val sessions = Streams.sessionize(
        events.as[Streams.Event], gapMs = 2000, withTimeouts = true)
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()

    Thread.sleep(12000)
    hourly.stop(); sessions.stop()

    println("=== demo_hourly (append-mode windows emitted so far) ===")
    spark.table("demo_hourly").show(10, truncate = false)
    println("=== demo_sessions (sessions closed by gap or timeout) ===")
    spark.table("demo_sessions").orderBy("user_id", "session_start").show(20, truncate = false)
    val n = spark.table("demo_sessions").count()
    println(s"closed sessions: $n")
    spark.stop()
  }
}
