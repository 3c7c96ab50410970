package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The event-time window algebra under Structured Streaming: the same
  * expressions as EventTimeQueries run with readStream + watermark and
  * must produce the batch answer once all data is processed.
  */
class EventTimeSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("streaming tumbling window + watermark == batch result") {
    val dir = tempDir("graft-evstream")
    // stage the events parquet alone in its own dir
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts_utc", Tables.eventsTsMicros)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ev_windows")
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
    val want = ev
      .groupBy(window(Tables.eventsTsMicros, "1 hour").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming sliding window + watermark == batch result") {
    val dir = tempDir("graft-evslide")
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts_utc", Tables.eventsTsMicros)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_sliding")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ev_sliding")
      .select(col("window.start").as("s"), col("event_type"), col("n"))
    val want = ev
      .groupBy(window(Tables.eventsTsMicros, "1 hour", "30 minutes")
        .as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("s"), col("event_type"), col("n"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming session windows + watermark == batch result") {
    val dir = tempDir("graft-sess")
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts_utc", Tables.eventsTsMicros)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(session_window(col("ts_utc"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ev_sessions")
      .select(col("user_id"), col("w.start").as("s"), col("n"))
    val want = ev
      .groupBy(session_window(Tables.eventsTsMicros, "30 minutes")
        .as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("s"), col("n"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("append mode drops only late rows beyond watermark") {
    val dir = tempDir("graft-evstream2")
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
    // write in event order so watermark advances monotonically
    ev.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema)
      .parquet(dir)
      .withColumn("ts_utc", Tables.eventsTsMicros)
      .withWatermark("ts_utc", "1 hour")
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ev_append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // nothing is late within one file; append emits only windows
    // closed by the final watermark — bounded by the complete count
    val appended = spark.table("ev_append").count()
    val total = ev
      .groupBy(window(Tables.eventsTsMicros, "1 hour"), col("event_type"))
      .count().count()
    assert(appended <= total)
  }
}
