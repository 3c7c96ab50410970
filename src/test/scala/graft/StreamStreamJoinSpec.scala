package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream inner join with watermarks + event-time range
  * condition (the Structured Streaming capability SURVEY §2.3 lists as
  * absent in the reference): purchases joined to subsequent events of
  * the same user within 10 minutes; result must equal the batch
  * interval join.
  */
class StreamStreamJoinSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("purchase -> follow-up events join equals batch answer") {
    val dir = tempDir("ssj")
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        Tables.eventsTsMicros.as("ts"))
    ev.coalesce(2).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val follow = src
      .select(col("event_id").as("f_id"), col("user_id").as("f_user"),
        col("ts").as("f_ts"))
      .withWatermark("f_ts", "30 minutes")
    val joined = purchases.join(follow,
      col("p_user") === col("f_user") &&
        col("f_ts") > col("p_ts") &&
        col("f_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("ssj_out").select("p_id", "f_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val evB = ev
    val pB = evB.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val fB = evB.select(col("event_id").as("f_id"),
      col("user_id").as("f_user"), col("ts").as("f_ts"))
    val want = pB.join(fB,
        col("p_user") === col("f_user") &&
          col("f_ts") > col("p_ts") &&
          col("f_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
      .select("p_id", "f_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("LEFT OUTER stream-stream join emits null-padded rows for " +
    "unmatched purchases once the watermark passes") {
    val dir = tempDir("ssjo")
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        Tables.eventsTsMicros.as("ts"))
    ev.coalesce(2).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    // follow-ups restricted to errors: many purchases will have NO
    // match, which is the case the outer join exists for
    val follow = src.filter(col("event_type") === "error")
      .select(col("event_id").as("f_id"), col("user_id").as("f_user"),
        col("ts").as("f_ts"))
      .withWatermark("f_ts", "30 minutes")
    val joined = purchases.join(follow,
      col("p_user") === col("f_user") &&
        col("f_ts") > col("p_ts") &&
        col("f_ts") <= col("p_ts") + expr("INTERVAL 24 HOURS"),
      "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjo_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // null-padded rows emit only once the watermark passes
    // p_ts + 24h; purchases newer than (max ts − 24h − 30m) are
    // legitimately still buffered at stream end — compare below the
    // cutoff, where stream and batch MUST agree row-for-row
    val maxTs = ev.agg(max(col("ts"))).collect()(0)
      .getTimestamp(0).getTime
    val cutoffMs = maxTs - (24L * 3600 + 1810) * 1000
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(_.getTimestamp(2).getTime < cutoffMs)
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val got = norm(spark.table("ssjo_out")
      .select("p_id", "f_id", "p_ts").collect())

    val pB = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val fB = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("f_id"), col("user_id").as("f_user"),
        col("ts").as("f_ts"))
    val want = norm(pB.join(fB,
        col("p_user") === col("f_user") &&
          col("f_ts") > col("p_ts") &&
          col("f_ts") <= col("p_ts") + expr("INTERVAL 24 HOURS"),
        "left_outer")
      .select("p_id", "f_id", "p_ts").collect())
    assert(want.exists(_._2 == -1L),
      "fixture must leave some purchases unmatched")
    assert(want.exists(_._2 != -1L),
      "fixture must match some purchases")
    assert(got === want,
      "stream left-outer must equal the batch left-outer exactly")
  }

  test("FULL OUTER stream-stream join emits null-padded rows on BOTH " +
    "sides once the watermark passes") {
    val dir = tempDir("ssjf")
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        Tables.eventsTsMicros.as("ts"))
    ev.coalesce(2).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

    // purchases x errors: both sides leave unmatched rows, which is
    // the case FULL OUTER exists for — an unmatched purchase AND an
    // unmatched error must each surface exactly once, null-padded
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val errors = src.filter(col("event_type") === "error")
      .select(col("event_id").as("f_id"), col("user_id").as("f_user"),
        col("ts").as("f_ts"))
      .withWatermark("f_ts", "30 minutes")
    val cond = col("p_user") === col("f_user") &&
      col("f_ts") > col("p_ts") &&
      col("f_ts") <= col("p_ts") + expr("INTERVAL 24 HOURS")
    val q = purchases.join(errors, cond, "full_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjf_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // a row is FINAL only once the watermark has closed its 24 h
    // range on whichever side(s) it carries — compare strictly below
    // that cutoff, where stream and batch MUST agree row-for-row
    val maxTs = ev.agg(max(col("ts"))).collect()(0)
      .getTimestamp(0).getTime
    val cutoffMs = maxTs - (24L * 3600 + 1810) * 1000
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter { r =>
        val pOk = r.isNullAt(2) || r.getTimestamp(2).getTime < cutoffMs
        val fOk = r.isNullAt(3) || r.getTimestamp(3).getTime < cutoffMs
        pOk && fOk && !(r.isNullAt(2) && r.isNullAt(3))
      }
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val got = norm(spark.table("ssjf_out")
      .select("p_id", "f_id", "p_ts", "f_ts").collect())

    val pB = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val fB = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("f_id"), col("user_id").as("f_user"),
        col("ts").as("f_ts"))
    val want = norm(pB.join(fB, cond, "full_outer")
      .select("p_id", "f_id", "p_ts", "f_ts").collect())
    assert(want.exists(t => t._1 != -1L && t._2 == -1L),
      "fixture must leave some purchases unmatched")
    assert(want.exists(t => t._1 == -1L && t._2 != -1L),
      "fixture must leave some errors unmatched")
    assert(want.exists(t => t._1 != -1L && t._2 != -1L),
      "fixture must match some pairs")
    assert(got === want,
      "stream full-outer must equal the batch full-outer exactly")
  }
}
