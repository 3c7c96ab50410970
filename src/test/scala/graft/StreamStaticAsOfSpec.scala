package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stream-static as-of enrichment: stateless (append mode, no
  * watermark, no state store) and exactly equal to the batch planned
  * as-of over the same rows.
  */
class StreamStaticAsOfSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("streaming clicks enriched as-of a static view table == batch") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .withColumn("us", expr("ts div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "us")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("vt"),
        round(col("value") * 1000).cast("long").as("vv"))

    val dir = tempDir("ssasof-src")
    (0 until 3).foreach { i =>
      clicks.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = graft.operators.AsOf.asofStreamStatic(stream, views,
        Seq("user_id"), "us", "vt", Seq("vt", "vv"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssasof_out")
      .option("checkpointLocation",
        tempDir("ssasof-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("ssasof_out")
      .select("event_id", "vt", "vv").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    val want = graft.plans.PlannedAsOf.asofJoin(
        spark.read.parquet(dir), views, "user_id", "us", "vt",
        Seq("vt", "vv"))
      .select("event_id", "vt", "vv").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(got.nonEmpty)
    assert(got === want)
  }
}
