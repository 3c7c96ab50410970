package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming OHLC: the q49 bar aggregate run as an update-mode
  * streaming query over the same rows in three micro-batches — final
  * per-bar values must equal the batch computation (min_by/max_by and
  * min/max are all mergeable declarative aggregates, so incremental
  * state composes exactly).
  */
class StreamingOhlcSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("streaming update-mode bars converge to the batch OHLC") {
    val src = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("event_type"),
        expr("datediff(timestamp_micros(ts div 1000), date'2024-01-01')")
          .as("day"),
        expr("""((ts div 1000) - 1704067200000000L -
            datediff(timestamp_micros(ts div 1000), date'2024-01-01')
              * 86400000000L) * 67108864L + event_id""").as("ord"),
        round(col("value") * 1000).cast("long").as("vm"))
      .filter(col("day") < 6)
    val dir = tempDir("ohlc-src")
    // 3 deterministic chunks -> 3 micro-batches
    (0 until 3).foreach { i =>
      src.filter(pmod(col("ord"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def bars(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("vm"), col("ord")).as("open_vm"),
        max(col("vm")).as("high_vm"),
        min(col("vm")).as("low_vm"),
        max_by(col("vm"), col("ord")).as("close_vm"))
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = bars(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("ohlc_out")
      .option("checkpointLocation",
        tempDir("ohlc-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // last emission per bar (update mode re-emits changed bars; the
    // final state is the one with the full count)
    val got = spark.table("ohlc_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "day")
          .orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq.drop(2))
      .toMap
    val want = bars(spark.read.parquet(dir))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq.drop(2))
      .toMap
    assert(got.keySet === want.keySet)
    assert(got === want)
  }
}
