package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Native `dropDuplicatesWithinWatermark` (the Spark 3.5+ streaming
  * dedup API): a replayed copy of the whole stream arriving within the
  * watermark delay must be fully suppressed, and the surviving rows
  * are exactly the batch distinct. Two AvailableNow runs share one checkpoint so
  * the duplicate batch is guaranteed to arrive second — state from
  * phase 1 must survive the restart for phase 2's suppression (the
  * at-least-once redelivery contract, reference YqlWriter.java
  * retry-replay semantics, handled natively).
  */
class StreamingDedupNativeSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("a replayed copy of the stream is fully suppressed across a " +
      "checkpoint restart; survivors equal the batch distinct") {
    val src = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"),
        Tables.eventsTsMicros.as("ts"))
    val dir = tempDir("ddw-src")
    val ckpt = tempDir("ddw-ckpt")
    val outDir = tempDir("ddw-out")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = stream.withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("user_id", "event_id")
        .writeStream.outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    src.coalesce(1).write.mode("append").parquet(dir)
    runOnce() // phase 1: originals pass through
    val afterP1 = spark.read.parquet(outDir).count()
    src.coalesce(1).write.mode("append").parquet(dir)
    runOnce() // phase 2: the replayed copy — all within watermark
    val out = spark.read.parquet(outDir)
    assert(out.count() === afterP1,
      "replayed duplicates leaked past dropDuplicatesWithinWatermark")
    val got = out.select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = src.select("user_id", "event_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }
}
