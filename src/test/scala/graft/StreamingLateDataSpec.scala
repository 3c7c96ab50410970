package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Late-data observability: rows arriving behind the watermark must be
  * (a) DROPPED from the aggregate — results equal the batch aggregate
  * over on-time rows only — and (b) COUNTED in the streaming progress
  * (`stateOperators.numRowsDroppedByWatermark`), which is what a
  * production pipeline alerts on. This pins the operational contract
  * the dashboards rely on, not just result correctness.
  */
class StreamingLateDataSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("late rows are dropped from the windowed aggregate and " +
      "surfaced in numRowsDroppedByWatermark") {
    val src = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), Tables.eventsTsMicros.as("ts"),
        round(col("value") * 1000).cast("long").as("vm"),
        expr("datediff(timestamp_micros(ts div 1000), date'2024-01-01')")
          .as("day"))
    val dir = tempDir("late-src")
    // batch 1: days >= 2 (advances the watermark to ~max(ts) - 10m);
    // batch 2: days < 2 — entirely behind the watermark => dropped
    val onTime = src.filter(col("day") >= 2).drop("day")
    val late = src.filter(col("day") < 2).drop("day")
    assert(late.count() > 0 && onTime.count() > 0)

    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sum_vm"))
      .select(col("w.start").as("s"), col("n"), col("sum_vm"))

    // two phases on ONE checkpoint so the late batch is guaranteed to
    // arrive after the watermark advanced (file mtime order is not
    // reliable within a single AvailableNow run)
    val ckpt = tempDir("late-ckpt")
    val outDir = tempDir("late-out")
    def runOnce(phase: Int): Long = {
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = agg(stream.withWatermark("ts", "10 minutes"))
        .writeStream.outputMode("update")
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.withColumn("phase", lit(phase)).withColumn("batch", lit(id))
              .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    }
    onTime.coalesce(1).write.mode("append").parquet(dir)
    assert(runOnce(1) === 0L, "no row is late in the first phase")
    late.coalesce(1).write.mode("append").parquet(dir)
    val dropped = runOnce(2)
    // the metric counts rows at the state-store update — AFTER the
    // map-side partial aggregate — so it is bounded by the number of
    // late (window x partition) partials, not raw inputs: positive
    // and <= late-row count is the exact contract
    assert(dropped > 0L && dropped <= late.count(),
      s"watermark drops not surfaced: $dropped of ${late.count()}")

    val out = spark.read.parquet(outDir)
    // every late row was dropped pre-aggregation, so phase 2 emits no
    // updates at all...
    assert(out.filter(col("phase") === 2).count() === 0L,
      "late-only batch must not update any window")
    // ...and phase 1's final state equals the on-time batch aggregate
    val got = out.filter(col("phase") === 1)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("s").orderBy(col("n").desc)))
      .filter(col("rn") === 1).select("s", "n", "sum_vm")
      .collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val want = agg(onTime)
      .collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === want,
      "aggregate state does not equal the on-time-only batch aggregate")
  }
}
