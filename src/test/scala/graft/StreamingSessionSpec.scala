package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming session windows: `session_window` + watermark in APPEND
  * mode must finalize exactly the sessions the batch computation
  * produces. Sessions only emit once the watermark passes their
  * close, so a second phase carries a far-future sentinel row that
  * pushes the watermark past every real session — the production
  * "stream drain" shape. Two AvailableNow runs share one checkpoint
  * (file mtime order within a single run is not a reliable batch
  * order), so the sentinel is guaranteed to arrive after the real
  * data. This is the merging-state session operator (Spark's native
  * streaming session support), complementing the batch
  * gaps-and-islands replica in `ev_window_session`.
  */
class StreamingSessionSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  test("append-mode streaming session windows converge to the batch " +
      "session computation once the watermark drains") {
    val src = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), Tables.eventsTsMicros.as("ts"),
        round(col("value") * 1000).cast("long").as("vm"))
    val maxTs = src.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val dir = tempDir("sess-src")
    src.coalesce(1).write.mode("append").parquet(dir)

    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sum_vm"))
      .select(col("user_id"), col("w.start").as("s"),
        col("w.end").as("e"), col("n"), col("sum_vm"))

    val ckpt = tempDir("sess-ckpt")
    val outDir = tempDir("sess-out")
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = sessions(stream.withWatermark("ts", "1 minute"))
        .writeStream.outputMode("append")
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce() // phase 1: real data; open sessions stay in state
    import spark.implicits._
    Seq((-1L,
      new java.sql.Timestamp(maxTs.getTime + 10L * 86400 * 1000), 0L))
      .toDF("user_id", "ts", "vm")
      .coalesce(1).write.mode("append").parquet(dir)
    runOnce() // phase 2: sentinel drains the watermark

    val got = spark.read.parquet(outDir)
      .filter(col("user_id") >= 0) // drop the sentinel's own session
      .collect().map(_.toSeq).toSet
    val want = sessions(spark.read.parquet(dir))
      .filter(col("user_id") >= 0)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty, "no session finalized — watermark never drained")
    assert(got === want)
  }
}
