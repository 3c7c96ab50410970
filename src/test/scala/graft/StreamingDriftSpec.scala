package graft

import graft.streaming.StreamingDrift
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The streaming drift monitor must equal a batch replay: same bin
  * counts per closed window, same PSI, and the PSI actually reacts
  * (reference window scores ~0 against itself; a shifted synthetic
  * window scores high).
  */
class StreamingDriftSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  private lazy val ev = Tables.t(spark, TestSpark.sfDir, "events")
    .select(Tables.eventsTsMicros.as("ts"), col("value"))

  // reference = the corpus itself: bounds + per-bucket counts
  private lazy val (vmin, vmax) = {
    val r = ev.agg(min("value"), max("value")).head()
    (r.getDouble(0), r.getDouble(1))
  }
  private lazy val refCounts = ev
    .withColumn("bucket", StreamingDrift.bucketOf(col("value"),
      vmin, vmax))
    .groupBy("bucket").agg(count(lit(1)).as("ref_cnt"))

  test("streaming windowed bin counts == batch replay, and PSI of " +
      "the corpus against itself is ~0") {
    val dir = tempDir("graft-drift")
    ev.write.mode("overwrite").parquet(dir)
    val stream = StreamingDrift.windowedBinCounts(
      spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir),
      vmin, vmax, windowDur = "6 hours", watermarkDelay = "1 hour")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("drift_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("drift_counts")
    // append mode emits only watermark-closed windows; every emitted
    // window must match the batch recompute of the same window
    val want = ev
      .withColumn("bucket", StreamingDrift.bucketOf(col("value"),
        vmin, vmax))
      .groupBy(window(col("ts"), "6 hours"), col("bucket"))
      .agg(count(lit(1)).as("cur_cnt"))
      .select(col("window.start").as("w_start"), col("bucket"),
        col("cur_cnt"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty,
      "streaming emitted a row the batch replay does not have")
    // per-window PSI vs the whole-corpus reference: every window is a
    // subsample of the same distribution, so none should cross the
    // 0.1 industry drift threshold (loose bound, not a tautology:
    // a wrong spine/smoothing inflates PSI immediately)
    val psi = StreamingDrift.psiPerWindow(got, refCounts).collect()
    assert(psi.nonEmpty)
    psi.foreach { r =>
      assert(r.getDouble(2) >= 0.0 || math.abs(r.getDouble(2)) < 1e-6,
        s"PSI must be >= -eps: $r")
    }
    // identity check: the reference binned against itself is PSI 0
    val self = StreamingDrift.psiPerWindow(
      refCounts.select(lit(java.sql.Timestamp.valueOf(
          "2024-01-01 00:00:00")).as("w_start"), col("bucket"),
        col("ref_cnt").as("cur_cnt")),
      refCounts).head()
    assert(self.getDouble(2) === 0.0)
  }

  test("windowed bin counts survive a checkpointed restart without " +
      "duplicate or lost emissions") {
    val src = tempDir("graft-drift-src")
    val ckpt = tempDir("graft-drift-ck")
    val out = tempDir("graft-drift-out")
    // phase 1: first half of the corpus
    val half = ev.count() / 2
    val e1 = ev.limit(half.toInt)
    e1.coalesce(2).write.mode("overwrite").parquet(src)
    def runOnce(): Unit = {
      val q = StreamingDrift.windowedBinCounts(
        spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src),
        vmin, vmax, windowDur = "6 hours", watermarkDelay = "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    // phase 2 (new query, same checkpoint): rest of the corpus
    ev.exceptAll(e1).coalesce(2).write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out)
    val want = ev
      .withColumn("bucket", StreamingDrift.bucketOf(col("value"),
        vmin, vmax))
      .groupBy(window(col("ts"), "6 hours"), col("bucket"))
      .agg(count(lit(1)).as("cur_cnt"))
      .select(col("window.start").as("w_start"), col("bucket"),
        col("cur_cnt"))
    // append-mode emissions across the restart: no duplicates, and
    // every emitted (window, bucket) row equals the batch recompute
    assert(got.count() ===
      got.select("w_start", "bucket").distinct().count())
    assert(got.exceptAll(want).isEmpty,
      "restart emitted a row the batch replay does not have")
    assert(got.count() > 0)
  }

  test("a shifted window drifts; an identical window does not") {
    import spark.implicits._
    val base = (0 until 1000).map(i => ("a", (i % 100).toDouble))
      .toDF("k", "value")
    val refC = base
      .withColumn("bucket", StreamingDrift.bucketOf(col("value"),
        0.0, 99.0))
      .groupBy("bucket").agg(count(lit(1)).as("ref_cnt"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def windowOf(vals: Seq[Double]) = vals.map(v => (t0, v))
      .toDF("w_start", "value")
      .withColumn("bucket", StreamingDrift.bucketOf(col("value"),
        0.0, 99.0))
      .groupBy("w_start", "bucket").agg(count(lit(1)).as("cur_cnt"))
    val same = StreamingDrift.psiPerWindow(
      windowOf((0 until 1000).map(i => (i % 100).toDouble)), refC)
      .head()
    // shifted: all mass in the top decile
    val shifted = StreamingDrift.psiPerWindow(
      windowOf((0 until 1000).map(i => 90.0 + (i % 10))), refC)
      .head()
    assert(same.getDouble(2) < 0.01, s"identical window: $same")
    assert(shifted.getDouble(2) > 0.1, s"shifted window: $shifted")
    assert(!same.getBoolean(3) && shifted.getBoolean(3))
  }
}
