package graft

import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.{Changelog, TopicBroker}
import graft.streaming.{BootstrapTail, CdcPipeline}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Topic-side snapshot onboarding UNDER LIVE LOAD (round-9 verdict
  * ask #4): `BootstrapTail.loadSnapshot` seeds the sink from a
  * snapshot at a topic offset cutoff while a producer KEEPS WRITING
  * to the broker, then `tail()` attaches the `topic://` stream at the
  * seam. At rest the seam was proven by BootstrapTailSpec; this spec
  * proves it under concurrency — the writes racing the stream
  * attachment land past the cutoff and are picked up, nothing at or
  * below the cutoff is redelivered, and a resumed checkpoint drains
  * whatever the first AvailableNow pass raced past.
  *
  * Not a new streaming module: the primitive set (snapshot seed +
  * offset-filtered tail + checkpointed resume) is exactly
  * BootstrapTail's — what's new is only the concurrency schedule,
  * which is a spec's job, not an operator's.
  *
  * Single-partition topic by design: `seq` is the PARTITION-LOCAL
  * offset (Changelog.readTopicStream), so a scalar cutoff is a exact
  * seam only within one partition — a production multi-partition
  * consumer records a per-partition offset vector (the Kafka
  * consumer-group convention) and applies the same filter per
  * partition.
  */
class TopicBootstrapUnderLoadSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  val schema = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value_milli", LongType))),
    pk = Seq("user_id"))

  private val Sentinel = 424242424242L

  def freshDir(tag: String): String =
    tempDir(s"graft-$tag")

  def tuple3(r: org.apache.spark.sql.Row): (Long, String, Option[Long]) =
    (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))

  /** LWW state of an envelope slice, seq = slice position + base. */
  private def lwwState(envs: Seq[String], base: Long)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val df = envs.zipWithIndex
      .map { case (v, i) => (v, base + i) }.toDF("value", "seq")
    KeyedMerge.lww(
        CdcParse.parseEnvelope(df, "value", schema)
          .filter(col("op") =!= CdcParse.OpDrop),
        Seq("user_id"), "seq")
      .filter(col("op") =!= CdcParse.OpErase)
      .select("user_id", "event_type", "value_milli")
  }

  test("snapshot-seeded topic consumer under concurrent writes: " +
      "no gap, no <=cutoff redelivery, resumable seam") {
    // deterministic envelope stream, doctored so every 5th user goes
    // QUIET at the cutoff (their post-cutoff envelopes are removed) —
    // the synthetic corpus keeps all users active end-to-end, so the
    // no-redelivery sentinel needs manufactured quiet keys (the
    // BootstrapTailSpec convention)
    val rendered = Changelog.renderEnvelopes(spark,
      s"${TestSpark.sfDir}/events.parquet")
    val k = rendered.size / 2
    val doctored = rendered.zipWithIndex.collect {
      case ((u, env), i) if i < k || u % 5 != 0 => (u, env)
    }
    val head = doctored.take(k).map(_._2)
    val liveTail = doctored.drop(k).map(_._2)
    val cutoff = k.toLong - 1
    val topic = s"boot-load-${System.nanoTime()}"
    TopicBroker.create(topic, 1)
    head.foreach(v => TopicBroker.send(topic, 0, v))
    // snapshot state at the cutoff, with ONE quiet key's value
    // replaced by an out-of-band sentinel: golden equality alone
    // cannot catch <=cutoff redelivery (LWW replay is idempotent by
    // design), but a redelivered offset would overwrite the sentinel
    val atCutoff = lwwState(head, 0L)
    val quiet = atCutoff.filter(col("user_id") % 5 === 0)
      .agg(min("user_id")).first().getLong(0)
    val state = atCutoff.withColumn("value_milli",
      when(col("user_id") === quiet, lit(Sentinel))
        .otherwise(col("value_milli")))
    val sink = new KeyedTableSink(spark, freshDir("bl-sink"),
      Seq("user_id"), schema.columns)
    val p = CdcPipeline.Pipeline("boot-load", s"topic://$topic",
      // the cutoff file sits beside the checkpoint: both in one temp dir
      freshDir("bl-ckpt") + "/ckpt", schema,
      Some("SELECT user_id, event_type, value_milli FROM rows"),
      None, sink, maxFilesPerTrigger = 2)
    assert(BootstrapTail.loadSnapshot(p, state, cutoff) === cutoff)
    // idempotent re-invocation: the recorded cutoff short-circuits
    assert(BootstrapTail.loadSnapshot(p, state, cutoff) === cutoff)
    // live producer races the tail attachment
    val writer = new Thread(() => liveTail.foreach { v =>
      TopicBroker.send(topic, 0, v); Thread.sleep(2)
    })
    writer.start()
    BootstrapTail.tail(spark, p, cutoff).awaitTermination(180000)
    writer.join(60000)
    assert(!writer.isAlive)
    // the first AvailableNow pass captured whatever offsets existed
    // at its start; a resumed checkpoint (the restart leg) drains the
    // writes it raced past
    BootstrapTail.tail(spark, p, cutoff).awaitTermination(180000)
    val golden = lwwState(doctored.map(_._2), 0L).collect()
      .map(tuple3).map { case (u, t, v) =>
        if (u == quiet) (u, t, Some(Sentinel)) else (u, t, v)
      }.toSet
    val got = sink.load().collect().map(tuple3).toSet
    assert(got === golden)
    // the sentinel survived: nothing at or below the cutoff was
    // redelivered across the live seam
    assert(got.exists { case (u, _, v) =>
      u == quiet && v.contains(Sentinel) })
    // and the live writes genuinely arrived (quiet users aside, the
    // post-cutoff half moves at least one key's LWW value)
    assert(got !== state.collect().map(tuple3).toSet)
    TopicBroker.delete(topic)
  }
}
