package graft

import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.{Changelog, TopicBroker}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Topic-backed source (O1): the same CDC pipeline consuming a
  * partitioned in-JVM topic through the DataSourceV2 MicroBatchStream
  * must converge to exactly the file-replay result, with
  * maxOffsetsPerTrigger bounding each micro-batch (the reference
  * reader's admission cap, CdcReader.java:43).
  */
class TopicSourceSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  val schema = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value_milli", LongType))),
    pk = Seq("user_id"))

  def freshDir(tag: String): String =
    tempDir(s"graft-$tag")

  def sinkRows(sink: KeyedTableSink): Set[(Long, String, Option[Long])] =
    sink.load().collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

  def runOver(source: org.apache.spark.sql.DataFrame,
      tag: String): KeyedTableSink = {
    val sink = new KeyedTableSink(spark, freshDir(s"sink-$tag"),
      Seq("user_id"), schema.columns)
    val p = CdcPipeline.Pipeline(s"topic-$tag", "/unused",
      freshDir(s"ckpt-$tag"), schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None, sink = sink)
    CdcPipeline.startWithSource(spark, p, source)
      .awaitTermination(120000)
    sink
  }

  test("topic source == file replay, across partitions and batches") {
    val events = s"${TestSpark.sfDir}/events.parquet"
    // file replay
    val clog = freshDir("clog-topic")
    Changelog.writeFromEvents(spark, events, clog, numFiles = 4)
    val fileSink = runOver(
      Changelog.readStream(spark, clog, maxFilesPerTrigger = 2), "file")
    // topic replay: 3 partitions, capped micro-batches
    val topic = s"cdc-events-${System.nanoTime()}"
    val n = Changelog.publishFromEvents(spark, events, topic,
      partitions = 3)
    assert(n === 1000L)
    assert(TopicBroker.endOffsets(topic).sum === 1000L)
    assert(TopicBroker.endOffsets(topic).count(_ > 0) === 3)
    val topicSink = runOver(
      Changelog.readTopicStream(spark, topic,
        maxOffsetsPerTrigger = 300), "topic")
    assert(sinkRows(topicSink) === sinkRows(fileSink))
    assert(sinkRows(topicSink).nonEmpty)
    TopicBroker.delete(topic)
  }

  test("start() dispatches topic:// changelog URIs to the topic source") {
    val events = s"${TestSpark.sfDir}/events.parquet"
    val clog = freshDir("clog-uri")
    Changelog.writeFromEvents(spark, events, clog, numFiles = 4)
    val fileSink = runOver(
      Changelog.readStream(spark, clog, maxFilesPerTrigger = 2), "uri-f")
    val topic = s"cdc-uri-${System.nanoTime()}"
    Changelog.publishFromEvents(spark, events, topic, partitions = 2)
    val sink = new KeyedTableSink(spark, freshDir("sink-uri"),
      Seq("user_id"), schema.columns)
    val p = CdcPipeline.Pipeline(s"topic-uri", s"topic://$topic",
      freshDir("ckpt-uri"), schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None, sink = sink)
    CdcPipeline.start(spark, p).awaitTermination(120000)
    assert(sinkRows(sink) === sinkRows(fileSink))
    assert(sinkRows(sink).nonEmpty)
    TopicBroker.delete(topic)
  }

  test("maxOffsetsPerTrigger admits at most the cap per micro-batch") {
    val topic = s"cdc-cap-${System.nanoTime()}"
    TopicBroker.create(topic, 2)
    (0 until 50).foreach { i =>
      TopicBroker.sendKeyed(topic, i.toLong,
        s"""{"key":[$i],"update":{"event_type":"e","value_milli":$i}}""")
    }
    val sizes = scala.collection.mutable.Buffer[Long]()
    val q = Changelog.readTopicStream(spark, topic,
        maxOffsetsPerTrigger = 20)
      .writeStream
      .option("checkpointLocation", freshDir("ckpt-cap"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes += df.count(); ()
      }
      .start()
    q.awaitTermination(120000)
    assert(sizes.sum === 50L)
    assert(sizes.forall(_ <= 20L), s"batch sizes $sizes exceed cap")
    assert(sizes.length >= 3) // the cap actually split the stream
    TopicBroker.delete(topic)
  }

  test("maxBytesPerTrigger splits batches at the byte cap " +
      "(CdcReader.java:43 200MB analog)") {
    val topic = s"cdc-bytes-${System.nanoTime()}"
    TopicBroker.create(topic, 1)
    // 10 messages of exactly 100 UTF-8 bytes each
    val pad = "x" * 30
    (0 until 10).foreach { i =>
      val v = s"""{"key":[$i],"update":{"event_type":"$pad","value_milli":$i}}"""
        .padTo(100, ' ')
      assert(v.getBytes("UTF-8").length === 100)
      TopicBroker.send(topic, 0, v)
    }
    val sizes = scala.collection.mutable.Buffer[Long]()
    val q = Changelog.readTopicStream(spark, topic,
        maxBytesPerTrigger = 250)
      .writeStream
      .option("checkpointLocation", freshDir("ckpt-bytes"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes += df.count(); ()
      }
      .start()
    q.awaitTermination(120000)
    assert(sizes.sum === 10L)
    // 250-byte budget admits exactly 2 of the 100-byte messages
    assert(sizes.forall(_ <= 2L), s"batch sizes $sizes exceed byte cap")
    assert(sizes.count(_ > 0) === 5) // the cap actually split the stream
    TopicBroker.delete(topic)
  }

  test("an oversized single message still flows (cap is a buffer, " +
      "not a filter)") {
    val topic = s"cdc-bigmsg-${System.nanoTime()}"
    TopicBroker.create(topic, 1)
    val big = s"""{"key":[1],"update":{"event_type":"${"y" * 500}","value_milli":1}}"""
    TopicBroker.send(topic, 0, big)
    TopicBroker.send(topic, 0,
      """{"key":[2],"update":{"event_type":"e","value_milli":2}}""")
    val sizes = scala.collection.mutable.Buffer[Long]()
    val q = Changelog.readTopicStream(spark, topic,
        maxBytesPerTrigger = 100) // smaller than the first message
      .writeStream
      .option("checkpointLocation", freshDir("ckpt-bigmsg"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes += df.count(); ()
      }
      .start()
    q.awaitTermination(120000)
    assert(sizes.sum === 2L) // nothing stuck behind the oversized head
    assert(sizes.count(_ > 0) === 2) // big one alone, then the small one
    TopicBroker.delete(topic)
  }

  test("kafka-shaped column contract drives the pipeline unchanged " +
      "(spark-sql-kafka front door)") {
    val events = s"${TestSpark.sfDir}/events.parquet"
    val clog = freshDir("clog-kafka")
    Changelog.writeFromEvents(spark, events, clog, numFiles = 4)
    val fileSink = runOver(
      Changelog.readStream(spark, clog, maxFilesPerTrigger = 2), "kafka-f")
    val topic = s"cdc-kafka-${System.nanoTime()}"
    Changelog.publishFromEvents(spark, events, topic, partitions = 2)
    // reshape the in-JVM topic stream to the exact spark-sql-kafka
    // output schema, then run it back through the adapter: proves a
    // real .format("kafka") load() plugs in with zero pipeline changes
    val kafkaShaped = Changelog.readTopicStream(spark, topic)
      .select(lit(null).cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        lit(topic).as("topic"),
        lit(0).as("partition"),
        col("seq").cast("long").as("offset"),
        current_timestamp().as("timestamp"))
    val sink = runOver(Changelog.fromKafkaShaped(kafkaShaped), "kafka-t")
    assert(sinkRows(sink) === sinkRows(fileSink))
    assert(sinkRows(sink).nonEmpty)
    TopicBroker.delete(topic)
  }

  test("no partition starves: oversized head drains despite steady " +
      "traffic on another partition") {
    val topic = s"cdc-starve-${System.nanoTime()}"
    TopicBroker.create(topic, 2)
    // partition 0: many small messages; partition 1: one message
    // larger than the whole byte budget, then a small one behind it
    (0 until 20).foreach { i =>
      TopicBroker.send(topic, 0,
        s"""{"key":[$i],"update":{"event_type":"e","value_milli":$i}}""")
    }
    TopicBroker.send(topic, 1,
      s"""{"key":[100],"update":{"event_type":"${"z" * 400}","value_milli":100}}""")
    TopicBroker.send(topic, 1,
      """{"key":[101],"update":{"event_type":"e","value_milli":101}}""")
    var total = 0L
    val q = Changelog.readTopicStream(spark, topic,
        maxBytesPerTrigger = 120) // smaller than partition 1's head
      .writeStream
      .option("checkpointLocation", freshDir("ckpt-starve"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        total += df.count(); ()
      }
      .start()
    q.awaitTermination(120000)
    // every message flowed — the rotation gives partition 1 first
    // claim on a fresh budget within 2 triggers, and the oversized
    // head is admitted alone at that point
    assert(total === 22L)
    TopicBroker.delete(topic)
  }

  test("offsets checkpoint: restart consumes only new records (O10)") {
    val topic = s"cdc-resume-${System.nanoTime()}"
    TopicBroker.create(topic, 2)
    def push(ids: Range): Unit = ids.foreach { i =>
      TopicBroker.sendKeyed(topic, i.toLong,
        s"""{"key":[$i],"update":{"event_type":"a","value_milli":$i}}""")
    }
    push(0 until 10)
    val ckpt = freshDir("ckpt-resume")
    val sinkDir = freshDir("sink-resume")
    val sink = new KeyedTableSink(spark, sinkDir, Seq("user_id"),
      schema.columns)
    def run(): Unit = {
      val p = CdcPipeline.Pipeline(s"topic-resume", "/unused", ckpt,
        schema, updateSql = Some(
          "SELECT user_id, event_type, value_milli FROM rows"),
        deleteSql = None, sink = sink)
      CdcPipeline.startWithSource(spark, p,
        Changelog.readTopicStream(spark, topic)).awaitTermination(120000)
    }
    run()
    assert(sink.load().count() === 10L)
    push(10 until 25) // new records after "restart"
    run() // same checkpoint: resumes from committed offsets
    assert(sink.load().count() === 25L)
    TopicBroker.delete(topic)
  }

  test("partition sessions resume from committed offsets across a " +
      "mid-flight stop UNDER PUBLISH LOAD (O1 lifecycle, O10)") {
    // the reference's partition-session lifecycle (CdcReader.java:
    // 82-115): sessions stop with their committed offsets confirmed
    // and later sessions resume from exactly there, while producers
    // keep appending throughout. Spark analog: per-partition offsets
    // in the checkpoint survive a mid-flight q.stop(); the restarted
    // query's new partition readers pick up at the commit, and the
    // final state is exactly-once whatever interleaving occurred.
    val topic = s"cdc-load-${System.nanoTime()}"
    TopicBroker.create(topic, 4)
    val keys = 40
    val rounds = 60 // 2400 messages, stretched over ~1.5 s of publish
    @volatile var published = 0
    @volatile var pubErr: Option[Throwable] = None
    val publisher = new Thread(() => {
      try {
        for (r <- 0 until rounds) {
          for (k <- 0 until keys) {
            TopicBroker.sendKeyed(topic, k.toLong,
              s"""{"key":[$k],"update":{"event_type":"r$r","value_milli":${r * 1000 + k}}}""")
            published += 1
          }
          Thread.sleep(25)
        }
      } catch { case t: Throwable => pubErr = Some(t) }
    })
    val ckpt = freshDir("ckpt-load")
    val sink = new KeyedTableSink(spark, freshDir("sink-load"),
      Seq("user_id"), schema.columns)
    def pipeline = CdcPipeline.Pipeline("topic-load", "/unused", ckpt,
      schema, updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None, sink = sink)
    def src = Changelog.readTopicStream(spark, topic,
      maxOffsetsPerTrigger = 64)
    publisher.start()
    Thread.sleep(100) // let some records land before the first session
    // session 1: capped micro-batches, killed mid-flight while the
    // publisher is live (if the AvailableNow snapshot drains first,
    // the stop is graceful — both are valid session-stop paths and
    // the exactly-once contract must hold either way)
    val q1 = CdcPipeline.startWithSource(spark, pipeline, src)
    val deadline = System.currentTimeMillis() + 60000
    while (q1.isActive && q1.recentProgress.length < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    publisher.join(120000)
    assert(pubErr.isEmpty, s"publisher failed: $pubErr")
    assert(published === rounds * keys)
    // session 2: resumes from the committed offsets and drains the
    // rest (including everything published after the stop)
    CdcPipeline.startWithSource(spark, pipeline, src)
      .awaitTermination(120000)
    // all four partitions carried traffic — the multi-session case
    assert(TopicBroker.endOffsets(topic).count(_ > 0) === 4)
    assert(TopicBroker.endOffsets(topic).sum === (rounds * keys).toLong)
    // exactly-once RESULT: per-key LWW must land on the final round's
    // value — a lost batch shows a stale round, a reset offset would
    // double-apply old rounds over new (value regression)
    val got = sink.load().collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got.size === keys)
    (0 until keys).foreach { k =>
      assert(got(k.toLong) ===
        ((s"r${rounds - 1}", (rounds - 1) * 1000L + k)), s"key $k")
    }
    // a further restart with NO new data consumes nothing and changes
    // nothing (committed offsets are the whole truth)
    val before = sinkRows(sink)
    CdcPipeline.startWithSource(spark, pipeline, src)
      .awaitTermination(120000)
    assert(sinkRows(sink) === before)
    TopicBroker.delete(topic)
  }
}
