package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CLI: render events.parquet -> CDC changelog JSON lines.
  * Usage: runMain graft.sources.ChangelogGen <eventsParquet> <outDir> [numFiles]
  */
object ChangelogGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-changelog-gen")
    val n = Changelog.writeFromEvents(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 5)
    println(s"[changelog-gen] wrote $n envelopes to ${args(1)}")
    spark.stop()
  }
}

/** CDC changelog source (SURVEY.md §2 O1).
  *
  * The reference consumes a YDB topic (CdcReader.java:40-53): a
  * partitioned, ordered-within-partition log of JSON envelopes. Here
  * the same contract is a Structured Streaming file source over JSON
  * lines — each line one envelope, file order = offset order — with
  * `maxFilesPerTrigger` standing in for the reader's 200 MB admission
  * cap (CdcReader.java:43). A `topic://` changelog is read through
  * [[TopicSourceProvider]] (the spark-sql-kafka row contract) and
  * [[fromKafkaShaped]]; everything downstream is unchanged.
  */
object Changelog {

  val rawSchema: StructType =
    StructType(Seq(StructField("value", StringType)))

  /** Open the changelog directory as a stream of raw envelope lines.
    * The topic offset (out-of-band in the reference's topic reader) is
    * embedded as a top-level `offset` field by the replay writer; it
    * becomes the `seq` column driving last-writer-wins.
    */
  def readStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(rawSchema)
      .text(dir)
      .withColumn("seq",
        get_json_object(col("value"), "$.offset").cast("long"))

  /** Batch view of the same changelog (for golden comparisons). */
  def readBatch(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(rawSchema).text(dir)
      .withColumn("seq",
        get_json_object(col("value"), "$.offset").cast("long"))

  /** Adapter from the spark-sql-kafka column contract — `key BINARY,
    * value BINARY, topic STRING, partition INT, offset LONG,
    * timestamp TIMESTAMP` — to this pipeline's (value, seq) source
    * contract. This is the ENTIRE Kafka front door: a real changefeed
    * topic drives `CdcPipeline.startWithSource` unchanged via
    *
    * {{{
    * CdcPipeline.startWithSource(spark, pipeline,
    *   Changelog.fromKafkaShaped(
    *     spark.readStream.format("kafka")
    *       .option("kafka.bootstrap.servers", "...")
    *       .option("subscribe", topic).load()))
    * }}}
    *
    * `seq` is the partition-local Kafka offset — per-key order holds
    * for key-partitioned producers exactly as with [[TopicBroker]]
    * (partition-affine routing, YqlWriter.java:117-120). The kafka
    * connector is not a dependency of this build; every `topic://`
    * pipeline runs this adapter over [[TopicSourceProvider]], whose
    * rows have the same columns.
    */
  def fromKafkaShaped(df: DataFrame): DataFrame =
    df.select(col("value").cast("string").as("value"),
      col("offset").cast("long").as("seq"))

  /** Open a [[TopicBroker]] topic as the same (value, seq) contract —
    * the reference's actual front door (async partitioned topic
    * consumer, CdcReader.java:34-53): [[TopicSourceProvider]]
    * subscribed to `topic`, through [[fromKafkaShaped]]. `seq` is the
    * PARTITION-LOCAL offset: per-key order holds because producers
    * route by key (partition-affine, YqlWriter.java:117-120), exactly
    * the reference's ordering guarantee. `maxOffsetsPerTrigger` is the
    * 200 MB admission-cap analog (CdcReader.java:43).
    */
  def readTopicStream(spark: SparkSession, topic: String,
      maxOffsetsPerTrigger: Long = 0L,
      maxBytesPerTrigger: Long = 0L): DataFrame =
    fromKafkaShaped(spark.readStream
      .format("graft.sources.TopicSourceProvider")
      .option("subscribe", topic)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .option("maxBytesPerTrigger", maxBytesPerTrigger.toString)
      .load())

  /** Render the driver `events` table into (user_id, envelope) pairs
    * in event order — shared by the file replay writer and the topic
    * publisher so both sources carry IDENTICAL envelopes.
    */
  def renderEnvelopes(spark: SparkSession,
      eventsParquet: String): Seq[(Long, String)] = {
    val ev = spark.read.parquet(eventsParquet)
      .withColumn("vm", round(col("value") * 1000).cast("long"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("vm"))
      .orderBy("event_id")
      .collect() // test-fixture generation only — not a data-path op
    ev.toSeq.map { r =>
      val (id, uid, et, vm) = (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3))
      val payload =
        s"""{"user_id":$uid,"event_type":"$et","value_milli":$vm}"""
      val key = s"""{"offset":$id,"key":[$uid]"""
      uid -> (id % 10 match {
        case 0 => s"""$key,"erase":{}}"""
        case 1 => s"""$key,"update":{}}"""
        case 2 => s"""$key,"update":7,"newImage":$payload}"""
        case 3 => s"""$key,"newImage":$payload}"""
        case _ => s"""$key,"update":$payload}"""
      })
    }
  }

  /** Deterministically render the `events` table into CDC
    * envelope JSON lines (same mix as CdcQueries: erase / keys-only /
    * newImage-fallback / drop / update by event_id % 10), written as
    * `numFiles` ordered files so the stream replays multiple
    * micro-batches. Returns the number of envelopes written.
    */
  def writeFromEvents(spark: SparkSession, eventsParquet: String,
      outDir: String, numFiles: Int = 5): Long = {
    import java.nio.file.{Files, Paths}
    val lines = renderEnvelopes(spark, eventsParquet).map(_._2)
    Files.createDirectories(Paths.get(outDir))
    val perFile = math.max(1,
      math.ceil(lines.length.toDouble / numFiles).toInt)
    lines.grouped(perFile).zipWithIndex.foreach { case (rows, i) =>
      Files.write(Paths.get(outDir, f"chunk-$i%05d.json"),
        rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    lines.length.toLong
  }

  /** Publish the same envelopes into a [[TopicBroker]] topic, routed
    * by key (partition-affine) — the topic-mode twin of
    * `writeFromEvents`.
    */
  def publishFromEvents(spark: SparkSession, eventsParquet: String,
      topic: String, partitions: Int): Long = {
    TopicBroker.create(topic, partitions)
    val envs = renderEnvelopes(spark, eventsParquet)
    envs.foreach { case (uid, line) =>
      TopicBroker.sendKeyed(topic, uid, line)
    }
    envs.length.toLong
  }
}
