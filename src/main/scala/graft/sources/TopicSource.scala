package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8
import java.util

/** Topic-backed CDC source (SURVEY.md §2 O1, CdcReader.java:34-53):
  * a partitioned, ordered-within-partition log consumed as a
  * Structured Streaming `MicroBatchStream` whose rows carry exactly
  * the spark-sql-kafka column contract
  *
  * {{{
  * key BINARY, value BINARY, topic STRING, partition INT,
  * offset LONG, timestamp TIMESTAMP, timestampType INT
  * }}}
  *
  * with the topic named by the kafka option `subscribe`, and
  * per-partition offsets checkpointed by Spark — the deferred-commit
  * contract (offsets advance only after the batch succeeds, O10).
  * [[Changelog.fromKafkaShaped]] maps these rows to the pipeline's
  * (value, seq) contract, the same adapter a real `format("kafka")`
  * stream goes through. `timestamp` is deterministic (epoch + offset
  * micros, the stub has no broker clock) and `timestampType` is 0
  * (CreateTime); the pipeline consumes neither.
  *
  * Admission control: `maxOffsetsPerTrigger` caps rows per micro-batch
  * via `SupportsAdmissionControl`, and `maxBytesPerTrigger` caps the
  * admitted VALUE BYTES per micro-batch — the direct analog of the
  * reference reader's 200 MB read-ahead cap (CdcReader.java:43). Both
  * caps compose (whichever bites first).
  *
  * The log itself is [[TopicBroker]], an in-JVM partitioned-log stub:
  * this sandbox has no broker, and the POINT is the source contract —
  * swapping the broker calls for a Kafka consumer (poll by
  * partition/offset range) changes nothing downstream. Executors must
  * share the driver JVM (local mode) for the stub; a real broker
  * client removes that restriction.
  */
object TopicBroker {
  final class Topic(val partitions: Int) {
    val logs: Array[scala.collection.mutable.ArrayBuffer[String]] =
      Array.fill(partitions)(scala.collection.mutable.ArrayBuffer())
    // message keys, parallel to logs (null = unkeyed append); the
    // source's `key` column
    val keys: Array[scala.collection.mutable.ArrayBuffer[String]] =
      Array.fill(partitions)(scala.collection.mutable.ArrayBuffer())
    // byte prefix sums per partition: bytesCum(p)(i) = total UTF-8
    // bytes of messages [0, i) — byte-budget admission is then an
    // O(log n)-searchable range query, never a value scan (the walk
    // below is linear only because the stub is in-JVM; a broker
    // client gets the same numbers from record batch sizes)
    val bytesCum: Array[scala.collection.mutable.ArrayBuffer[Long]] =
      Array.fill(partitions)(scala.collection.mutable.ArrayBuffer(0L))
  }
  private val topics =
    new java.util.concurrent.ConcurrentHashMap[String, Topic]()

  def create(name: String, partitions: Int): Unit =
    topics.put(name, new Topic(partitions))

  def delete(name: String): Unit = topics.remove(name)

  private def topic(name: String): Topic = {
    val t = topics.get(name)
    require(t != null, s"no such topic: $name")
    t
  }

  def partitions(name: String): Int = topic(name).partitions

  /** Append to an explicit partition; returns its offset. */
  def send(name: String, partition: Int, value: String,
      key: String = null): Long = {
    val t = topic(name)
    t.logs(partition).synchronized {
      t.logs(partition) += value
      t.keys(partition) += key
      t.bytesCum(partition) += t.bytesCum(partition).last +
        value.getBytes("UTF-8").length
      t.logs(partition).length - 1L
    }
  }

  /** Byte-budget admission: the largest end in [from, until] such that
    * messages [from, end) total at most `budget` bytes. Returns
    * (end, bytesAdmitted).
    */
  def admitBytes(name: String, partition: Int, from: Long, until: Long,
      budget: Long): (Long, Long) = {
    val t = topic(name)
    t.logs(partition).synchronized {
      val cum = t.bytesCum(partition)
      var end = from
      while (end < until &&
          cum(end.toInt + 1) - cum(from.toInt) <= budget) end += 1
      (end, cum(end.toInt) - cum(from.toInt))
    }
  }

  /** Keyed append — partition = key % partitions, the reference's
    * partition-affine routing (YqlWriter.java:117-120) so per-key
    * order is per-partition order.
    */
  def sendKeyed(name: String, key: Long, value: String): Long =
    send(name, math.floorMod(key, partitions(name)).toInt, value,
      key.toString)

  def endOffsets(name: String): Array[Long] =
    topic(name).logs.map(l => l.synchronized(l.length.toLong))

  /** (key, value) slice — what the source's partition reader emits. */
  def readKeyed(name: String, partition: Int, from: Long,
      until: Long): Seq[(String, String)] = {
    val t = topic(name)
    t.logs(partition).synchronized {
      (t.keys(partition).slice(from.toInt, until.toInt) zip
        t.logs(partition).slice(from.toInt, until.toInt)).toSeq
    }
  }
}

object TopicSource {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))
}

/** `format("graft.sources.TopicSourceProvider")` entry point. */
class TopicSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TopicSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new TopicTable
}

class TopicTable extends Table with SupportsRead {
  override def name(): String = "graft-topic"
  override def schema(): StructType = TopicSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  // read options arrive here (case-insensitive), not on getTable
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan {
    private val topic = {
      val t = options.get("subscribe")
      require(t != null, "option 'subscribe' is required")
      t
    }
    private val maxOffsets =
      Option(options.get("maxOffsetsPerTrigger"))
        .map(_.toLong).getOrElse(0L)
    private val maxBytes =
      Option(options.get("maxBytesPerTrigger"))
        .map(_.toLong).getOrElse(0L)
    override def readSchema(): StructType = TopicSource.schema
    override def toMicroBatchStream(checkpointLocation: String)
        : MicroBatchStream =
      new TopicMicroBatchStream(topic, maxOffsets, maxBytes)
  }
}

/** Per-partition end offsets, JSON-serialized into the checkpoint. */
case class TopicOffsets(ends: Array[Long]) extends Offset {
  override def json(): String = ends.mkString("[", ",", "]")
}

class TopicMicroBatchStream(topic: String, maxOffsets: Long,
    maxBytes: Long = 0L)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def nParts = TopicBroker.partitions(topic)

  // Trigger.AvailableNow: pin the end boundary at start; admission-
  // capped micro-batches then drain up to exactly this point
  @volatile private var availableNowEnd: Array[Long] = _

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = TopicBroker.endOffsets(topic)

  override def initialOffset(): Offset =
    TopicOffsets(Array.fill(nParts)(0L))

  override def getDefaultReadLimit: ReadLimit =
    if (maxOffsets > 0) ReadLimit.maxRows(maxOffsets)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")

  // rotates which partition gets first claim on the byte budget each
  // trigger — greedy-by-partition-index would let a busy low-indexed
  // partition starve a higher one forever
  private var rotation = 0

  /** Advance per-partition ends, admitting at most the row cap AND at
    * most the byte budget across partitions. The byte budget is the
    * direct analog of the reference reader's 200 MB read-ahead cap
    * (CdcReader.java:43): micro-batch memory is bounded by BYTES, not
    * row count, which is what survives at 100 TB ingest where row
    * sizes vary by orders of magnitude. Bytes are not a Spark
    * `ReadLimit` kind, so the budget is enforced source-side from the
    * scan option.
    *
    * Fairness/progress guarantees: partitions are visited in an order
    * that ROTATES each trigger, so every partition periodically gets
    * first claim on a fresh budget; and a head message larger than the
    * entire budget is admitted alone when its partition holds the
    * fresh budget (the cap is a buffer, not a filter). Together: no
    * partition can starve behind other partitions' traffic or behind
    * its own oversized head, regardless of message sizes.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[TopicOffsets].ends
    val avail =
      if (availableNowEnd != null) availableNowEnd
      else TopicBroker.endOffsets(topic)
    var budget = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _: ReadAllAvailable => Long.MaxValue
      case _ => Long.MaxValue
    }
    var byteBudget = if (maxBytes > 0) maxBytes else Long.MaxValue
    val order = from.indices.map(i => (i + rotation) % from.length)
    rotation = if (from.isEmpty) 0 else (rotation + 1) % from.length
    val ends = from.clone()
    order.foreach { p =>
      var until = from(p) + math.min(avail(p) - from(p), budget)
      if (maxBytes > 0 && until > from(p)) {
        val (e, used) =
          TopicBroker.admitBytes(topic, p, from(p), until, byteBudget)
        if (e == from(p) && byteBudget == maxBytes) {
          // head message exceeds even the FULL budget: admit exactly
          // it (this partition holds the fresh budget this trigger)
          val (e1, used1) = TopicBroker.admitBytes(topic, p, from(p),
            from(p) + 1, Long.MaxValue)
          until = e1; byteBudget -= used1
        } else {
          until = e; byteBudget -= used
        }
      }
      budget -= until - from(p)
      ends(p) = until
    }
    TopicOffsets(ends)
  }

  override def reportLatestOffset(): Offset =
    TopicOffsets(TopicBroker.endOffsets(topic))

  override def deserializeOffset(json: String): Offset =
    TopicOffsets(json.stripPrefix("[").stripSuffix("]").split(",")
      .filter(_.nonEmpty).map(_.trim.toLong))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffsets].ends
    val e = end.asInstanceOf[TopicOffsets].ends
    s.indices.filter(p => e(p) > s(p))
      .map(p => TopicRange(topic, p, s(p), e(p)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val r = partition.asInstanceOf[TopicRange]
      new PartitionReader[InternalRow] {
        private val rows = TopicBroker
          .readKeyed(r.topic, r.partition, r.from, r.until).iterator
        private val topic = UTF8String.fromString(r.topic)
        private var off = r.from - 1
        private var cur: (String, String) = _
        override def next(): Boolean =
          if (rows.hasNext) { cur = rows.next(); off += 1; true }
          else false
        override def get(): InternalRow = InternalRow(
          if (cur._1 == null) null else cur._1.getBytes(UTF_8),
          cur._2.getBytes(UTF_8),
          topic,
          r.partition,
          off,
          off, // micros since epoch — deterministic stub CreateTime
          0)
        override def close(): Unit = ()
      }
    }

  override def commit(end: Offset): Unit = () // checkpoint owns progress
  override def stop(): Unit = ()
}

case class TopicRange(topic: String, partition: Int, from: Long,
  until: Long) extends InputPartition
