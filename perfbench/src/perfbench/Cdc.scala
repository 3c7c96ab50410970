package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.Changelog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** One committed micro-batch, read from the query's progress. */
final case class Batch(rows: Long, startMs: Long, endMs: Long,
    durations: Map[String, Long], startOffsets: String, endOffsets: String)

/** Result of one `start` ... `awaitTermination` of a query. */
final case class Drain(callMs: Double, doneMs: Double, batches: Seq[Batch],
    ok: Boolean) {
  def rows: Long = batches.map(_.rows).sum
  def seconds: Double = (doneMs - callMs) / 1e3
  /** From the `start` call to the first batch's trigger. */
  def queryStartMs: Option[Double] =
    batches.headOption.map(_.startMs - callMs)
}

/** The pipeline under test, as `app/Main` configures it: the users
  * table keyed on `user_id`, the passthrough transform, upsert action,
  * and a 32-bucket keyed sink.
  */
object Cdc {
  val schema: CdcParse.CdcSchema = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value_milli", LongType))),
    pk = Seq("user_id"))
  val Transform = "SELECT user_id, event_type, value_milli FROM rows"
  val Buckets = 32

  def sink(spark: SparkSession, dir: Path): GuardedSink =
    new GuardedSink(spark, dir)

  /** The keyed sink with its writes kept apart from the benchmark's
    * reads. `KeyedTableSink` is single-writer with no concurrent readers
    * (`gc` deletes the superseded generations right after the manifest
    * promote, so a read that listed them fails), so reads hold the read
    * side of a fair lock and `apply` and `startupGc` the write side.
    */
  final class GuardedSink(spark: SparkSession, dir: Path)
      extends KeyedTableSink(spark, dir.toString, schema.pk, schema.columns,
        numBuckets = Buckets) {
    private val lock = new java.util.concurrent.locks.ReentrantReadWriteLock(true)

    private def holding[T](l: java.util.concurrent.locks.Lock)(body: => T): T = {
      l.lock()
      try body finally l.unlock()
    }

    override def apply(batch: DataFrame, action: String): Unit =
      holding(lock.writeLock())(super.apply(batch, action))

    override def startupGc(): Unit = holding(lock.writeLock())(super.startupGc())

    /** Runs `body` with no apply in flight; returns its result and the
      * milliseconds spent waiting for the lock.
      */
    def reading[T](body: => T): (T, Double) = {
      val t = System.nanoTime()
      holding(lock.readLock()) {
        val waitMs = (System.nanoTime() - t) / 1e6
        (body, waitMs)
      }
    }
  }

  def pipeline(source: String, ckpt: Path, sink: KeyedTableSink,
      maxFilesPerTrigger: Int): CdcPipeline.Pipeline =
    CdcPipeline.Pipeline("perfbench", source, ckpt.toString, schema,
      Some(Transform), None, sink, maxFilesPerTrigger = maxFilesPerTrigger)

  /** Run one AvailableNow query to termination and collect its batches.
    * With `tracer` set, batches go through [[Replica]] instead of
    * `CdcPipeline.start`.
    */
  def drain(r: Run, p: CdcPipeline.Pipeline,
      tracer: Option[Tracer]): Drain = {
    val call = Clock.nowMs
    var q: StreamingQuery = null
    val ok = try {
      q = tracer.fold(CdcPipeline.start(r.spark, p))(Replica.start(r.spark, p, _))
      val finished = q.awaitTermination(math.max(1L, r.msLeft))
      if (!finished) {
        q.stop()
        r.fail("batch", new java.util.concurrent.TimeoutException(
          "run deadline passed before the query drained"))
      }
      finished
    } catch { case e: Exception => r.fail("batch", e); false }
    val done = Clock.nowMs
    val batches = Option(q).toSeq.flatMap(_.recentProgress.toSeq)
      .filter(_.durationMs.containsKey("addBatch")).map(batch)
    r.attempt(batches.length + (if (ok) 0 else 1))
    Drain(call, done, batches, ok)
  }

  private def batch(p: StreamingQueryProgress): Batch = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    Batch(p.numInputRows, start,
      start + d.getOrElse("triggerExecution", 0L), d,
      p.sources.headOption.map(_.startOffset).orNull,
      p.sources.headOption.map(_.endOffset).orNull)
  }

  /** Compare the whole sink with the model. */
  def verify(r: Run, what: String, sink: KeyedTableSink, m: Model): Unit =
    r.mismatch(what, m.diff(sink.load()
      .select("user_id", "event_type", "value_milli")
      .toLocalIterator().asScala))

  /** Live parquet files of the sink, from its manifest. */
  def liveFiles(sink: KeyedTableSink): Seq[Path] =
    liveDirs(sink.manifest(), sink).flatMap(parquetFiles)

  def liveDirs(m: Map[String, String], sink: KeyedTableSink): Seq[Path] =
    (m - "buckets" - "epoch").values.toSeq.distinct
      .map(d => java.nio.file.Paths.get(sink.path, d))

  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq
      finally s.close()
    }

  def bytesPerRow(sink: KeyedTableSink, rows: Long): Double =
    liveFiles(sink).map(Files.size).sum.toDouble / math.max(1L, rows)

  /** Heap in use after a full collection, in MiB. */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Counts `RETRYING(n)` episodes on the pipeline's status, polled. */
  final class RetryWatch(consumer: String) extends Thread("perfbench-retries") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var retries = 0L
    override def run(): Unit = {
      var episode = 0L
      val Retrying = """RETRYING\((\d+)\).*""".r
      while (running) {
        Option(CdcPipeline.statuses.get(consumer)).map(_.status) match {
          case Some(Retrying(n)) => episode = math.max(episode, n.toLong)
          case _ => retries += episode; episode = 0
        }
        Thread.sleep(20)
      }
      retries += episode
    }
    def finish(): Long = { running = false; join(); retries }
  }
}

/** The traced pass: the same stream, the same source options and the
  * same steps as `CdcPipeline.applyBatch` on this workload's path
  * (upsert, passthrough transform, no delete query), called one layer
  * at a time through the layers' public functions with a span around
  * each and each result materialized at its boundary. The extra
  * materializations are part of the tracing overhead the run reports.
  */
object Replica {
  def start(spark: SparkSession, p: CdcPipeline.Pipeline,
      tr: Tracer): StreamingQuery = {
    graft.functions.GraftFunctions.register(spark)
    p.sink.startupGc()
    val source =
      if (p.changelogDir.startsWith("topic://"))
        Changelog.readTopicStream(spark, p.changelogDir.stripPrefix("topic://"),
          maxOffsetsPerTrigger = p.maxFilesPerTrigger.toLong * 100)
      else Changelog.readStream(spark, p.changelogDir, p.maxFilesPerTrigger)
    source.writeStream
      .queryName(p.consumer)
      .option("checkpointLocation", p.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(p, batch, batchId, tr)
      }
      .start()
  }

  def applyBatch(p: CdcPipeline.Pipeline, batch: DataFrame, id: Long,
      tr: Tracer): Unit = tr.span("pipeline.add_batch", id) {
    val typed = tr.span("parse", id) {
      val t = CdcParse.parseEnvelope(batch, "value", p.schema)
        .filter(col("op") =!= CdcParse.OpDrop).cache()
      tr.note("parse.rows_kept", t.count())
      t
    }
    val lww = tr.span("lww", id) {
      val l = KeyedMerge.lww(typed, p.schema.pk, "seq").cache()
      tr.note("lww.rows_out", l.count())
      l
    }
    // the pipeline's bookkeeping job: row and erase counts for status
    lww.groupBy(col("op")).agg(count(lit(1)).as("n")).collect()
    val applied = tr.span("transform", id) {
      val session = batch.sparkSession
      lww.filter(col("op") =!= CdcParse.OpErase).createOrReplaceTempView("rows")
      val transformed = session.sql(p.updateSql.get)
        .withColumn("op", lit(CdcParse.OpUpdate))
      val erases = lww.filter(col("op") === CdcParse.OpErase)
        .select(transformed.columns.map(c =>
          if (p.schema.pk.contains(c) || c == "op") col(c)
          else lit(null).cast(p.schema.columns(c).dataType).as(c))
          .toIndexedSeq: _*)
      val a = transformed.unionByName(erases).cache()
      a.count()
      a
    }
    val before = tr.span("trace.probe", id)(p.sink.manifest())
    tr.span("sink.apply", id)(p.sink.apply(applied, p.action))
    tr.span("trace.probe", id) {
      val after = p.sink.manifest()
      val changed = (before.keySet ++ after.keySet)
        .filter(k => k != "buckets" && before.get(k) != after.get(k))
      tr.note("sink.buckets_touched", changed.size)
      tr.note("sink.files_written", Cdc.liveDirs(
        after.filter { case (k, _) => changed(k) }, p.sink)
        .map(Cdc.parquetFiles(_).length).sum)
    }
    applied.unpersist(); lww.unpersist(); typed.unpersist()
  }
}
