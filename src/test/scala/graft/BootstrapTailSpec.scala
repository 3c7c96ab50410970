package graft

import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.Changelog
import graft.streaming.{BootstrapTail, CdcPipeline}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bootstrap-then-tail onboarding: snapshot-load the sink, then
  * attach the changefeed at the recorded cutoff —
  *
  *  - stream==batch: the two-phase state converges to the ONE-PHASE
  *    LWW over the whole log (the same algebra `cdc_bootstrap_tail`
  *    proves under the DuckDB oracle gate);
  *  - no-duplicate across the seam: a sentinel written into the sink
  *    after bootstrap survives the tail (a stream that redelivered
  *    any <= cutoff offset would overwrite it);
  *  - no-gap: every key whose events lie wholly past the cutoff
  *    arrives (covered by the golden equality);
  *  - restart safety: re-invoking start() skips the bootstrap
  *    (recorded cutoff) and resumes the tail's checkpoint; a crash
  *    BEFORE the cutoff record re-bootstraps idempotently.
  */
class BootstrapTailSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  val schema = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value_milli", LongType))),
    pk = Seq("user_id"))

  val sinkSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value_milli", LongType)))

  def freshDir(tag: String): String =
    tempDir(s"graft-$tag")

  def tuple3(r: org.apache.spark.sql.Row): (Long, String, Option[Long]) =
    (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))

  /** One-phase golden: LWW over the whole changelog (erase wins drop). */
  def golden(changelogDir: String): Set[(Long, String, Option[Long])] = {
    val typed = CdcParse.parseEnvelope(
      Changelog.readBatch(spark, changelogDir), "value", schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    KeyedMerge.lww(typed, Seq("user_id"), "seq")
      .filter(col("op") =!= CdcParse.OpErase)
      .select("user_id", "event_type", "value_milli").collect()
      .map(tuple3).toSet
  }

  def sinkRows(s: KeyedTableSink): Set[(Long, String, Option[Long])] =
    s.load().collect().map(tuple3).toSet

  def pipeline(tag: String, live: String,
      numBuckets: Int = 1): CdcPipeline.Pipeline = {
    val sink = new KeyedTableSink(spark, freshDir(s"$tag-sink"),
      Seq("user_id"), sinkSchema, numBuckets)
    // BootstrapTail keeps its cutoff file beside the checkpoint dir,
    // so the checkpoint nests in a temp dir that holds both
    CdcPipeline.Pipeline(s"test-$tag", live,
      freshDir(s"$tag-ckpt") + "/ckpt", schema,
      Some("SELECT user_id, event_type, value_milli FROM rows"),
      None, sink, maxFilesPerTrigger = 2)
  }

  /** Stage the deterministic changelog into `staging` and copy its
    * first `n` files (by name = replay order) into `live`.
    */
  def stage(tag: String, nFiles: Int, takeFirst: Int,
      eventsParquet: String = s"${TestSpark.sfDir}/events.parquet")
      : (String, String, Seq[java.io.File]) = {
    val staging = freshDir(s"$tag-stage")
    Changelog.writeFromEvents(spark, eventsParquet, staging,
      numFiles = nFiles)
    val live = freshDir(s"$tag-live")
    val files = new java.io.File(staging).listFiles().sortBy(_.getName)
      .toSeq
    copyIn(live, files.take(takeFirst))
    (staging, live, files)
  }

  def copyIn(live: String, fs: Seq[java.io.File]): Unit = fs.foreach {
    f => java.nio.file.Files.copy(f.toPath,
      java.nio.file.Paths.get(live, f.getName))
  }

  test("bootstrap covers <= cutoff, tail covers the rest: final " +
      "state == one-phase batch golden; sentinel proves no offset " +
      "<= cutoff is redelivered") {
    // the synthetic events table keeps every user active end-to-end,
    // so doctor it: every 5th user's history ends in the lower 40% of
    // event ids — those keys are quiet across the seam, which is what
    // the sentinel needs (a real fleet always has quiet keys)
    val ev = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    val cutId = ev.agg((max(col("event_id")) * 2 / 5).cast("long"))
      .first().getLong(0)
    val doctored = freshDir("bt1-events")
    ev.filter(col("user_id") % 5 =!= 0 || col("event_id") <= cutId)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$doctored/events.parquet")
    val (staging, live, files) =
      stage("bt1", 6, 3, s"$doctored/events.parquet")
    val p = pipeline("bt1", live)
    val cutoff = BootstrapTail.bootstrap(spark, p)
    // cutoff is the max offset present at bootstrap time
    val maxLive = Changelog.readBatch(spark, live)
      .agg(max(col("seq"))).first().getLong(0)
    assert(cutoff === maxLive)
    // bootstrap state == golden over the snapshot slice
    assert(sinkRows(p.sink) === golden(live))
    // sentinel: pick keys that exist at the cutoff and have NO events
    // past it anywhere in the full log — their sink rows must be
    // untouchable by a correct tail
    val allTyped = CdcParse.parseEnvelope(
      Changelog.readBatch(spark, staging), "value", schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    val quietKey = allTyped.groupBy(col("user_id"))
      .agg(max(col("seq")).as("last"))
      .filter(col("last") <= cutoff)
      .join(p.sink.load(), Seq("user_id")) // still live at the cutoff
      .select(col("user_id")).orderBy(col("user_id")).limit(1)
      .collect().map(_.getLong(0))
    assert(quietKey.nonEmpty,
      "fixture must contain a key whose history ends at the snapshot")
    val k = quietKey.head
    import spark.implicits._
    p.sink.apply(Seq((k, "SENTINEL", 424242L))
      .toDF("user_id", "event_type", "value_milli")
      .withColumn("op", lit(CdcParse.OpUpdate)), "upsertInto")
    // delta arrives, tail attaches at the recorded cutoff
    copyIn(live, files.drop(3))
    BootstrapTail.tail(spark, p, cutoff).awaitTermination(120000)
    val expected = golden(staging).map {
      case (id, _, _) if id == k => (id, "SENTINEL", Some(424242L))
      case r => r
    }
    // == golden everywhere else (no gap), sentinel survived on the
    // quiet key (no <= cutoff redelivery)
    assert(sinkRows(p.sink) === expected)
  }

  test("start() is restart-safe: a re-invocation skips the bootstrap " +
      "(recorded cutoff) and resumes the tail checkpoint") {
    val (staging, live, files) = stage("bt2", 6, 2)
    val p = pipeline("bt2", live)
    BootstrapTail.start(spark, p).awaitTermination(120000)
    val cutoff1 = BootstrapTail.bootstrap(spark, p) // read-back only
    assert(sinkRows(p.sink) === golden(live))
    copyIn(live, files.drop(2))
    // "crash + restart": same pipeline object, same checkpoint
    BootstrapTail.start(spark, p).awaitTermination(120000)
    assert(BootstrapTail.bootstrap(spark, p) === cutoff1,
      "restart must reuse the recorded cutoff, not re-snapshot")
    assert(sinkRows(p.sink) === golden(staging))
  }

  test("crash before the cutoff record re-bootstraps idempotently") {
    val (_, live, _) = stage("bt3", 4, 4)
    val p = pipeline("bt3", live)
    val c1 = BootstrapTail.bootstrap(spark, p)
    val s1 = sinkRows(p.sink)
    Files.delete(BootstrapTail.cutoffPath(p)) // crash window replay
    val c2 = BootstrapTail.bootstrap(spark, p)
    assert(c2 === c1)
    assert(sinkRows(p.sink) === s1)
  }

  test("loadSnapshot seeds the sink from a snapshot table; tail " +
      "applies only the delta") {
    // one-bucket and 32-bucket sinks take the same snapshot
    Seq(1, 32).foreach { numBuckets =>
      val (staging, live, files) = stage(s"bt4-$numBuckets", 6, 3)
      val p = pipeline(s"bt4-$numBuckets", live, numBuckets)
      // the snapshot a production consumer would scan from the source
      // table: the transformed LWW state at the cutoff
      val typed = CdcParse.parseEnvelope(
        Changelog.readBatch(spark, live), "value", schema)
        .filter(col("op") =!= CdcParse.OpDrop)
      val cutoff = typed.agg(max(col("seq"))).first().getLong(0)
      val state = KeyedMerge.lww(typed, Seq("user_id"), "seq")
        .filter(col("op") =!= CdcParse.OpErase)
        .select("user_id", "event_type", "value_milli")
      assert(BootstrapTail.loadSnapshot(p, state, cutoff) === cutoff)
      copyIn(live, files.drop(3))
      BootstrapTail.tail(spark, p, cutoff).awaitTermination(120000)
      assert(sinkRows(p.sink) === golden(staging))
    }
  }
}
