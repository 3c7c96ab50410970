package graft

import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.Changelog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end golden test (SURVEY.md §5.2): replay the deterministic
  * events changelog through stream -> parse -> transform -> keyed sink;
  * compare the final table to the batch-computed expectation; prove
  * replay idempotence by re-running with a fresh checkpoint.
  */
class CdcPipelineSpec extends AnyFunSuite
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

  /** Batch-computed golden: LWW over the whole changelog, erase wins
    * removed, identical envelope parse path.
    */
  def golden(changelogDir: String): Set[(Long, String, Option[Long])] = {
    val all = Changelog.readBatch(spark, changelogDir)
    val typed = CdcParse.parseEnvelope(all, "value", schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    val lww = KeyedMerge.lww(typed, Seq("user_id"), "seq")
      .filter(col("op") =!= CdcParse.OpErase)
    lww.select("user_id", "event_type", "value_milli").collect()
      .map(tuple3).toSet
  }

  /** keys-only updates leave non-key columns null — read defensively */
  def tuple3(r: org.apache.spark.sql.Row): (Long, String, Option[Long]) =
    (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))

  def sinkRows(sink: KeyedTableSink): Set[(Long, String, Option[Long])] =
    sink.load().collect().map(tuple3).toSet

  def runPipeline(changelog: String, sinkDir: String,
      ckpt: String): KeyedTableSink = {
    val sink = new KeyedTableSink(spark, sinkDir, Seq("user_id"),
      sinkSchema)
    val p = CdcPipeline.Pipeline(
      consumer = s"test-${ckpt.hashCode.abs}",
      changelogDir = changelog,
      checkpointDir = ckpt,
      schema = schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None,
      sink = sink,
      maxFilesPerTrigger = 2) // force multiple micro-batches
    val q = CdcPipeline.start(spark, p)
    q.awaitTermination(120000)
    sink
  }

  test("maintained agg view tracks the fact table across micro-batches") {
    val changelog = freshDir("agg-changelog")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 6)
    val sink = new KeyedTableSink(spark, freshDir("agg-fact"),
      Seq("user_id"), sinkSchema)
    val aggSink = new KeyedTableSink(spark, freshDir("agg-view"),
      Seq("event_type"), StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_v", LongType))))
    val p = CdcPipeline.Pipeline(
      consumer = "test-aggview",
      changelogDir = changelog,
      checkpointDir = freshDir("agg-ckpt"),
      schema = schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None,
      sink = sink,
      maxFilesPerTrigger = 2, // several delta applications
      aggView = Some(CdcPipeline.AggView(aggSink, "event_type",
        "value_milli")))
    CdcPipeline.start(spark, p).awaitTermination(120000)
    // the maintained view must equal a recompute over the final table
    val want = sink.load().groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_milli").as("sum_v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val got = aggSink.load().collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("agg view: replaying the same batchId does not double-count") {
    val changelog = freshDir("agg-replay-clog")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 1)
    val sink = new KeyedTableSink(spark, freshDir("agg-replay-fact"),
      Seq("user_id"), sinkSchema)
    val aggSink = new KeyedTableSink(spark, freshDir("agg-replay-view"),
      Seq("event_type"), StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_v", LongType))))
    val p = CdcPipeline.Pipeline(
      consumer = "test-agg-replay",
      changelogDir = changelog,
      checkpointDir = freshDir("agg-replay-ckpt"),
      schema = schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None,
      sink = sink,
      aggView = Some(CdcPipeline.AggView(aggSink, "event_type",
        "value_milli")))
    val batch = Changelog.readBatch(spark, changelog)
    // first delivery, then an at-least-once REDELIVERY of the same
    // epoch (the crash-replay path foreachBatch can take)
    CdcPipeline.applyBatch(spark, p, batch, batchId = 0L)
    CdcPipeline.applyBatch(spark, p, batch, batchId = 0L)
    val want = sink.load().groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_milli").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val got = aggSink.load().collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got === want)
    assert(aggSink.lastEpoch === Some(0L))
  }

  test("agg view survives a checkpointed kill-and-restart: stream-" +
      "maintained == batch recompute over the final table (IVM O10)") {
    // stage the changelog in two phases around a kill: the restarted
    // pipeline must resume delta-maintaining the SAME projection from
    // its manifest epoch, and the final view must equal a recompute
    // over the final fact table — the streaming leg of the proven
    // cdc_ivm_* contract
    val staging = freshDir("agg-restart-stage")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", staging, numFiles = 6)
    val live = freshDir("agg-restart-live")
    val files = new java.io.File(staging).listFiles().sortBy(_.getName)
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(live, f.getName))
    }
    val sink = new KeyedTableSink(spark, freshDir("agg-restart-fact"),
      Seq("user_id"), sinkSchema)
    val aggSink = new KeyedTableSink(spark,
      freshDir("agg-restart-view"), Seq("event_type"),
      StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_v", LongType))))
    val ckpt = freshDir("agg-restart-ckpt")
    def run(): Unit = {
      val p = CdcPipeline.Pipeline(
        consumer = "test-agg-restart",
        changelogDir = live,
        checkpointDir = ckpt,
        schema = schema,
        updateSql = Some(
          "SELECT user_id, event_type, value_milli FROM rows"),
        deleteSql = None,
        sink = sink,
        maxFilesPerTrigger = 2, // several epochs per run
        aggView = Some(CdcPipeline.AggView(aggSink, "event_type",
          "value_milli")))
      CdcPipeline.start(spark, p).awaitTermination(120000)
    }
    def viewRows: Set[(String, Long, Option[Long])] =
      aggSink.load().collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    def recompute: Set[(String, Long, Option[Long])] =
      sink.load().groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("value_milli").as("sum_v"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    copyIn(files.take(2).toSeq)
    run() // phase 1, then the query terminates (the "kill")
    val partialView = viewRows
    assert(partialView === recompute,
      "view must already be exact at the kill point")
    copyIn(files.drop(2).toSeq)
    run() // SAME checkpoint: resume mid-changelog
    val finalView = viewRows
    assert(finalView === recompute)
    assert(finalView !== partialView,
      "the restart must have maintained new deltas")
    assert(finalView.nonEmpty)
  }

  test("stream replay equals batch golden; multiple micro-batches") {
    val changelog = freshDir("changelog")
    val n = Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 6)
    assert(n === 1000L)
    val sink = runPipeline(changelog, freshDir("sink"), freshDir("ckpt"))
    val got = sinkRows(sink)
    val want = golden(changelog)
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("re-run from scratch (replay) converges to same state: idempotent") {
    val changelog = freshDir("changelog2")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 3)
    val sinkDir = freshDir("sink2")
    val s1 = runPipeline(changelog, sinkDir, freshDir("ckpt2a"))
    val after1 = sinkRows(s1)
    // same sink, fresh checkpoint -> full replay over existing state
    val s2 = runPipeline(changelog, sinkDir, freshDir("ckpt2b"))
    val after2 = sinkRows(s2)
    assert(after1 === after2)
    assert(after1 === golden(changelog))
  }

  test("restart with same checkpoint is a no-op (offsets committed)") {
    val changelog = freshDir("changelog3")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 3)
    val sinkDir = freshDir("sink3")
    val ckpt = freshDir("ckpt3")
    val s1 = runPipeline(changelog, sinkDir, ckpt)
    val after1 = sinkRows(s1)
    val s2 = runPipeline(changelog, sinkDir, ckpt) // nothing new to read
    assert(sinkRows(s2) === after1)
  }

  test("kill-and-restart: checkpoint resumes mid-changelog (O10)") {
    // stage only the first part of the changelog, run to completion,
    // then add the rest and restart with the SAME checkpoint: the
    // second run must process only the new files and converge to the
    // full-changelog golden state
    val staging = freshDir("stage5")
    val n = Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", staging, numFiles = 6)
    assert(n === 1000L)
    val live = freshDir("live5")
    val files = new java.io.File(staging).listFiles().sortBy(_.getName)
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(live, f.getName))
    }
    copyIn(files.take(2).toSeq)
    val sinkDir = freshDir("sink5")
    val ckpt = freshDir("ckpt5")
    val s1 = runPipeline(live, sinkDir, ckpt)
    val partial = sinkRows(s1)
    copyIn(files.drop(2).toSeq)
    val s2 = runPipeline(live, sinkDir, ckpt) // resume, same checkpoint
    val after = sinkRows(s2)
    assert(after === golden(staging))
    assert(partial !== after) // the restart actually did new work
  }

  test("skip-sink pipeline (no transform) counts without writing (O9)") {
    val changelog = freshDir("changelog4")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 2)
    val sinkDir = freshDir("sink4")
    val sink = new KeyedTableSink(spark, sinkDir, Seq("user_id"),
      sinkSchema)
    val p = CdcPipeline.Pipeline("test-skip", changelog,
      freshDir("ckpt4"), schema, updateSql = None, deleteSql = None,
      sink = sink)
    CdcPipeline.start(spark, p).awaitTermination(120000)
    assert(!sink.exists) // nothing written
    assert(CdcPipeline.statuses.get("test-skip").rowsWritten > 0)
  }

  test("status surface reports progress (O14)") {
    assert(CdcPipeline.statusJson.contains("\"ok\":true"))
  }

  test("erases still delete when the update action is insertInto/" +
      "updateOn (reference routes erases to the deleteQuery's own " +
      "action, CdcMsgParser.java:144-157)") {
    import spark.implicits._
    def envUpd(id: Long, et: String, vm: Long) =
      s"""{"key":[$id],"update":{"event_type":"$et","value_milli":$vm}}"""
    def envDel(id: Long) = s"""{"key":[$id],"erase":{}}"""
    for (action <- Seq("insertInto", "updateOn")) {
      val sink = new KeyedTableSink(spark, freshDir(s"sink-er-$action"),
        Seq("user_id"), sinkSchema)
      // seed state: keys 1 and 2
      val seed = Seq((envUpd(1, "a", 10), 1L), (envUpd(2, "b", 20), 2L))
        .toDF("value", "seq")
      CdcPipeline.applyBatch(spark, CdcPipeline.Pipeline(
        s"er-seed-$action", "/none", "/none", schema,
        Some("SELECT user_id, event_type, value_milli FROM rows"),
        None, sink, action = "upsertInto"), seed)
      assert(sinkRows(sink).map(_._1) === Set(1L, 2L))
      // batch: update key 2 (updateOn) / insert key 3 (insertInto),
      // and ERASE key 1 — the erase must not be silently dropped
      val batch = Seq((envUpd(2, "b2", 21), 3L), (envUpd(3, "c", 30), 4L),
        (envDel(1), 5L)).toDF("value", "seq")
      CdcPipeline.applyBatch(spark, CdcPipeline.Pipeline(
        s"er-$action", "/none", "/none", schema,
        Some("SELECT user_id, event_type, value_milli FROM rows"),
        None, sink, action = action), batch)
      val got = sinkRows(sink)
      assert(!got.map(_._1).contains(1L),
        s"$action: erase for key 1 was dropped -> $got")
      if (action == "insertInto") // 2 keeps old value, 3 inserted
        assert(got === Set((2L, "b", Some(20L)), (3L, "c", Some(30L))))
      else // updateOn: 2 updated, 3 not inserted
        assert(got === Set((2L, "b2", Some(21L))))
    }
  }

  test("mergeGreater action: conditional update / keep / delete / " +
      "insert through the pipeline; replay is a no-op (O8)") {
    import spark.implicits._
    def envUpd(id: Long, et: String, vm: Long) =
      s"""{"key":[$id],"update":{"event_type":"$et","value_milli":$vm}}"""
    def envDel(id: Long) = s"""{"key":[$id],"erase":{}}"""
    val sink = new KeyedTableSink(spark, freshDir("sink-mg"),
      Seq("user_id"), sinkSchema)
    val seed = Seq((envUpd(1, "a", 10), 1L), (envUpd(2, "b", 20), 2L),
      (envUpd(3, "c", 30), 3L)).toDF("value", "seq")
    CdcPipeline.applyBatch(spark, CdcPipeline.Pipeline(
      "mg-seed", "/none", "/none", schema,
      Some("SELECT user_id, event_type, value_milli FROM rows"),
      None, sink, action = "upsertInto"), seed)
    // raise key 1 (update lands), lower key 2 (state kept), erase
    // key 3 (delete), fresh key 4 (insert) — all four MERGE branches
    val batch = Seq((envUpd(1, "A", 100), 4L), (envUpd(2, "b2", 5), 5L),
      (envDel(3), 6L), (envUpd(4, "d", 40), 7L)).toDF("value", "seq")
    def applyMg(): Unit =
      CdcPipeline.applyBatch(spark, CdcPipeline.Pipeline(
        "mg", "/none", "/none", schema,
        Some("SELECT user_id, event_type, value_milli FROM rows"),
        None, sink, action = "mergeGreater:value_milli"), batch)
    applyMg()
    val want = Set((1L, "A", Some(100L)), (2L, "b", Some(20L)),
      (4L, "d", Some(40L)))
    assert(sinkRows(sink) === want)
    // at-least-once replay of the same LWW batch is a no-op on the
    // merged state (high-water updates can never re-land)
    applyMg()
    assert(sinkRows(sink) === want)
  }

  test("mergeGreater stream over a seeded table == batch applyMerge " +
      "golden (O8)") {
    val changelog = freshDir("changelog-mg2")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 1)
    val all = Changelog.readBatch(spark, changelog)
    val typed = CdcParse.parseEnvelope(all, "value", schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    // seed half the keys so matched rows exercise BOTH condition
    // outcomes: user%4==0 seeds at 0 (every update wins), user%4==2
    // seeds at a ceiling no update can beat
    val seed = typed.select("user_id").distinct()
      .filter(col("user_id") % 2 === 0)
      .select(col("user_id"), lit("seed").as("event_type"),
        when(col("user_id") % 4 === 0, 0L)
          .otherwise(1000000000000L).as("value_milli"))
    val sink = new KeyedTableSink(spark, freshDir("sink-mg2"),
      Seq("user_id"), sinkSchema)
    CdcPipeline.applyBatch(spark, CdcPipeline.Pipeline(
      "mg2-seed", "/none", "/none", schema,
      Some("SELECT user_id, event_type, value_milli FROM rows"),
      None, sink, action = "upsertInto"),
      seed.select(concat(lit("{\"key\":["), col("user_id"),
        lit("],\"update\":{\"event_type\":\""), col("event_type"),
        lit("\",\"value_milli\":"), col("value_milli"), lit("}}"))
        .as("value"), (-col("user_id")).as("seq")))
    val seeded = sink.load().collect().map(tuple3).toSet
    val p = CdcPipeline.Pipeline(
      consumer = "mg2",
      changelogDir = changelog,
      checkpointDir = freshDir("ckpt-mg2"),
      schema = schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None,
      sink = sink,
      action = "mergeGreater:value_milli",
      maxFilesPerTrigger = 8) // single file -> one micro-batch
    CdcPipeline.start(spark, p).awaitTermination(120000)
    val got = sinkRows(sink)
    val seedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        seeded.toSeq.map(t => org.apache.spark.sql.Row(
          t._1, t._2, t._3.map(Long.box).orNull))), sinkSchema)
    val want = KeyedMerge.applyMerge(seedDf,
      KeyedMerge.lww(typed, Seq("user_id"), "seq"), Seq("user_id"),
      col("_b_value_milli") > col("value_milli"))
      .collect().map(tuple3).toSet
    assert(got === want)
    // both matched branches actually fired
    assert(got.exists { case (u, _, v) =>
      u % 4 == 2 && v == Some(1000000000000L) }, "ceiling seed lost")
    assert(got.exists { case (u, t, _) =>
      u % 4 == 0 && t != "seed" }, "no floor seed was updated")
  }

  test("delete query maps erase keys for a re-keyed view (O8/O11)") {
    val changelog = freshDir("changelog6")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", changelog, numFiles = 2)
    val targetSchema = StructType(Seq(
      StructField("uid", LongType), // RENAMED key
      StructField("event_type", StringType)))
    val sink = new KeyedTableSink(spark, freshDir("sink6"), Seq("uid"),
      targetSchema)
    val p = CdcPipeline.Pipeline("test-delq", changelog,
      freshDir("ckpt6"), schema,
      updateSql = Some("SELECT user_id AS uid, event_type FROM rows"),
      deleteSql = Some("SELECT user_id AS uid FROM rows"),
      sink = sink)
    CdcPipeline.start(spark, p).awaitTermination(120000)
    val gotKeys = sink.load().select("uid").collect()
      .map(_.getLong(0)).toSet
    // golden: LWW per user over the full changelog, erase-won users out
    val all = Changelog.readBatch(spark, changelog)
    val typed = CdcParse.parseEnvelope(all, "value", schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    val wantKeys = KeyedMerge.lww(typed, Seq("user_id"), "seq")
      .filter(col("op") =!= CdcParse.OpErase)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(gotKeys === wantKeys)
  }
}
