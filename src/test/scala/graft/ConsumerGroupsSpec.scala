package graft

import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.Changelog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The reference's consumer-group contract (Application.java:93-102,
  * XmlConfig.java:83-103: one `<cdc>` per consumer, each with
  * INDEPENDENT progress over the same changefeed): two pipelines with
  * separate checkpoints consume one changelog — an early consumer that
  * ingests incrementally as files arrive, and a late-joining consumer
  * that attaches after the fact (the "add a new materialized view
  * later" story). Both must converge to the identical LWW state, and
  * the late consumer's run must not disturb the early consumer's
  * offsets or sink.
  */
class ConsumerGroupsSpec extends AnyFunSuite
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

  def golden(changelogDir: String): Set[(Long, String, Option[Long])] = {
    val all = Changelog.readBatch(spark, changelogDir)
    val typed = CdcParse.parseEnvelope(all, "value", schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    val lww = KeyedMerge.lww(typed, Seq("user_id"), "seq")
      .filter(col("op") =!= CdcParse.OpErase)
    lww.select("user_id", "event_type", "value_milli").collect()
      .map(tuple3).toSet
  }

  def tuple3(r: org.apache.spark.sql.Row): (Long, String, Option[Long]) =
    (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))

  def sinkRows(sink: KeyedTableSink): Set[(Long, String, Option[Long])] =
    sink.load().collect().map(tuple3).toSet

  def run(changelog: String, ckpt: String, sinkDir: String,
      name: String): KeyedTableSink = {
    val sink = new KeyedTableSink(spark, sinkDir, Seq("user_id"),
      sinkSchema)
    val p = CdcPipeline.Pipeline(
      consumer = name,
      changelogDir = changelog,
      checkpointDir = ckpt,
      schema = schema,
      updateSql = Some(
        "SELECT user_id, event_type, value_milli FROM rows"),
      deleteSql = None,
      sink = sink,
      maxFilesPerTrigger = 2)
    CdcPipeline.start(spark, p).awaitTermination(120000)
    sink
  }

  test("two consumers over one changefeed: independent checkpoints, " +
      "identical converged state, no cross-talk") {
    // stage the full changelog, then reveal it in two phases
    val staged = freshDir("cg-staged")
    Changelog.writeFromEvents(spark,
      s"${TestSpark.sfDir}/events.parquet", staged, numFiles = 6)
    val files = new java.io.File(staged).listFiles().sortBy(_.getName)
    assert(files.length === 6)
    val live = freshDir("cg-live")
    def reveal(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      Files.copy(f.toPath, Paths.get(live, f.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
    reveal(files.take(3))
    // consumer A ingests phase 1
    val ckptA = freshDir("cg-ckpt-a")
    val sinkDirA = freshDir("cg-sink-a")
    val a1 = sinkRows(run(live, ckptA, sinkDirA, "consumer-a"))
    val goldenPhase1 = golden(live)
    assert(a1 === goldenPhase1)
    // phase 2 arrives; A resumes ITS checkpoint and catches up
    reveal(files.drop(3))
    val goldenAll = golden(live)
    assert(goldenPhase1 !== goldenAll,
      "fixture must actually change state in phase 2")
    val a2 = sinkRows(run(live, ckptA, sinkDirA, "consumer-a"))
    assert(a2 === goldenAll)
    // snapshot A's offset log before the late consumer attaches
    def offsetNames(ckpt: String): Set[String] = {
      val d = new java.io.File(s"$ckpt/offsets")
      if (!d.isDirectory) Set.empty
      else d.listFiles().map(_.getName).toSet
    }
    val aOffsets = offsetNames(ckptA)
    assert(aOffsets.nonEmpty)
    // consumer B joins LATE with its own checkpoint + sink and must
    // rebuild the identical state from the changefeed alone
    val b = sinkRows(run(live, freshDir("cg-ckpt-b"),
      freshDir("cg-sink-b"), "consumer-b"))
    assert(b === goldenAll)
    assert(b === a2)
    // B's run left A's progress and state untouched
    assert(offsetNames(ckptA) === aOffsets)
    val aAfter = new KeyedTableSink(spark, sinkDirA, Seq("user_id"),
      sinkSchema)
    assert(sinkRows(aAfter) === goldenAll)
  }
}
