package graft

import graft.config.YqlTranslate
import graft.operators.CdcParse
import graft.sinks.KeyedTableSink
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The reference's de-facto acceptance scenario (SURVEY §5.2,
  * README.md:17-123): `table_source` replicated into `mat_view1`
  * (Text event_time -> Timestamp via DateTime::Parse + MakeTimestamp +
  * Unwrap) and `mat_view2` (`SELECT *` under a DIFFERENT primary key) —
  * with the transform YQL taken VERBATIM from the reference README and
  * run through YqlTranslate.
  */
class ReadmeScenarioSpec extends AnyFunSuite
    with StopStreamsAfterAll with TempDirs {
  lazy val spark = TestSpark.spark

  // table_source schema (README.md:20-31), PK order = key array order
  val srcSchema = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("event_time", StringType),
      StructField("event_type", StringType),
      StructField("product_id", LongType),
      StructField("category_id", LongType),
      StructField("category_code", StringType),
      StructField("brand", StringType),
      StructField("price", DoubleType),
      StructField("user_id", LongType),
      StructField("user_session", StringType))),
    pk = Seq("product_id", "category_id", "user_id", "user_session"))

  val view1Yql = // README.md:80-101, verbatim
    """DECLARE $rows AS List<Struct<
      |    event_time: Text,
      |    event_type: Text,
      |    product_id: Uint32,
      |    category_id: Uint64,
      |    category_code: Text?,
      |    user_id: Uint32,
      |    user_session: Text
      |>>;
      |
      |$parse=DateTime::Parse('%Y-%m-%d %H:%M:%S %Z');
      |
      |UPSERT INTO mat_view1 SELECT
      |    Unwrap(DateTime::MakeTimestamp($parse(event_time))) AS event_time,
      |    event_type,
      |    product_id,
      |    user_id,
      |    category_id,
      |    user_session
      |FROM AS_TABLE($rows);""".stripMargin

  val view2Yql = // README.md:103-115, verbatim
    """DECLARE $rows AS List<Struct<
      |    event_type: Text,
      |    category_id: Uint64,
      |    category_code: Text?,
      |    brand: Text?,
      |    price: Double,
      |    user_id: Uint32,
      |    user_session: Text
      |>>;
      |UPSERT INTO mat_view2 SELECT * FROM AS_TABLE($rows);""".stripMargin

  /** table_source changelog synthesized from events (deterministic). */
  def writeChangelog(dir: String): Unit = {
    val rows = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("event_id"),
        date_format(Tables.eventsTsMicros,
          "yyyy-MM-dd HH:mm:ss 'UTC'").as("event_time"),
        col("event_type"),
        (col("event_id") % 50).as("product_id"),
        col("user_id").as("category_id"),
        col("user_id"),
        col("event_type").as("user_session"),
        round(col("value"), 2).as("price"))
      .orderBy("event_id").collect()
    val lines = rows.map { r =>
      val key = s"""[${r.getLong(3)},${r.getLong(4)},${r.getLong(5)},"${r.getString(6)}"]"""
      val upd = s"""{"event_time":"${r.getString(1)}","event_type":"${r.getString(2)}",""" +
        s""""product_id":${r.getLong(3)},"category_id":${r.getLong(4)},""" +
        s""""category_code":"cc","brand":"bb","price":${r.getDouble(7)},""" +
        s""""user_id":${r.getLong(5)},"user_session":"${r.getString(6)}"}"""
      if (r.getLong(0) % 17 == 0)
        s"""{"offset":${r.getLong(0)},"key":$key,"erase":{}}"""
      else
        s"""{"offset":${r.getLong(0)},"key":$key,"update":$upd}"""
    }
    Files.write(java.nio.file.Paths.get(dir, "chunk-0.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def run(yql: String, sinkSchema: StructType, sinkPk: Seq[String],
      changelog: String): KeyedTableSink = {
    val tr = YqlTranslate(yql)
    assert(tr.actionMode === "upsertInto")
    val sink = new KeyedTableSink(spark,
      tempDir(tr.actionTable), sinkPk,
      sinkSchema)
    val p = CdcPipeline.Pipeline(
      consumer = tr.actionTable + System.nanoTime(),
      changelogDir = changelog,
      checkpointDir = tempDir("ck"),
      schema = srcSchema,
      updateSql = Some(tr.sql), deleteSql = None,
      sink = sink, action = tr.actionMode,
      viewCols = tr.declaredCols)
    CdcPipeline.start(spark, p).awaitTermination(180000)
    sink
  }

  test("mat_view1: verbatim README YQL — Text->Timestamp re-type (A2)") {
    val changelog = tempDir("readme-clog")
    writeChangelog(changelog)
    val sinkSchema = StructType(Seq(
      StructField("event_time", TimestampType),
      StructField("event_type", StringType),
      StructField("product_id", LongType),
      StructField("user_id", LongType),
      StructField("category_id", LongType),
      StructField("user_session", StringType)))
    val pk = Seq("product_id", "category_id", "user_id", "user_session")
    val sink = run(view1Yql, sinkSchema, pk, changelog)
    val got = sink.load()
    assert(got.count() > 0)
    assert(got.schema("event_time").dataType === TimestampType)
    // golden: batch-side LWW + same transform
    val typed = CdcParse.parseEnvelope(
      graft.sources.Changelog.readBatch(spark, changelog), "value",
      srcSchema).filter(col("op") =!= CdcParse.OpDrop)
    val lww = graft.operators.KeyedMerge.lww(typed, pk, "seq")
    val want = lww.filter(col("op") =!= CdcParse.OpErase)
      .select(to_timestamp(col("event_time"),
        "yyyy-MM-dd HH:mm:ss zz").as("event_time"),
        col("event_type"), col("product_id"), col("user_id"),
        col("category_id"), col("user_session"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("mat_view2: verbatim README YQL — SELECT * under different PK (A3)") {
    val changelog = tempDir("readme-clog2")
    writeChangelog(changelog)
    val sinkSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("category_id", LongType),
      StructField("category_code", StringType),
      StructField("brand", StringType),
      StructField("price", DoubleType),
      StructField("user_id", LongType),
      StructField("user_session", StringType)))
    // different PK than the source (README.md:47-56)
    val pk = Seq("user_session", "user_id", "event_type", "category_id")
    val tr = YqlTranslate(view2Yql)
    assert(tr.declaredCols ===
      Seq("event_type", "category_id", "category_code", "brand",
        "price", "user_id", "user_session"))
    val sink = run(view2Yql, sinkSchema, pk, changelog)
    val got = sink.load()
    assert(got.count() > 0)
    // SELECT * bound only the DECLAREd columns: no event_time/product_id
    assert(got.columns.toSet === sinkSchema.fieldNames.toSet)
    assert(got.select("category_code").distinct().collect()
      .map(_.getString(0)).toSet === Set("cc"))
  }
}
