package graft

import graft.config.PipelineConfig
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Reference XML config semantics (O11/O12). */
class ConfigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val xml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<config>
      |  <cdc changefeed="table_source/cdc_topic" consumer="v1"
      |       batchSize="10" actionTable="mat_view1">
      |    SELECT user_id, event_type, value_milli FROM rows
      |  </cdc>
      |  <cdc changefeed="table_source/cdc_topic" consumer="v2"
      |       updateQueryId="q1" deleteQueryId="qdel"/>
      |  <query id="q1" actionMode="upsertInto" actionTable="mat_view2">
      |    SELECT user_id, value_milli FROM rows
      |  </query>
      |  <query id="qdel" actionMode="deleteFrom" actionTable="mat_view2">
      |    SELECT user_id FROM rows
      |  </query>
      |</config>""".stripMargin

  test("xml parses: defaults, inline-wins, named query lookup") {
    val conf = PipelineConfig.fromXml(xml)
    assert(conf.pipelines.length === 2)
    val p1 = conf.pipelines.head
    assert(p1.consumer === "v1")
    assert(p1.batchSize === 10)
    assert(p1.threadsCount === 1) // default XmlConfig.java:19
    assert(p1.updateQuery.get.sql.contains("event_type"))
    val p2 = conf.pipelines(1)
    assert(p2.batchSize === 1000) // default XmlConfig.java:18
    assert(p2.updateQuery.get.actionTable === "mat_view2")
    assert(p2.deleteQuery.get.actionMode === "deleteFrom")
    assert(p1.aggView === None) // graft extension is strictly opt-in
  }

  test("aggView attributes parse into the maintained-projection conf") {
    val conf = PipelineConfig.fromXml(
      """<config><cdc changefeed="t/f" consumer="v3"
        |  aggViewGroupCol="event_type" aggViewValueCol="value_milli">
        |  SELECT user_id, event_type, value_milli FROM rows
        |</cdc></config>""".stripMargin)
    assert(conf.pipelines.head.aggView ===
      Some(("event_type", "value_milli")))
  }

  val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value_milli", LongType)))

  test("validation passes for well-formed pipelines") {
    val conf = PipelineConfig.fromXml(xml)
    val warnings = PipelineConfig.validate(spark, conf, schema,
      Seq("user_id"))
    assert(warnings.isEmpty, warnings.mkString("; "))
  }

  test("validation flags bad changefeed path, bad SQL, non-PK delete") {
    val bad =
      """<config>
        |  <cdc changefeed="nopathsep" consumer="w1"
        |       updateQueryId="qb" deleteQueryId="qd"/>
        |  <query id="qb" actionTable="t">SELECT no_such_col FROM rows</query>
        |  <query id="qd" actionMode="deleteFrom" actionTable="t">
        |    SELECT user_id, event_type FROM rows
        |  </query>
        |  <cdc changefeed="t/cf" consumer="w2" actionMode="insertInto"
        |       aggViewGroupCol="no_such_group" aggViewValueCol="value_milli">
        |    SELECT user_id, event_type, value_milli FROM rows
        |  </cdc>
        |  <cdc changefeed="t/cf" consumer="w3"
        |       aggViewGroupCol="event_type" aggViewValueCol="value_milli">
        |    SELECT user_id, event_type, value_milli FROM rows
        |  </cdc>
        |</config>""".stripMargin
    val warnings = PipelineConfig.validate(spark,
      PipelineConfig.fromXml(bad), schema, Seq("user_id"))
    assert(warnings.exists(_.contains("no table prefix")))
    assert(warnings.exists(_.contains("update query invalid")))
    assert(warnings.exists(_.contains("non-PK")))
    // an aggView that could not run is skipped at startup instead of
    // failing its first batch (insertInto) or Main (unknown column)
    assert(warnings.exists(w => w.startsWith("w2:") &&
      w.contains("aggView requires actionMode upsertInto")))
    assert(warnings.exists(w => w.startsWith("w2:") &&
      w.contains("'no_such_group'")))
    assert(!warnings.exists(_.startsWith("w3:")), warnings.mkString("; "))
  }

  test("validation does not clobber a live `rows` view on the shared " +
      "session") {
    import spark.implicits._
    Seq((42L, "live")).toDF("user_id", "event_type")
      .createOrReplaceTempView("rows")
    PipelineConfig.validate(spark, PipelineConfig.fromXml(xml), schema,
      Seq("user_id"))
    // a concurrent batch transform would still see ITS view
    assert(spark.sql("SELECT event_type FROM rows").head.getString(0)
      === "live")
    spark.catalog.dropTempView("rows")
  }

  test("strict coercion: Tz*/DyNumber declared types hard-fail " +
      "validation (YqlQuery.java:155-165)") {
    import graft.config.YdbTypes
    for (t <- Seq("TzDate", "TzDatetime", "TzTimestamp", "DyNumber"))
      assertThrows[YdbTypes.UnsupportedYdbType](YdbTypes.toSpark(t))
    // and through the XML validation path: pipeline gets a warning
    val bad =
      """<config>
        |  <cdc changefeed="t/cf" consumer="tz1" actionTable="v">
        |    DECLARE $rows AS List&lt;Struct&lt;user_id: Uint64,
        |      at: TzTimestamp&gt;&gt;;
        |    SELECT user_id FROM AS_TABLE($rows)
        |  </cdc>
        |</config>""".stripMargin
    val warnings = PipelineConfig.validate(spark,
      PipelineConfig.fromXml(bad), schema, Seq("user_id"))
    assert(warnings.exists(w => w.startsWith("tz1:") &&
      w.contains("unsupported YDB type: TzTimestamp")), warnings)
  }

  test("Yson declared type: warning only (pipeline stays valid), " +
      "values rewritten to {} (YqlQuery.java:139-141)") {
    import graft.config.YdbTypes
    assert(YdbTypes.isYson("Yson") && YdbTypes.isYson("Optional<Yson>"))
    assert(YdbTypes.toSpark("Yson") === StringType)
    val xmlY =
      """<config>
        |  <cdc changefeed="t/cf" consumer="ys1" actionTable="v">
        |    DECLARE $rows AS List&lt;Struct&lt;user_id: Uint64,
        |      event_type: Yson&gt;&gt;;
        |    SELECT user_id, event_type FROM AS_TABLE($rows)
        |  </cdc>
        |</config>""".stripMargin
    val warnings = PipelineConfig.validate(spark,
      PipelineConfig.fromXml(xmlY), schema, Seq("user_id"))
    assert(!warnings.exists(_.startsWith("ys1:")), warnings)
  }

  test("YdbTypes maps the full §1.2 table incl. Optional/Decimal") {
    import graft.config.YdbTypes.toSpark
    assert(toSpark("Optional<Uint32>") === LongType)
    assert(toSpark("Decimal(22,9)") === DecimalType(22, 9))
    assert(toSpark("Int8") === ByteType)
    assert(toSpark("Uint8") === ShortType)
    assert(toSpark("Uint64") === LongType) // reference truncates
    assert(toSpark("Bytes") === BinaryType)
    assert(toSpark("Datetime") === TimestampType)
    assert(toSpark("Interval") === DayTimeIntervalType())
    assert(toSpark("Json") === StringType)
  }

  test("timeoutSeconds: a slow transform is cancelled and surfaces " +
      "as a retryable failure (XmlConfig.java:139-144)") {
    import graft.streaming.CdcPipeline
    import spark.implicits._
    val p = pipelineStub(timeoutSeconds = 1)
    val st = CdcPipeline.Status("timeout-test")
    val t0 = System.nanoTime()
    assertThrows[java.util.concurrent.TimeoutException] {
      CdcPipeline.withTimeout(spark, p) {
        spark.range(0, 4, 1, 4).map { x => Thread.sleep(30000); x }
          .count()
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 20, s"cancel took ${sec}s — jobs not cancelled?")
    // and the timeout feeds the retry path: first attempt times out,
    // second (fast) succeeds
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val r = CdcPipeline.withRetry(p, st) {
      CdcPipeline.withTimeout(spark, p) {
        if (attempts.getAndIncrement() == 0)
          spark.range(0, 4, 1, 4).map { x => Thread.sleep(30000); x }
            .count()
        else spark.range(0, 4).count()
      }
    }
    assert(r === 4L)
    assert(attempts.get() === 2)
    assert(st.status === "RECOVERED")
  }

  test("timeoutSeconds: withTimeout returns only after an overrunning " +
      "body has finished, so a retry never overlaps it") {
    import graft.streaming.CdcPipeline
    val p = pipelineStub(timeoutSeconds = 1)
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    // no Spark job to cancel: the body outlives the deadline and
    // completes its (already committed) work, so its value comes back
    // instead of a timeout that would make withRetry redo it
    val r = CdcPipeline.withTimeout(spark, p) {
      Thread.sleep(2500)
      finished.set(true)
      42
    }
    assert(finished.get(), "withTimeout returned while the body still ran")
    assert(r === 42)
  }

  test("threadsCount sizes the batch's shuffle partitions and is " +
      "restored afterwards (XmlConfig.java:19,132-137)") {
    import graft.streaming.CdcPipeline
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // capture the ACTIVE shuffle-partition setting from inside task
    // execution (SQLConf propagates to tasks with the job); an
    // accumulator survives closure serialization, a captured local
    // collection would not
    val acc = spark.sparkContext.collectionAccumulator[Int]("np-seen")
    val cap = org.apache.spark.sql.functions.udf { () =>
      val n = org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions
      acc.add(n); n.toLong
    }.asNondeterministic()
    spark.udf.register("capture_np", cap)
    // the capture column is part of the SINK schema so it cannot be
    // pruned before execution
    val npSchema = StructType(schema.fields :+ StructField("np", LongType))
    val cdcSchemaNp = graft.operators.CdcParse.CdcSchema(npSchema,
      Seq("user_id"))
    val sinkDir = java.nio.file.Files
      .createTempDirectory("graft-tc-sink").toString
    val sink = new graft.sinks.KeyedTableSink(spark, sinkDir,
      Seq("user_id"), npSchema)
    val p = pipelineStub(threadsCount = 2).copy(
      schema = cdcSchemaNp,
      sink = sink,
      updateSql = Some("SELECT user_id, event_type, value_milli, " +
        "capture_np() AS np FROM rows"))
    val batch = Seq(
      ("""{"key":[1],"update":{"event_type":"a","value_milli":5}}""", 1L),
      ("""{"key":[2],"update":{"event_type":"b","value_milli":6}}""", 2L))
      .toDF("value", "seq")
    CdcPipeline.applyBatch(spark, p, batch)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    import scala.jdk.CollectionConverters._
    val seen = acc.value.asScala.toSet
    assert(seen.nonEmpty, "capture udf never executed")
    assert(seen.contains(2),
      s"expected shuffle partitions 2 in-batch, saw $seen")
    assert(sink.load().count() === 2)
  }

  val cdcSchema = graft.operators.CdcParse.CdcSchema(schema,
    Seq("user_id"))

  def pipelineStub(timeoutSeconds: Int = 0, threadsCount: Int = 0)
      : graft.streaming.CdcPipeline.Pipeline =
    graft.streaming.CdcPipeline.Pipeline(
      consumer = s"cfg-stub-${System.nanoTime()}",
      changelogDir = "/tmp/none",
      checkpointDir = "/tmp/none-ckpt",
      schema = cdcSchema,
      updateSql = None,
      deleteSql = None,
      sink = null,
      maxRetries = 3,
      timeoutSeconds = timeoutSeconds,
      threadsCount = threadsCount)
}
