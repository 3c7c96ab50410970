package graft.app

import graft.config.PipelineConfig
import graft.operators.CdcParse
import graft.sinks.KeyedTableSink
import graft.streaming.CdcPipeline
import org.apache.spark.sql.types._

/** CLI entry (SURVEY.md §3.1 control plane): load the reference-format
  * XML config, validate pipelines (failures are warnings, pipeline
  * skipped — Application.java:93-98), start one streaming query per
  * consumer, print the status JSON on exit.
  *
  * Usage:
  *   runMain graft.app.Main <config.xml> <changelogDir> <workDir>
  *
  * The source-table schema for the demo binding is the events-derived
  * CDC schema (user_id PK, event_type, value_milli) — schema/PK would
  * come from catalog metadata in a production deployment
  * (describeTable analog, CdcMsgParser.java:112-117).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(configPath, changelogDir, workDir) = args.take(3)
    val spark = graft.Sessions.local("graft-cdc")

    val schema = CdcParse.CdcSchema(
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value_milli", LongType))),
      pk = Seq("user_id"))

    val conf = PipelineConfig.fromXml(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(configPath)), "UTF-8"))
    val warnings = PipelineConfig.validate(spark, conf, schema.columns,
      schema.pk)
    warnings.foreach(w => System.err.println(s"[graft] WARN $w"))

    val queries = conf.pipelines.flatMap { p =>
      if (warnings.exists(_.startsWith(s"${p.consumer}:"))) {
        System.err.println(s"[graft] pipeline ${p.consumer} skipped")
        None // invalid pipeline skipped, engine continues
      } else {
        val translated = p.updateQuery.map(PipelineConfig.translate)
        val sink = new KeyedTableSink(spark,
          s"$workDir/${p.consumer}", schema.pk, schema.columns)
        Some(CdcPipeline.start(spark, CdcPipeline.Pipeline(
          consumer = p.consumer,
          changelogDir = changelogDir,
          checkpointDir = s"$workDir/${p.consumer}-ckpt",
          schema = schema,
          updateSql = translated.map(_.sql),
          deleteSql = p.deleteQuery.map(_.sql),
          sink = sink,
          action = translated.map(_.actionMode).getOrElse("upsertInto"),
          maxFilesPerTrigger = math.max(1, p.batchSize / 100),
          viewCols = translated.map(_.declaredCols).getOrElse(Nil),
          errorThreshold = p.errorThreshold,
          timeoutSeconds = p.timeoutSeconds,
          threadsCount = p.threadsCount,
          deleteAction = p.deleteQuery.map(_.actionMode)
            .getOrElse("deleteFrom"),
          ysonCols = translated.map(_.declaredMembers.collect {
            case (n, t) if graft.config.YdbTypes.isYson(t) => n
          }).getOrElse(Nil),
          aggView = p.aggView.map { case (g, v) =>
            CdcPipeline.AggView(new KeyedTableSink(spark,
              s"$workDir/${p.consumer}-agg", Seq(g), StructType(Seq(
                StructField(g, schema.columns(g).dataType),
                StructField("n", LongType),
                StructField("sum_v", LongType)))), g, v)
          })))
      }
    }
    // O14 monitoring surface (port via GRAFT_HTTP_PORT; 0 = off)
    val httpPort = sys.env.getOrElse("GRAFT_HTTP_PORT", "0").toInt
    val server = if (httpPort > 0) {
      val s = new StatusServer(httpPort, warnings.toSeq,
        conf.pipelines.map(_.consumer),
        () => queries.foreach(q => if (q.isActive) q.stop()))
      s.start()
      System.err.println(s"[graft] status server on :$httpPort")
      Some(s)
    } else None
    queries.foreach(_.awaitTermination(300000))
    println(CdcPipeline.statusJson)
    if (sys.env.contains("GRAFT_HTTP_HOLD")) // keep serving for probes
      Thread.sleep(sys.env("GRAFT_HTTP_HOLD").toLong)
    server.foreach(_.stop())
    spark.stop()
  }
}
