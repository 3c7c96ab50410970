package graft.config

import org.apache.spark.sql.types.StructType

/** Pipeline configuration (SURVEY.md §2 O12), semantics-preserving
  * port of the reference XML model (XmlConfig.java:16-153):
  * `<config><cdc changefeed=… consumer=… batchSize=… threadsCount=…
  * timeoutSeconds=… errorThreshold=… updateQueryId=… deleteQueryId=…>
  * INLINE-SQL</cdc><query id=… actionMode=… actionTable=…>SQL</query>
  * </config>` — inline query wins over updateQueryId
  * (CdcMsgParser.java:132-145).
  */
case class QueryDef(id: String, actionMode: String, actionTable: String,
  sql: String)

case class CdcPipelineConf(
  changefeed: String,
  consumer: String,
  batchSize: Int = 1000, // XmlConfig.java:18
  threadsCount: Int = 1, // XmlConfig.java:19
  timeoutSeconds: Int = 0,
  errorThreshold: Int = 0,
  updateQuery: Option[QueryDef],
  deleteQuery: Option[QueryDef],
  // graft extension (not in the reference XML): maintain a per-group
  // (count, sum) aggregate projection beside the target table —
  // `<cdc aggViewGroupCol=… aggViewValueCol=…>`
  aggView: Option[(String, String)] = None)

case class EngineConf(pipelines: Seq[CdcPipelineConf])

object PipelineConfig {

  /** Parse the reference's XML config format (JDK DOM — no extra dep). */
  def fromXml(xml: String): EngineConf = {
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    val root = doc.getDocumentElement
    def elems(name: String): Seq[org.w3c.dom.Element] = {
      val nl = root.getElementsByTagName(name)
      (0 until nl.getLength).map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
    }
    def attr(e: org.w3c.dom.Element, a: String, dflt: String = ""): String = {
      val v = e.getAttribute(a); if (v.isEmpty) dflt else v
    }
    val namedQueries = elems("query").map { q =>
      val id = attr(q, "id")
      id -> QueryDef(id, attr(q, "actionMode", "upsertInto"),
        attr(q, "actionTable"), q.getTextContent.trim)
    }.toMap
    val pipelines = elems("cdc").map { c =>
      val inline = c.getTextContent.trim
      // inline query wins over updateQueryId (CdcMsgParser.java:132-145)
      val upd =
        if (inline.nonEmpty)
          Some(QueryDef("inline", attr(c, "actionMode", "upsertInto"),
            attr(c, "actionTable"), inline))
        else namedQueries.get(attr(c, "updateQueryId"))
      val del = namedQueries.get(attr(c, "deleteQueryId"))
      CdcPipelineConf(
        changefeed = attr(c, "changefeed"),
        consumer = attr(c, "consumer"),
        batchSize = attr(c, "batchSize", "1000").toInt,
        threadsCount = attr(c, "threadsCount", "1").toInt,
        timeoutSeconds = attr(c, "timeoutSeconds", "0").toInt,
        errorThreshold = attr(c, "errorThreshold", "0").toInt,
        updateQuery = upd,
        deleteQuery = del,
        aggView = Some(attr(c, "aggViewGroupCol"))
          .filter(_.nonEmpty)
          .map(g => (g, attr(c, "aggViewValueCol"))))
    }
    EngineConf(pipelines)
  }

  /** The update query as the engine runs it: YQL-dialect SQL
    * (reference README format) is translated, plain Spark SQL passes
    * through untouched.
    */
  def translate(q: QueryDef): YqlTranslate.Translated =
    if (q.sql.contains("AS_TABLE") || q.sql.contains("DECLARE"))
      YqlTranslate(q.sql)
    else YqlTranslate.Translated(q.actionMode, q.actionTable, q.sql, Nil)

  /** Startup validation (SURVEY.md §2 O11): changefeed path must
    * contain '/' (CdcMsgParser.java:105-110); transform SQL must
    * analyze against an empty batch of the declared schema; delete
    * query may only reference PK columns (CdcMsgParser.java:216-221);
    * an aggregate view needs the upsert action and schema columns.
    * Returns warnings; a failed pipeline is skipped, not fatal
    * (Application.java:93-98).
    */
  def validate(spark: org.apache.spark.sql.SparkSession, conf: EngineConf,
      schema: StructType, pk: Seq[String]): Seq[String] = {
    val warnings = scala.collection.mutable.Buffer[String]()
    // validate on an ISOLATED session (own temp-view registry): a
    // validation run must never clobber the live `rows` view of a
    // batch transform executing concurrently on the shared session
    val vs = spark.newSession()
    conf.pipelines.foreach { p =>
      if (!p.changefeed.contains("/"))
        warnings += s"${p.consumer}: changefeed '${p.changefeed}' has no table prefix"
      val empty = vs.createDataFrame(
        vs.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      empty.createOrReplaceTempView("rows")
      graft.functions.GraftFunctions.register(vs)
      p.updateQuery.foreach { q =>
        try {
          // STRICT type check on declared members (reference decoder
          // hard-errors on Tz*/DyNumber, YqlQuery.java:155-165; Yson
          // warns and writes "{}", :139-141)
          if (q.sql.contains("DECLARE")) {
            val members = YqlTranslate(q.sql).declaredMembers
            members.foreach { case (n, t) =>
              if (YdbTypes.isYson(t))
                System.err.println(s"[graft] WARN ${p.consumer}: " +
                  s"column '$n' has unsupported type Yson — values " +
                  "will be written as \"{}\" (YqlQuery.java:139-141)")
              else YdbTypes.toSpark(t) // throws UnsupportedYdbType
            }
          }
          vs.sql(translate(q).sql).queryExecution.analyzed
        } catch { case e: Exception =>
          warnings += s"${p.consumer}: update query invalid: ${e.getMessage}"
        }
      }
      p.deleteQuery.foreach { q =>
        try {
          val out = vs.sql(q.sql)
          val extra = out.columns.filterNot(pk.contains)
          if (extra.nonEmpty)
            warnings += s"${p.consumer}: delete query selects non-PK columns: ${extra.mkString(",")}"
        } catch { case e: Exception =>
          warnings += s"${p.consumer}: delete query invalid: ${e.getMessage}"
        }
      }
      p.aggView.foreach { case (g, v) =>
        val action = p.updateQuery.fold("upsertInto")(q =>
          scala.util.Try(translate(q).actionMode).getOrElse(q.actionMode))
        if (action != "upsertInto")
          warnings += s"${p.consumer}: aggView requires actionMode " +
            s"upsertInto, not $action"
        val missing = Seq(g, v).filterNot(schema.fieldNames.contains)
        if (missing.nonEmpty)
          warnings += s"${p.consumer}: aggView column(s) not in schema: " +
            missing.map(c => s"'$c'").mkString(",")
      }
    }
    warnings.toSeq
  }
}
