package graft.streaming

import graft.operators.{CdcParse, KeyedMerge}
import graft.sinks.KeyedTableSink
import graft.sources.Changelog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** End-to-end CDC pipeline (SURVEY.md §3.2 data plane):
  *
  *   changelog stream -> envelope parse/route -> typed rows -> LWW per
  *   key -> user transform (spark.sql over temp view `rows`, the
  *   AS_TABLE($rows) analog) -> keyed merge sink with action semantics
  *   -> offsets committed via checkpoint only after sink success.
  *
  * Mapping to the reference:
  *  - micro-batcher (O4): Trigger + maxFilesPerTrigger instead of the
  *    hand-rolled 1000-row buffer (YqlWriter.java:184-203); the
  *    update/erase order-boundary flush is subsumed by per-key LWW
  *    inside the batch (a later erase supersedes earlier updates);
  *  - partition-affine write (O5): Spark partitions the merge join by
  *    key hash — no hand-rolled queues;
  *  - at-least-once + retry (O10): checkpoint commits after foreachBatch
  *    returns; the idempotent keyed merge makes replay safe;
  *  - skip-sink (O9): no transform configured -> count + log only.
  */
object CdcPipeline {

  /** Per-query status for the monitoring surface (O14). Stream threads
    * write the fields and the status server's thread reads them, so
    * each is volatile: a reader sees every field's latest write, though
    * not necessarily all fields of one batch together.
    */
  final case class Status(id: String, @volatile var ok: Boolean = true,
    @volatile var status: String = "RUNNING",
    @volatile var lastReaded: Long = 0L,
    @volatile var lastWrited: Long = 0L,
    @volatile var rowsWritten: Long = 0L)

  val statuses = new java.util.concurrent.ConcurrentHashMap[String, Status]()

  /** Maintained aggregate projection beside the main keyed table: a
    * per-`groupCol` (row count, `valueCol` sum) table kept current by
    * [[KeyedMerge.applyAggDelta]] each micro-batch — O(batch), never a
    * rescan of the fact state. `sink` is keyed on `groupCol` and
    * rewritten whole each batch (`replace`); requires the upsert action
    * (delta semantics) and a key-unique transform output (the apply
    * contract).
    */
  case class AggView(sink: KeyedTableSink, groupCol: String,
    valueCol: String)

  case class Pipeline(
    consumer: String,
    changelogDir: String,
    checkpointDir: String,
    schema: CdcParse.CdcSchema,
    updateSql: Option[String], // None -> skip-sink (O9)
    deleteSql: Option[String],
    sink: KeyedTableSink,
    action: String = "upsertInto",
    maxFilesPerTrigger: Int = 10,
    // bind only these source columns into the `rows` view (the
    // DECLAREd struct members, CdcMsgParser.java:200-214); empty =
    // all schema columns
    viewCols: Seq[String] = Nil,
    // sink-retry policy (O10, YqlWriter.java:244-262): exponential
    // backoff 25 << min(retry,8) ms + uniform jitter, log escalation
    // past errorThreshold; maxRetries < 0 = retry forever (reference
    // behavior; tests use small values)
    errorThreshold: Int = 0,
    maxRetries: Int = -1,
    // per-batch transform deadline (XmlConfig.java:139-144 /
    // YdbService.java:160-173): 0 = no timeout; expired batches cancel
    // their Spark jobs and surface on the retry path
    timeoutSeconds: Int = 0,
    // per-pipeline parallelism (XmlConfig.java:19,132-137): >0 sizes
    // this pipeline's shuffle partitions (the Spark analog of the
    // reference's writer-thread count); 0 = session default
    threadsCount: Int = 0,
    // action for routed erase rows when the main action cannot express
    // them (reference: erase messages always run the deleteQuery with
    // its own actionMode, CdcMsgParser.java:144-157)
    deleteAction: String = "deleteFrom",
    // columns declared Yson: unsupported payload, every present value
    // is rewritten to the literal "{}" (YqlQuery.java:139-141)
    ysonCols: Seq[String] = Nil,
    // optional maintained aggregate projection (see AggView)
    aggView: Option[AggView] = None)

  /** Reference backoff: `25 << min(retry, 8)` ms plus uniform jitter of
    * the same magnitude (YqlWriter.java:244-247).
    */
  def backoffMs(retry: Int, rnd: java.util.Random): Long = {
    val base = 25L << math.min(retry, 8)
    base + math.floorMod(rnd.nextLong(), base)
  }

  /** Retry `body` with the reference's backoff until success (O10). */
  private[graft] def withRetry[T](p: Pipeline, st: Status)(body: => T): T = {
    val rnd = new java.util.Random()
    var retry = 0
    while (true) {
      try {
        val r = body
        if (retry > 0) st.status = "RECOVERED"
        return r
      } catch {
        case e: Exception =>
          if (p.maxRetries >= 0 && retry >= p.maxRetries) throw e
          st.ok = false
          st.status = s"RETRYING(${retry + 1}): ${e.getMessage}"
          // reference increments the retry counter BEFORE the backoff
          // and escalates strictly past the threshold
          // (YqlWriter.java:244-255): first delay 50-100ms, and
          // errorThreshold=N means the (N+1)th retry logs at ERROR
          val level =
            if (retry + 1 > p.errorThreshold) "ERROR" else "WARN"
          System.err.println(
            s"[graft] $level ${p.consumer} batch write failed " +
              s"(retry ${retry + 1}): ${e.getMessage}")
          Thread.sleep(backoffMs(retry + 1, rnd))
          retry += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Enforce the per-pipeline transform deadline (XmlConfig.java:
    * 139-144, YdbService.java:160-173): `body` runs on the calling
    * thread under its own job tag, and at the deadline the watchdog
    * cancels the tagged jobs. A body that then fails surfaces as a
    * TimeoutException, which `withRetry` retries like any transient
    * failure (the reference's timeout->retry); one that still returns
    * has committed, so its value is returned. The body never outlives
    * the call, so a retry never overlaps it on a single-writer sink.
    */
  private[graft] def withTimeout[T](spark: SparkSession, p: Pipeline)
      (body: => T): T = {
    if (p.timeoutSeconds <= 0) return body
    val sc = spark.sparkContext
    val tag = s"graft-timeout-${java.util.UUID.randomUUID()}"
    val expired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val interrupt = "spark.job.interruptOnCancel"
    val prevInterrupt = sc.getLocalProperty(interrupt)
    sc.addJobTag(tag)
    sc.setInterruptOnCancel(true)
    val cancel: Runnable = () => {
      expired.set(true)
      sc.cancelJobsWithTag(tag)
    }
    val deadline = watchdog.schedule(cancel, p.timeoutSeconds.toLong,
      java.util.concurrent.TimeUnit.SECONDS)
    val result = try scala.util.Try(body) finally {
      deadline.cancel(false)
      sc.removeJobTag(tag)
      sc.setLocalProperty(interrupt, prevInterrupt)
    }
    result match {
      case scala.util.Failure(cause) if expired.get =>
        throw new java.util.concurrent.TimeoutException(
          s"${p.consumer}: batch transform exceeded " +
            s"${p.timeoutSeconds}s (timeoutSeconds)").initCause(cause)
      case r => r.get
    }
  }

  /** One process-wide daemon thread fires every batch deadline. */
  private lazy val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-batch-watchdog")
      t.setDaemon(true)
      t
    }

  /** Run one micro-batch through parse -> LWW -> transform -> apply.
    * Public so batch jobs and tests can drive the identical code path
    * (two-phase read-then-act, O7).
    */
  def applyBatch(spark: SparkSession, p: Pipeline, batch: DataFrame,
      batchId: Long = -1L): Unit = {
    val st = statuses.computeIfAbsent(p.consumer, new Status(_))
    st.lastReaded = System.currentTimeMillis()
    val typed = CdcParse.parseEnvelope(batch, "value", p.schema)
      .filter(col("op") =!= CdcParse.OpDrop)
    val lww = KeyedMerge.lww(typed, p.schema.pk, "seq").cache()
    // per-pipeline parallelism (threadsCount, XmlConfig.java:19):
    // size shuffle partitions for everything this batch plans —
    // restored afterwards so other pipelines/specs on the session
    // keep their own setting
    val sessions = Seq(batch.sparkSession, spark).distinct
    val prevShuffle = if (p.threadsCount > 0) sessions.map { s =>
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", p.threadsCount)
      s -> prev
    } else Nil
    // every sink write runs under the pipeline's timeout and retry policy
    def guarded(write: => Unit): Unit =
      withRetry(p, st) { withTimeout(spark, p)(write) }
    try {
      p.updateSql match {
        case None =>
          st.rowsWritten += lww.count() // skip-sink: count + commit (O9)
        case Some(sql) =>
          val allUpdates = lww.filter(col("op") =!= CdcParse.OpErase)
          def bind(n: String) =
            if (p.ysonCols.contains(n)) // Yson: value present -> "{}"
              when(col(n).isNotNull, lit("{}")).otherwise(lit(null))
                .as(n)
            else col(n)
          val updates =
            if (p.viewCols.isEmpty && p.ysonCols.isEmpty) allUpdates
            else if (p.viewCols.isEmpty)
              allUpdates.select(allUpdates.columns.map(bind).toIndexedSeq: _*)
            else allUpdates.select(p.viewCols.map(bind): _*)
          // foreachBatch hands us a micro-batch-cloned session; the
          // temp view must be registered AND queried on that clone
          val session = batch.sparkSession
          updates.createOrReplaceTempView("rows")
          val transformed = session.sql(sql)
            .withColumn("op", lit(CdcParse.OpUpdate))
          val eraseRows = lww.filter(col("op") === CdcParse.OpErase)
          // erase rows in the transform's shape: `keep` columns pass
          // through, the rest become typed nulls
          def erasePadded(df: DataFrame, keep: String => Boolean) =
            df.select(transformed.columns.map(c =>
              if (keep(c)) col(c)
              else lit(null).cast(
                p.schema.columns.find(_.name == c)
                  .map(_.dataType.catalogString).getOrElse("string"))
                .as(c)).toIndexedSeq: _*)
              .withColumn("op", lit(CdcParse.OpErase))
          val erases = p.deleteSql match {
            case Some(delSql) =>
              // reference semantics: erase ops flow through their OWN
              // (PK-only) delete query (CdcMsgParser.java:144-157,
              // 216-221) — lets a re-keyed view map source keys to
              // target keys
              eraseRows.createOrReplaceTempView("rows")
              val delKeys = session.sql(delSql)
              erasePadded(delKeys, delKeys.columns.contains)
            case None =>
              // no delete query: erase keys pass through by name
              erasePadded(eraseRows,
                c => p.schema.pk.contains(c) || c == "op")
          }
          // ONE bookkeeping job on the cached LWW batch: row count for
          // status + erase count to route the delete action (replaces
          // the old post-sink lww.count(), and materializes the cache
          // before the merge scans it repeatedly)
          val opCounts = lww.groupBy(col("op"))
            .agg(count(lit(1)).as("n")).collect()
          val nRows = opCounts.map(_.getLong(1)).sum
          val nErase = opCounts.filter(_.getString(0) == CdcParse.OpErase)
            .map(_.getLong(1)).sum
          // Maintained aggregate projection: delta-update BEFORE the
          // fact apply, with the foreachBatch epoch recorded in the
          // projection manifest. Every crash window replays exactly:
          //  - crash before the replace: epoch unrecorded, clean
          //    recompute against the unchanged fact state;
          //  - crash between replace and fact apply: the replayed
          //    epoch matches lastEpoch, so the delta is NOT re-applied
          //    (it is already in the projection — re-applying it
          //    against the pre-apply fact state would double-count);
          //  - crash after both: same epoch skip; the fact apply
          //    itself is idempotent.
          p.aggView.foreach { av =>
            require(p.action == "upsertInto",
              "aggView requires the upsert action (delta semantics)")
            if (batchId >= 0 && av.sink.lastEpoch.contains(batchId)) {
              () // replayed epoch: projection already reflects it
            } else {
              val applied = transformed.unionByName(erases)
              val prevState = p.sink.load()
              val agg0 =
                if (av.sink.exists) av.sink.load()
                else prevState.groupBy(col(av.groupCol))
                  .agg(count(lit(1)).as("n"),
                    sum(col(av.valueCol)).cast("long").as("sum_v"))
              guarded(av.sink.replace(KeyedMerge.applyAggDelta(agg0,
                prevState, applied, p.sink.keys, av.groupCol,
                av.valueCol), batchId))
            }
          }
          if (p.action == "upsertInto" || p.action == "deleteFrom" ||
              p.action.startsWith("mergeGreater:")) {
            // these actions consume mixed update+erase batches natively
            // (upsert drops erased keys; delete ignores update rows;
            // merge deletes on erase) — one state rewrite handles both
            guarded(p.sink.apply(transformed.unionByName(erases), p.action))
          } else {
            // insertInto/updateOn ignore erase rows: route erases
            // through the delete query's own action, as the reference
            // does regardless of the update action mode
            // (CdcMsgParser.java:144-157)
            guarded(p.sink.apply(transformed, p.action))
            if (nErase > 0) guarded(p.sink.apply(erases, p.deleteAction))
          }
          st.rowsWritten += nRows
      }
      st.lastWrited = System.currentTimeMillis()
      st.ok = true
      st.status = "RUNNING"
    } finally {
      prevShuffle.foreach { case (s, v) =>
        s.conf.set("spark.sql.shuffle.partitions", v) }
      lww.unpersist()
    }
  }

  /** The pipeline's changelog as a (value, seq) stream.
    * `changelogDir` may be a directory (file replay) or a
    * `topic://name` URI (the DSv2 topic source, O1's real front door);
    * for topics the admission cap is offsets rather than files, scaled
    * by the ~100 envelopes/file the replay writer produces.
    */
  def source(spark: SparkSession, p: Pipeline): DataFrame =
    if (p.changelogDir.startsWith("topic://"))
      Changelog.readTopicStream(spark,
        p.changelogDir.stripPrefix("topic://"),
        maxOffsetsPerTrigger = p.maxFilesPerTrigger.toLong * 100)
    else Changelog.readStream(spark, p.changelogDir, p.maxFilesPerTrigger)

  /** Start the streaming query over [[source]] (one per consumer, own
    * checkpoint — the reference's independent consumer progress,
    * Application.java:93-102).
    */
  def start(spark: SparkSession, p: Pipeline): StreamingQuery =
    startWithSource(spark, p, source(spark, p))

  /** Same pipeline over any (value, seq) streaming source — e.g. the
    * topic source (`Changelog.readTopicStream`), the reference's
    * actual front door (O1).
    */
  def startWithSource(spark: SparkSession, p: Pipeline,
      source: DataFrame): StreamingQuery = {
    // graft SQL shims (unwrap, vec_dot) must be on the session BEFORE
    // start: micro-batch session clones inherit the registry
    graft.functions.GraftFunctions.register(spark)
    // the restarting stream owns the sink path exclusively: drop the
    // generations and tmp manifests a crashed writer orphaned (they
    // would otherwise persist until the next apply)
    p.sink.startupGc()
    source
      .writeStream
      .queryName(p.consumer)
      .option("checkpointLocation", p.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, p, batch, batchId)
      }
      .start()
  }

  /** JSON string escape — `status` embeds raw exception messages from
    * retries, and `/config` warnings embed Spark error messages, which
    * can contain quotes/backslashes/newlines; emitting them unescaped
    * would make the JSON invalid.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Monitoring JSON (WebController.java:62-83 shape). */
  def statusJson: String = {
    import scala.jdk.CollectionConverters._
    statuses.asScala.values.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${jsonStr(s.id)},"ok":${s.ok},""" +
        s""""status":${jsonStr(s.status)},""" +
        s""""lastReaded":${s.lastReaded},"lastWrited":${s.lastWrited},""" +
        s""""rowsWritten":${s.rowsWritten}}"""
    }.mkString("[", ",", "]")
  }
}
