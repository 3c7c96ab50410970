package graft.operators

import graft.Tables.t
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC operator queries (SURVEY.md §2 O2/O3/O4-part/O8): a
  * deterministic CDC changelog is derived from the `events` table (so
  * the DuckDB oracle can construct byte-identical envelopes), then the
  * graft CDC library (CdcParse / KeyedMerge) parses, routes, dedups and
  * applies it. Entity key = user_id; sequence = event_id.
  *
  * Envelope mix per `event_id % 10` (covers FIXTURES.md A4 cases):
  *   0 -> erase;  1 -> keys-only update `{}`;  2 -> update non-object +
  *   newImage (fallback path, CdcMsgParser.java:66-70);  3 -> newImage
  *   alone (dropped, CdcMsgParser.java:81-82);  else -> normal update.
  */
object CdcQueries {

  private val payloadSchema = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value_milli", LongType))),
    pk = Seq("user_id"))

  /** value scaled to an exact integer so JSON round-trips bit-exactly. */
  private def vm: Column = round(col("value") * 1000).cast("long")

  private def s(c: Column): Column = c.cast("string")

  /** Build the envelope JSON string — concatenation only, so the DuckDB
    * oracle produces the identical bytes.
    */
  private def envelope: Column = {
    val payload = concat(lit("{\"user_id\":"), s(col("user_id")),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value_milli\":"), s(vm), lit("}"))
    val keyPart = concat(lit("{\"key\":["), s(col("user_id")), lit("]"))
    val sel = col("event_id") % 10
    when(sel === 0, concat(keyPart, lit(",\"erase\":{}}")))
      .when(sel === 1, concat(keyPart, lit(",\"update\":{}}")))
      .when(sel === 2, concat(keyPart, lit(",\"update\":7,\"newImage\":"),
        payload, lit("}")))
      .when(sel === 3, concat(keyPart, lit(",\"newImage\":"), payload,
        lit("}")))
      .otherwise(concat(keyPart, lit(",\"update\":"), payload, lit("}")))
  }

  /** events -> (event_id, env) -> parsed typed rows with `op`. */
  private def parsed(spark: SparkSession, dir: String,
      filterExpr: Column = lit(true)): DataFrame = {
    // Round 13 (guide §2.5): the single-file test layout gives this
    // scan ONE task, so the per-row envelope parse serialized on one
    // core while the session's other 31 idled (QBench: 3 jobs / 3
    // single-task stages, warm 1.6 s for cdc_typed_assembly). Fan the
    // projected (event_id, env) rows out across the cores BEFORE the
    // parse; at production scale the scan already feeds every core
    // and fanOutScan is the identity. The parse is still paid by
    // every consumer, exactly once — only its parallelism changes.
    val ev = graft.Tables.fanOutScan(
      t(spark, dir, "events").filter(filterExpr)
        .select(col("event_id"), envelope.as("env")))
    CdcParse.parseEnvelope(ev, "env", payloadSchema)
      .select("event_id", "op", "user_id", "event_type", "value_milli")
  }

  /** Pre-existing state: per-user aggregate of even-event_id rows. */
  private def state0(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(max(col("event_type")).as("event_type"),
        max(round(col("value") * 1000).cast("long")).as("value_milli"))

  private def odd: Column = col("event_id") % 2 === 1

  /** Intra-package accessors for sibling modules composing on the
    * parsed changelog and its oracle CTE (cdc_hot_keys).
    */
  private[operators] def parsedPublic(spark: SparkSession,
      dir: String): DataFrame = parsed(spark, dir)
  private[operators] def baseCtePublic: String = baseCte

  /** The parsed changelog as a stored [[graft.Derived]] table — the
    * monitoring-family consumers (cdc_hot_keys) read the persisted
    * parse output the way a 100 TB operator reads the stored typed
    * log, not by re-parsing the raw envelope stream per report (the
    * r5 driver probe measured that re-parse at 12.4 s warm at sf1).
    * Parse-path queries (cdc_parse_route, cdc_typed_assembly, the
    * apply family) keep calling `parsed()` — paying the parse is the
    * thing they measure.
    */
  private[graft] def parsedStored(spark: SparkSession,
      dir: String): DataFrame =
    // REBALANCE before the store (round 13, guide §6): the fan-out
    // in parsed() parallelizes the BUILD, but writing its 32 post-
    // shuffle partitions as 32 tiny parquet files made every stored-
    // table reader pay 32 scan tasks for a ~100k-row table. The AQE
    // rebalance sizes output files by advisory partition size — one
    // file at test SF, many at production volume.
    graft.Derived.table(spark, s"cdcparsed:$dir")(
      parsed(spark, dir).hint("rebalance"))

  def parseRoute(spark: SparkSession, dir: String): DataFrame =
    parsed(spark, dir).select("event_id", "op").orderBy("event_id")

  /** Changelog op-mix monitor: message count, distinct touched keys
    * and traffic share per routed op — the per-changefeed health
    * report an operator reads before trusting a pipeline (reference
    * analog: the per-reader counters surfaced by the monitoring API,
    * WebController.java:25-83, aggregated by op instead of reader).
    * One hash aggregate over the parsed stream; the share window
    * runs on the |ops|-bounded result.
    */
  def opMix(spark: SparkSession, dir: String): DataFrame = {
    parsed(spark, dir)
      .groupBy("op")
      .agg(count(lit(1)).as("n_msgs"),
        countDistinct(col("user_id")).as("n_keys"))
      .withColumn("share_micro",
        expr("(n_msgs * 1000000) div sum(n_msgs) over ()"))
      .orderBy("op")
  }

  /** Compaction planner over the changelog: per key-bucket (the
    * `KeyedTableSink` hash-bucket layout, 16 buckets on user_id),
    * message volume vs LIVE key count — every message except a key's
    * surviving last image is rewrite amplification a compactor would
    * reclaim. amp_micro = messages per live row; buckets with zero
    * live keys (all erased) report amplification against a floor of
    * one row so the division stays total. One hash aggregate over the
    * parsed stream + one LWW window — the same two shuffles the apply
    * path already pays, so the report is free to piggyback on a
    * pipeline run.
    */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    // parsed-once cache (round 12): the stream feeds BOTH the volume
    // aggregate and the LWW live-count — uncached, column pruning
    // splits them into two separate envelope parses (the oddLww trap
    // documented below). The parse is still paid, exactly once.
    val p = parsed(spark, dir).filter(col("op") =!= CdcParse.OpDrop)
      .withColumn("bucket", pmod(col("user_id"), lit(16L)))
      .cache()
    val m = p.groupBy("bucket")
      .agg(count(lit(1)).as("n_msgs"),
        countDistinct(col("user_id")).as("n_keys"))
    val live = KeyedMerge.lww(p, Seq("user_id"), "event_id")
      .filter(col("op") =!= CdcParse.OpErase)
      .groupBy("bucket").agg(count(lit(1)).as("n_live"))
    m.join(live, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_live"))
      .select(col("bucket"), col("n_msgs"), col("n_keys"),
        col("n_live"), (col("n_msgs") - col("n_live")).as("n_dead"),
        expr("n_msgs * 1000000 div greatest(n_live, 1L)")
          .as("amp_micro"))
      .orderBy("bucket")
  }

  /** At-least-once redelivery audit: a deterministic second delivery
    * of part of the changelog (every 11th envelope) is unioned onto
    * the stream, and the report measures what redelivery actually
    * costs per routed op — deliveries vs unique messages and the
    * duplicate share. The LWW apply path is idempotent under exactly
    * this redelivery (RetrySpec/kill-and-restart prove it); the audit
    * is the monitoring-side counterpart an operator watches to see
    * HOW MUCH replay the at-least-once source is generating.
    */
  def redeliveryAudit(spark: SparkSession, dir: String): DataFrame = {
    // parsed-once cache (round 12): both union branches read the
    // parsed stream — uncached, each branch re-parsed the envelopes
    // (two full parses per run). The parse is still paid, once.
    val raw = parsed(spark, dir).filter(col("op") =!= CdcParse.OpDrop)
      .select("op", "event_id").cache()
    raw.unionByName(raw.filter(col("event_id") % 11 === 0))
      .groupBy("op")
      .agg(count(lit(1)).as("n_deliveries"),
        countDistinct(col("event_id")).as("n_unique"))
      .withColumn("n_dup", col("n_deliveries") - col("n_unique"))
      .withColumn("dup_share_micro",
        expr("n_dup * 1000000 div n_deliveries"))
      .orderBy("op")
  }

  def typedAssembly(spark: SparkSession, dir: String): DataFrame =
    parsed(spark, dir).filter(col("op") =!= CdcParse.OpDrop)
      .orderBy("event_id")

  def lwwDedup(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.lww(
        parsed(spark, dir).filter(col("op") =!= CdcParse.OpDrop),
        Seq("user_id"), "event_id")
      .select("user_id", "op", "event_type", "value_milli", "event_id")
      .orderBy("user_id")

  /** The LWW'd odd-half batch, CACHED (plan-keyed): every apply query
    * consumes it twice — the touched-keys anti-join build side AND the
    * upsert rows — and without the cache the optimizer prunes the two
    * consumers into two SEPARATE envelope parses (column pruning
    * rewrites the keys-only side past the max_by aggregate, so the
    * exchanges stop matching and ReuseExchange cannot dedup them).
    * Measured at sf0.1: the double parse held the apply at ~31-35k
    * rows/s; parsed-once restores the 37-45k anchor band. The parse is
    * still PAID by the query, exactly once — which is what the apply
    * family measures.
    */
  private def oddLww(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.lww(
      parsed(spark, dir, odd).filter(col("op") =!= CdcParse.OpDrop),
      Seq("user_id"), "event_id").cache()

  def applyUpsert(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.applyUpsert(state0(spark, dir), oddLww(spark, dir),
      Seq("user_id")).orderBy("user_id")

  def applyInsert(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.applyInsert(state0(spark, dir), oddLww(spark, dir),
      Seq("user_id")).orderBy("user_id")

  def applyUpdateOn(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.applyUpdateOn(state0(spark, dir), oddLww(spark, dir),
      Seq("user_id")).orderBy("user_id")

  def applyDelete(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.applyDelete(state0(spark, dir),
      oddLww(spark, dir).filter(col("op") === CdcParse.OpErase),
      Seq("user_id")).orderBy("user_id")

  /** Full conditional MERGE: erase deletes, a matched update lands
    * only when the incoming value is strictly higher (monotone
    * high-water merge — the "never regress a metric" write rule),
    * unmatched non-erase rows insert. Keys-only updates carry a NULL
    * payload, so their matched condition is NULL and the state row
    * survives — SQL CASE semantics on both engines. Same single
    * key-shuffled pass as the other apply sinks.
    */
  def applyMerge(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.applyMerge(state0(spark, dir), oddLww(spark, dir),
      Seq("user_id"), col("_b_value_milli") > col("value_milli"))
      .orderBy("user_id")

  /** Point-in-time snapshot (time travel): state0 with the odd-delta
    * changelog applied only up to a sequence cutoff — the "what did
    * the table look like at seq T" reconstruction a changefeed
    * consumer owes its auditors. The cutoff (max(event_id) div 2,
    * mid-corpus and SF-invariant) rides as a 1-row broadcast
    * plan-embedded scalar; everything downstream is the ordinary
    * parse → LWW → keyed-merge pipeline, so snapshot-at-T costs
    * exactly one changelog apply, never a table rescan per T.
    */
  def snapshotAt(spark: SparkSession, dir: String): DataFrame =
    snapshotAtCut(spark, dir,
      t(spark, dir, "events").agg(
        expr("max(event_id) div 2").as("cut")))

  /** Tombstone-GC audit: erase markers whose key saw NO later update
    * are LIVE tombstones (they still suppress their key on replay);
    * those older than the retention cutoff (mid-corpus seq, the
    * snapshotAt convention) are GC-eligible — the compaction decision
    * a keyed sink makes before dropping delete markers (the classic
    * log-compaction tombstone-retention rule). One per-key aggregate
    * over the parsed changelog; the cutoff rides as a 1-row
    * broadcast.
    */
  def tombstoneGc(spark: SparkSession, dir: String): DataFrame = {
    val p = parsed(spark, dir)
      .filter(col("op") =!= CdcParse.OpDrop)
    val perKey = p.groupBy("user_id").agg(
      max(when(col("op") === CdcParse.OpErase, col("event_id")))
        .as("tomb_seq"),
      max(when(col("op") =!= CdcParse.OpErase, col("event_id")))
        .as("upd_seq"))
    perKey
      .filter(col("tomb_seq").isNotNull &&
        (col("upd_seq").isNull || col("tomb_seq") > col("upd_seq")))
      .crossJoin(broadcast(t(spark, dir, "events")
        .agg(expr("max(event_id) div 2").as("cut"))))
      .select(col("user_id"), col("tomb_seq"),
        (col("tomb_seq") <= col("cut")).as("gc_eligible"))
      .orderBy("user_id")
  }

  /** Per-partition changelog lag monitor: messages, high-water seq
    * and the lag to the global high-water mark per topic partition
    * (key-hash partitioning, 8 partitions) — the per-reader freshness
    * view the reference surfaces as lastReaded/lastWrited
    * (WebController.java:62-83), generalized per partition. One hash
    * aggregate; the global max joins back over the 8-row result.
    */
  def partitionLag(spark: SparkSession, dir: String): DataFrame = {
    val byPart = parsed(spark, dir)
      .filter(col("op") =!= CdcParse.OpDrop)
      .groupBy(pmod(col("user_id"), lit(8L)).as("partition"))
      .agg(count(lit(1)).as("n_msgs"), max("event_id").as("hwm"))
    byPart
      .withColumn("lag",
        max("hwm").over(org.apache.spark.sql.expressions.Window
          .partitionBy()) - col("hwm"))
      .orderBy("partition")
  }

  /** Snapshot DIFF (time-travel compare): the keyed state at T1 =
    * max(seq)/4 versus T2 = max(seq)/2, full-outer joined and
    * classified added / removed / changed / unchanged per key — the
    * "what changed between these two points" audit a changefeed
    * consumer runs after an incident, costing two changelog applies
    * and one key-equi join, never a table rescan per question. The
    * snapshots here are pure FULL-stream LWW reconstructions (unlike
    * snapshotAt's state0+odd-delta convention) because the full stream
    * is the one that carries erase markers — without them "added" and
    * "removed" could never occur. Null payload columns surface as
    * -1 / "-" sentinels so the report is join-stable. Built on the
    * STORED parsed changelog (derived:cdcparsed).
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    def snapAt(denom: Int): DataFrame = {
      val deltas = parsedStored(spark, dir)
        .crossJoin(broadcast(t(spark, dir, "events").agg(
          expr(s"max(event_id) div $denom").as("cut"))))
        .filter(col("event_id") <= col("cut")
          && col("op") =!= CdcParse.OpDrop)
        .drop("cut")
      KeyedMerge.lww(deltas, Seq("user_id"), "event_id")
        .filter(col("op") =!= CdcParse.OpErase)
    }
    // rename one side wholesale: the two snapshots derive from ONE
    // parent lineage and an un-renamed key join would trip Spark's
    // ambiguous-self-join detection
    val a = snapAt(4).select(col("user_id").as("k1"),
      col("event_type").as("et1"), col("value_milli").as("vm1"))
    val b = snapAt(2).select(col("user_id").as("k2"),
      col("event_type").as("et2"), col("value_milli").as("vm2"))
    a.join(b, col("k1") === col("k2"), "full_outer")
      .select(coalesce(col("k1"), col("k2")).as("user_id"),
        when(col("k1").isNull, lit("added"))
          .when(col("k2").isNull, lit("removed"))
          .when(!(col("et1") <=> col("et2"))
            || !(col("vm1") <=> col("vm2")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("et1"), lit("-")).as("et1"),
        coalesce(col("vm1"), lit(-1L)).as("vm1"),
        coalesce(col("et2"), lit("-")).as("et2"),
        coalesce(col("vm2"), lit(-1L)).as("vm2"))
      .orderBy("user_id")
  }

  /** snapshotAt with an explicit 1-row (cut BIGINT) cutoff frame —
    * the spec drives this with cut = max and cut = -1 to prove the
    * endpoints collapse to apply-all and state0.
    */
  def snapshotAtCut(spark: SparkSession, dir: String,
      cutDf: DataFrame): DataFrame = {
    val deltas = parsed(spark, dir, odd)
      .crossJoin(broadcast(cutDf))
      .filter(col("event_id") <= col("cut")
        && col("op") =!= CdcParse.OpDrop)
      .drop("cut")
    KeyedMerge.applyUpsert(state0(spark, dir),
      KeyedMerge.lww(deltas, Seq("user_id"), "event_id"),
      Seq("user_id")).orderBy("user_id")
  }

  /** README mat_view1 analog (README.md:80-101): Text event time ->
    * Timestamp via parse + Unwrap (graft custom expression).
    */
  def matView1(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    t(spark, dir, "events")
      .select(col("event_id"),
        date_format(graft.Tables.eventsTsMicros, "yyyy-MM-dd HH:mm:ss")
          .as("event_time_text"),
        col("event_type"), col("user_id"))
      .select(col("event_id"),
        GraftFunctions.unwrap(to_timestamp(col("event_time_text"),
          "yyyy-MM-dd HH:mm:ss")).as("event_time"),
        col("event_type"), col("user_id"))
      .orderBy("event_id")
  }

  /** README mat_view2 analog (README.md:103-115): SELECT * under a
    * DIFFERENT primary key (user_id, event_type) with LWW on the new key.
    */
  def matView2(spark: SparkSession, dir: String): DataFrame =
    KeyedMerge.lww(
        parsed(spark, dir)
          .filter(col("op").isin(CdcParse.OpUpdate, CdcParse.OpNewImage)),
        Seq("user_id", "event_type"), "event_id")
      .select("user_id", "event_type", "value_milli", "event_id")
      .orderBy("user_id", "event_type")

  /** Debezium-envelope ingestion: deterministic before/after/op
    * envelopes from events, parsed by DebeziumParse, LWW'd on the key,
    * erase wins removed — the cross-format path to the same merge.
    */
  def debezium(spark: SparkSession, dir: String): DataFrame = {
    val payload = concat(lit("{\"user_id\":"), s(col("user_id")),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value_milli\":"), s(vm), lit("}"))
    val sel = col("event_id") % 4
    val env = when(sel === 0,
        concat(lit("{\"before\":"), payload,
          lit(",\"after\":null,\"op\":\"d\",\"ts_ms\":"),
          s(col("event_id")), lit("}")))
      .when(sel === 1,
        concat(lit("{\"before\":null,\"after\":"), payload,
          lit(",\"op\":\"c\",\"ts_ms\":"), s(col("event_id")), lit("}")))
      .when(sel === 2,
        concat(lit("{\"before\":null,\"after\":"), payload,
          lit(",\"op\":\"r\",\"ts_ms\":"), s(col("event_id")), lit("}")))
      .otherwise(
        concat(lit("{\"before\":"), payload, lit(",\"after\":"), payload,
          lit(",\"op\":\"u\",\"ts_ms\":"), s(col("event_id")), lit("}")))
    // same single-task-scan fan-out as parsed() (round 13, guide §2.5)
    val ev = graft.Tables.fanOutScan(
      t(spark, dir, "events").select(env.as("env")))
    val typed = DebeziumParse.parse(ev, "env", payloadSchema)
      .filter(col("op") =!= CdcParse.OpDrop)
    KeyedMerge.lww(typed, Seq("user_id"), "seq")
      .filter(col("op") =!= CdcParse.OpErase)
      .select("user_id", "op", "event_type", "value_milli", "seq")
      .orderBy("user_id")
  }

  /** SCD type-2 dimension build from the changelog: every surviving
    * update opens an interval [event_id, next-change-or-erase); erase
    * events close the current interval without opening one. One window
    * pass per key — the standard lead()-based interval construction,
    * shuffle-partitioned on the entity key so it scales with keys, not
    * history length.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    parsed(spark, dir)
      .filter(col("op").isin(CdcParse.OpUpdate, CdcParse.OpNewImage,
        CdcParse.OpErase))
      .withColumn("valid_to", lead(col("event_id"), 1).over(w))
      .filter(col("op") =!= CdcParse.OpErase)
      .select(col("user_id"), col("event_id").as("valid_from"),
        col("valid_to"), col("event_type"), col("value_milli"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  /** SCD2 self-audit: the invariants a dimension consumer relies on,
    * measured over the interval set `cdc_scd2` builds — at most ONE
    * current row per key, no overlapping validity, and the gap count
    * (erase-created holes) made explicit instead of discovered by a
    * surprised analyst. One lead() window over the interval table —
    * the audit costs one pass over the dimension, not the fact table.
    */
  def scd2Audit(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from")
    scd2(spark, dir)
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_intervals"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
        sum(when(col("next_from").isNotNull &&
          col("valid_to").isNotNull &&
          col("next_from") < col("valid_to"), 1L).otherwise(0L))
          .as("n_overlaps"),
        sum(when(col("next_from").isNotNull &&
          col("valid_to").isNotNull &&
          col("next_from") > col("valid_to"), 1L).otherwise(0L))
          .as("n_gaps"),
        sum(when(col("next_from").isNotNull &&
          col("valid_to").isNotNull &&
          col("next_from") === col("valid_to"), 1L).otherwise(0L))
          .as("n_contiguous"))
  }

  /** Incrementally maintained per-event_type aggregate view: initial
    * aggregates from pre-existing state, then one delta application
    * for the LWW'd odd-event batch ([[KeyedMerge.applyAggDelta]]).
    * The oracle RECOMPUTES the aggregate from the fully-applied state
    * — hash equality proves the delta path exact, including nulled
    * payloads from keys-only updates and group drops via erase.
    */
  def aggView(spark: SparkSession, dir: String): DataFrame = {
    val st = state0(spark, dir)
    val agg0 = st.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value_milli").as("sum_v"))
    KeyedMerge.applyAggDelta(agg0, st, oddLww(spark, dir),
        Seq("user_id"), "event_type", "value_milli")
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** v2 payload schema after an upstream ALTER TABLE ADD COLUMN: the
    * reader schema is the WIDENED one; envelopes written before the
    * evolution simply lack the field and parse to null — the standard
    * forward-compatible CDC evolution contract (the reference's typed
    * assembly keys fields by name, YqlWriter.java:210-236, so added
    * columns are the evolution case its users hit).
    */
  private val payloadSchemaV2 = CdcParse.CdcSchema(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value_milli", LongType),
      StructField("score_milli", LongType))),
    pk = Seq("user_id"))

  /** Envelope stream straddling a schema evolution: erases at
    * event_id % 10 = 0; updates carry the v2 payload (extra
    * `score_milli`) iff event_id % 3 = 0, else the original v1
    * payload — so post-merge state mixes users whose latest write
    * predates and postdates the evolution.
    */
  private def envelopeEvolve: Column = {
    val v1 = concat(lit("{\"user_id\":"), s(col("user_id")),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value_milli\":"), s(vm), lit("}"))
    val v2 = concat(lit("{\"user_id\":"), s(col("user_id")),
      lit(",\"event_type\":\""), col("event_type"),
      lit("\",\"value_milli\":"), s(vm),
      lit(",\"score_milli\":"), s(col("event_id") % 997), lit("}"))
    val keyPart = concat(lit("{\"key\":["), s(col("user_id")), lit("]"))
    when(col("event_id") % 10 === 0,
        concat(keyPart, lit(",\"erase\":{}}")))
      .otherwise(concat(keyPart, lit(",\"update\":"),
        when(col("event_id") % 3 === 0, v2).otherwise(v1), lit("}")))
  }

  /** Schema-drift-tolerant assembly + LWW: parse BOTH envelope
    * generations with the v2 reader schema (missing field -> null,
    * from_json's forward-compatible contract — no reprocessing of the
    * v1 backlog), then merge per key. A user's final score_milli is
    * null exactly when their last write predates the evolution.
    */
  def schemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    // same single-task-scan fan-out as parsed() (round 13, guide §2.5)
    val ev = graft.Tables.fanOutScan(t(spark, dir, "events")
      .select(col("event_id"), envelopeEvolve.as("env")))
    val typed = CdcParse.parseEnvelope(ev, "env", payloadSchemaV2)
      .select("event_id", "op", "user_id", "event_type",
        "value_milli", "score_milli")
      .filter(col("op") =!= CdcParse.OpDrop)
    KeyedMerge.lww(typed, Seq("user_id"), "event_id")
      .select("user_id", "op", "event_type", "value_milli",
        "score_milli", "event_id")
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_schema_evolve" -> schemaEvolve _,
    "cdc_agg_view" -> aggView _,
    "cdc_scd2" -> scd2 _,
    "cdc_debezium" -> debezium _,
    "cdc_parse_route" -> parseRoute _,
    "cdc_op_mix" -> opMix _,
    "cdc_compaction_plan" -> compactionPlan _,
    "cdc_redelivery_audit" -> redeliveryAudit _,
    "cdc_scd2_audit" -> scd2Audit _,
    "cdc_typed_assembly" -> typedAssembly _,
    "cdc_lww_dedup" -> lwwDedup _,
    "cdc_apply_upsert" -> applyUpsert _,
    "cdc_snapshot_at" -> snapshotAt _,
    "cdc_snapshot_diff" -> snapshotDiff _,
    "cdc_tombstone_gc" -> tombstoneGc _,
    "cdc_partition_lag" -> partitionLag _,
    "cdc_apply_insert" -> applyInsert _,
    "cdc_apply_update_on" -> applyUpdateOn _,
    "cdc_apply_delete" -> applyDelete _,
    "cdc_apply_merge" -> applyMerge _,
    "cdc_mat_view1" -> matView1 _,
    "cdc_mat_view2" -> matView2 _,
  )

  /** Shared DuckDB CTE text: envelope construction + parse + route +
    * typed assembly, mirroring CdcParse exactly.
    */
  private val baseCte: String =
    """WITH env AS (
      |  SELECT event_id,
      |    CASE
      |      WHEN event_id % 10 = 0 THEN '{"key":[' || user_id || '],"erase":{}}'
      |      WHEN event_id % 10 = 1 THEN '{"key":[' || user_id || '],"update":{}}'
      |      WHEN event_id % 10 = 2 THEN '{"key":[' || user_id || '],"update":7,"newImage":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '}}'
      |      WHEN event_id % 10 = 3 THEN '{"key":[' || user_id || '],"newImage":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '}}'
      |      ELSE '{"key":[' || user_id || '],"update":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '}}'
      |    END AS env
      |  FROM events
      |), routed AS (
      |  SELECT event_id, env,
      |    json_extract(env, '$.update')::VARCHAR AS upd,
      |    json_extract(env, '$.newImage')::VARCHAR AS img,
      |    json_extract(env, '$.erase')::VARCHAR AS ers,
      |    json_extract(env, '$.key')::VARCHAR AS k
      |  FROM env
      |), ops AS (
      |  SELECT event_id, env,
      |    CASE
      |      WHEN k IS NULL THEN 'drop'
      |      WHEN upd IS NOT NULL AND left(upd,1) = '{' AND upd = '{}' THEN 'update_keys_only'
      |      WHEN upd IS NOT NULL AND left(upd,1) = '{' THEN 'update'
      |      WHEN upd IS NOT NULL AND img IS NOT NULL THEN 'update_newimage'
      |      WHEN ers IS NOT NULL THEN 'erase'
      |      ELSE 'drop'
      |    END AS op,
      |    CASE WHEN upd IS NOT NULL AND left(upd,1) <> '{' AND img IS NOT NULL
      |         THEN json_extract(env, '$.newImage') ELSE json_extract(env, '$.update') END AS payload
      |  FROM routed
      |), typed AS (
      |  SELECT event_id, op,
      |    CAST(json_extract_string(env, '$.key[0]') AS BIGINT) AS user_id,
      |    CASE WHEN op IN ('update','update_newimage')
      |         THEN json_extract_string(payload, '$.event_type') END AS event_type,
      |    CASE WHEN op IN ('update','update_newimage')
      |         THEN CAST(json_extract_string(payload, '$.value_milli') AS BIGINT) END AS value_milli
      |  FROM ops
      |), state0 AS (
      |  SELECT user_id, MAX(event_type) AS event_type,
      |         MAX(CAST(ROUND(value*1000) AS BIGINT)) AS value_milli
      |  FROM events WHERE event_id % 2 = 0 GROUP BY user_id
      |), odd_lww AS (
      |  SELECT user_id, op, event_type, value_milli, event_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |    FROM typed WHERE op <> 'drop' AND event_id % 2 = 1) x
      |  WHERE rn = 1
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "cdc_schema_evolve" ->
      """WITH env AS (
        |  SELECT event_id,
        |    CASE
        |      WHEN event_id % 10 = 0 THEN '{"key":[' || user_id || '],"erase":{}}'
        |      WHEN event_id % 3 = 0 THEN '{"key":[' || user_id || '],"update":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || ',"score_milli":' || (event_id % 997) || '}}'
        |      ELSE '{"key":[' || user_id || '],"update":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '}}'
        |    END AS env
        |  FROM events
        |), typed AS (
        |  SELECT event_id,
        |    CASE WHEN json_extract(env, '$.erase') IS NOT NULL
        |         THEN 'erase' ELSE 'update' END AS op,
        |    CAST(json_extract_string(env, '$.key[0]') AS BIGINT) AS user_id,
        |    json_extract_string(env, '$.update.event_type') AS event_type,
        |    CAST(json_extract_string(env, '$.update.value_milli') AS BIGINT) AS value_milli,
        |    CAST(json_extract_string(env, '$.update.score_milli') AS BIGINT) AS score_milli
        |  FROM env)
        |SELECT user_id, op, event_type, value_milli, score_milli,
        |  event_id
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM typed) x
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "cdc_debezium" ->
      """WITH env AS (
        |  SELECT event_id,
        |    CASE event_id % 4
        |      WHEN 0 THEN '{"before":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '},"after":null,"op":"d","ts_ms":' || event_id || '}'
        |      WHEN 1 THEN '{"before":null,"after":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '},"op":"c","ts_ms":' || event_id || '}'
        |      WHEN 2 THEN '{"before":null,"after":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '},"op":"r","ts_ms":' || event_id || '}'
        |      ELSE '{"before":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '},"after":{"user_id":' || user_id || ',"event_type":"' || event_type || '","value_milli":' || CAST(ROUND(value*1000) AS BIGINT) || '},"op":"u","ts_ms":' || event_id || '}'
        |    END AS env
        |  FROM events
        |), typed AS (
        |  SELECT
        |    CASE WHEN json_extract_string(env, '$.op') = 'd' THEN 'erase'
        |         WHEN json_extract_string(env, '$.op') IN ('c','u','r')
        |              AND json_extract(env, '$.after') IS NOT NULL
        |              AND json_extract(env, '$.after')::VARCHAR <> 'null'
        |         THEN 'update' ELSE 'drop' END AS op,
        |    CAST(json_extract_string(env,
        |      CASE WHEN json_extract_string(env, '$.op') = 'd'
        |           THEN '$.before.user_id' ELSE '$.after.user_id' END)
        |      AS BIGINT) AS user_id,
        |    CASE WHEN json_extract_string(env, '$.op') <> 'd'
        |         THEN json_extract_string(env, '$.after.event_type') END
        |      AS event_type,
        |    CASE WHEN json_extract_string(env, '$.op') <> 'd'
        |         THEN CAST(json_extract_string(env, '$.after.value_milli') AS BIGINT) END
        |      AS value_milli,
        |    CAST(json_extract_string(env, '$.ts_ms') AS BIGINT) AS seq
        |  FROM env
        |)
        |SELECT user_id, op, event_type, value_milli, seq FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |  FROM typed WHERE op <> 'drop') x
        |WHERE rn = 1 AND op <> 'erase'
        |ORDER BY user_id""".stripMargin,
    "cdc_agg_view" -> (baseCte +
      """
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(value_milli) AS BIGINT) AS sum_v
        |FROM (
        |  SELECT s.event_type, s.value_milli FROM state0 s
        |  WHERE NOT EXISTS (SELECT 1 FROM odd_lww b WHERE b.user_id = s.user_id)
        |  UNION ALL
        |  SELECT event_type, value_milli FROM odd_lww WHERE op <> 'erase') f
        |GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin),
    "cdc_scd2" -> (baseCte +
      """
        |SELECT user_id, valid_from, valid_to, event_type, value_milli,
        |  (valid_to IS NULL) AS is_current
        |FROM (
        |  SELECT user_id, op, event_id AS valid_from,
        |    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS valid_to,
        |    event_type, value_milli
        |  FROM typed
        |  WHERE op IN ('update', 'update_newimage', 'erase')) x
        |WHERE op <> 'erase'
        |ORDER BY user_id, valid_from""".stripMargin),
    "cdc_scd2_audit" -> (baseCte +
      """
        |, scd AS (
        |  SELECT user_id, valid_from, valid_to,
        |    (valid_to IS NULL) AS is_current
        |  FROM (
        |    SELECT user_id, op, event_id AS valid_from,
        |      LEAD(event_id) OVER (PARTITION BY user_id
        |        ORDER BY event_id) AS valid_to
        |    FROM typed
        |    WHERE op IN ('update', 'update_newimage', 'erase')) x
        |  WHERE op <> 'erase'
        |), led AS (
        |  SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY valid_from) AS next_from
        |  FROM scd)
        |SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |  CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_current,
        |  CAST(SUM(CASE WHEN next_from IS NOT NULL
        |    AND valid_to IS NOT NULL AND next_from < valid_to
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
        |  CAST(SUM(CASE WHEN next_from IS NOT NULL
        |    AND valid_to IS NOT NULL AND next_from > valid_to
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(SUM(CASE WHEN next_from IS NOT NULL
        |    AND valid_to IS NOT NULL AND next_from = valid_to
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contiguous
        |FROM led""".stripMargin),
    "cdc_parse_route" -> (baseCte +
      "\nSELECT event_id, op FROM ops ORDER BY event_id"),
    "cdc_redelivery_audit" -> (baseCte +
      """
        |, t2 AS (SELECT * FROM typed WHERE op <> 'drop'),
        |d AS (
        |  SELECT * FROM t2
        |  UNION ALL
        |  SELECT * FROM t2 WHERE event_id % 11 = 0
        |), agg AS (
        |  SELECT op, CAST(COUNT(*) AS BIGINT) AS n_deliveries,
        |    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
        |  FROM d GROUP BY op)
        |SELECT op, n_deliveries, n_unique,
        |  n_deliveries - n_unique AS n_dup,
        |  ((n_deliveries - n_unique) * 1000000) // n_deliveries
        |    AS dup_share_micro
        |FROM agg ORDER BY op""".stripMargin),
    "cdc_compaction_plan" -> (baseCte +
      """
        |, nb AS (
        |  SELECT *, ((user_id % 16) + 16) % 16 AS bucket
        |  FROM typed WHERE op <> 'drop'
        |), m AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_msgs,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
        |  FROM nb GROUP BY bucket
        |), lw AS (
        |  SELECT bucket, op FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn
        |    FROM nb) x
        |  WHERE rn = 1
        |), lv AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_live
        |  FROM lw WHERE op <> 'erase' GROUP BY bucket)
        |SELECT m.bucket, m.n_msgs, m.n_keys,
        |  COALESCE(lv.n_live, 0) AS n_live,
        |  m.n_msgs - COALESCE(lv.n_live, 0) AS n_dead,
        |  (m.n_msgs * 1000000) // GREATEST(COALESCE(lv.n_live, 0), 1)
        |    AS amp_micro
        |FROM m LEFT JOIN lv ON lv.bucket = m.bucket
        |ORDER BY m.bucket""".stripMargin),
    "cdc_op_mix" -> (baseCte +
      """
        |, mix AS (
        |  SELECT op, CAST(COUNT(*) AS BIGINT) AS n_msgs,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
        |  FROM typed GROUP BY op)
        |SELECT op, n_msgs, n_keys,
        |  CAST((n_msgs * 1000000) // SUM(n_msgs) OVER () AS BIGINT)
        |    AS share_micro
        |FROM mix ORDER BY op""".stripMargin),
    "cdc_typed_assembly" -> (baseCte +
      """
        |SELECT event_id, op, user_id, event_type, value_milli
        |FROM typed WHERE op <> 'drop' ORDER BY event_id""".stripMargin),
    "cdc_lww_dedup" -> (baseCte +
      """
        |SELECT user_id, op, event_type, value_milli, event_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM typed WHERE op <> 'drop') x
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    "cdc_apply_upsert" -> (baseCte +
      """
        |SELECT user_id, event_type, value_milli FROM (
        |  SELECT s.user_id, s.event_type, s.value_milli FROM state0 s
        |  WHERE NOT EXISTS (SELECT 1 FROM odd_lww b WHERE b.user_id = s.user_id)
        |  UNION ALL
        |  SELECT user_id, event_type, value_milli FROM odd_lww WHERE op <> 'erase') f
        |ORDER BY user_id""".stripMargin),
    "cdc_apply_merge" -> (baseCte +
      """
        |SELECT user_id, event_type, value_milli FROM (
        |  SELECT s.user_id,
        |    CASE WHEN b.user_id IS NOT NULL AND b.op <> 'erase'
        |           AND b.value_milli > s.value_milli
        |         THEN b.event_type ELSE s.event_type END AS event_type,
        |    CASE WHEN b.user_id IS NOT NULL AND b.op <> 'erase'
        |           AND b.value_milli > s.value_milli
        |         THEN b.value_milli ELSE s.value_milli END
        |      AS value_milli
        |  FROM state0 s LEFT JOIN odd_lww b ON b.user_id = s.user_id
        |  WHERE b.user_id IS NULL OR b.op <> 'erase'
        |  UNION ALL
        |  SELECT b.user_id, b.event_type, b.value_milli FROM odd_lww b
        |  WHERE b.op <> 'erase' AND NOT EXISTS (
        |    SELECT 1 FROM state0 s WHERE s.user_id = b.user_id)) f
        |ORDER BY user_id""".stripMargin),
    "cdc_snapshot_at" -> (baseCte +
      """, cut AS (
        |  SELECT MAX(event_id) // 2 AS cut FROM events
        |), odd_lww_cut AS (
        |  SELECT user_id, op, event_type, value_milli, event_id FROM (
        |    SELECT t.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM typed t, cut c
        |    WHERE op <> 'drop' AND event_id % 2 = 1 AND event_id <= c.cut) x
        |  WHERE rn = 1
        |)
        |SELECT user_id, event_type, value_milli FROM (
        |  SELECT s.user_id, s.event_type, s.value_milli FROM state0 s
        |  WHERE NOT EXISTS (SELECT 1 FROM odd_lww_cut b WHERE b.user_id = s.user_id)
        |  UNION ALL
        |  SELECT user_id, event_type, value_milli FROM odd_lww_cut WHERE op <> 'erase') f
        |ORDER BY user_id""".stripMargin),
    "cdc_snapshot_diff" -> (baseCte +
      """, cut1 AS (SELECT MAX(event_id) // 4 AS cut FROM events
        |), cut2 AS (SELECT MAX(event_id) // 2 AS cut FROM events
        |), lww1 AS (
        |  SELECT user_id, op, event_type, value_milli FROM (
        |    SELECT t.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM typed t, cut1 c
        |    WHERE op <> 'drop' AND event_id <= c.cut) x
        |  WHERE rn = 1
        |), s1 AS (
        |  SELECT user_id, event_type, value_milli FROM lww1 WHERE op <> 'erase'
        |), lww2 AS (
        |  SELECT user_id, op, event_type, value_milli FROM (
        |    SELECT t.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM typed t, cut2 c
        |    WHERE op <> 'drop' AND event_id <= c.cut) x
        |  WHERE rn = 1
        |), s2 AS (
        |  SELECT user_id, event_type, value_milli FROM lww2 WHERE op <> 'erase'
        |)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |  CASE WHEN a.user_id IS NULL THEN 'added'
        |    WHEN b.user_id IS NULL THEN 'removed'
        |    WHEN a.event_type IS DISTINCT FROM b.event_type
        |      OR a.value_milli IS DISTINCT FROM b.value_milli
        |      THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  COALESCE(a.event_type, '-') AS et1,
        |  CAST(COALESCE(a.value_milli, -1) AS BIGINT) AS vm1,
        |  COALESCE(b.event_type, '-') AS et2,
        |  CAST(COALESCE(b.value_milli, -1) AS BIGINT) AS vm2
        |FROM s1 a FULL OUTER JOIN s2 b ON b.user_id = a.user_id
        |ORDER BY user_id""".stripMargin),
    "cdc_tombstone_gc" -> (baseCte +
      """, perkey AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN op = 'erase' THEN event_id END) AS tomb_seq,
        |    MAX(CASE WHEN op <> 'erase' THEN event_id END) AS upd_seq
        |  FROM typed WHERE op <> 'drop' GROUP BY user_id
        |), cut AS (SELECT MAX(event_id) // 2 AS cut FROM events)
        |SELECT user_id, tomb_seq, tomb_seq <= c.cut AS gc_eligible
        |FROM perkey, cut c
        |WHERE tomb_seq IS NOT NULL
        |  AND (upd_seq IS NULL OR tomb_seq > upd_seq)
        |ORDER BY user_id""".stripMargin),
    "cdc_partition_lag" -> (baseCte +
      """, bypart AS (
        |  SELECT user_id % 8 AS partition,
        |    CAST(COUNT(*) AS BIGINT) AS n_msgs,
        |    MAX(event_id) AS hwm
        |  FROM typed WHERE op <> 'drop' GROUP BY 1)
        |SELECT partition, n_msgs, hwm,
        |  CAST(MAX(hwm) OVER () - hwm AS BIGINT) AS lag
        |FROM bypart ORDER BY partition""".stripMargin),
    "cdc_apply_insert" -> (baseCte +
      """
        |SELECT user_id, event_type, value_milli FROM (
        |  SELECT user_id, event_type, value_milli FROM state0
        |  UNION ALL
        |  SELECT b.user_id, b.event_type, b.value_milli FROM odd_lww b
        |  WHERE b.op <> 'erase'
        |    AND NOT EXISTS (SELECT 1 FROM state0 s WHERE s.user_id = b.user_id)) f
        |ORDER BY user_id""".stripMargin),
    "cdc_apply_update_on" -> (baseCte +
      """
        |SELECT user_id, event_type, value_milli FROM (
        |  SELECT s.user_id, s.event_type, s.value_milli FROM state0 s
        |  WHERE NOT EXISTS (SELECT 1 FROM odd_lww b
        |                    WHERE b.user_id = s.user_id AND b.op <> 'erase')
        |  UNION ALL
        |  SELECT b.user_id, b.event_type, b.value_milli FROM odd_lww b
        |  WHERE b.op <> 'erase'
        |    AND EXISTS (SELECT 1 FROM state0 s WHERE s.user_id = b.user_id)) f
        |ORDER BY user_id""".stripMargin),
    "cdc_apply_delete" -> (baseCte +
      """
        |SELECT s.user_id, s.event_type, s.value_milli FROM state0 s
        |WHERE NOT EXISTS (SELECT 1 FROM odd_lww b
        |                  WHERE b.user_id = s.user_id AND b.op = 'erase')
        |ORDER BY s.user_id""".stripMargin),
    "cdc_mat_view1" ->
      """SELECT event_id,
        |  strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS event_time,
        |  event_type, user_id
        |FROM events ORDER BY event_id""".stripMargin,
    "cdc_mat_view2" -> (baseCte +
      """
        |SELECT user_id, event_type, value_milli, event_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
        |  FROM typed WHERE op IN ('update','update_newimage')) x
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),
  )
}
