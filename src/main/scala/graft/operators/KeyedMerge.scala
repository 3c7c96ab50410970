package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed merge semantics (SURVEY.md §7.3): the one genuinely
  * non-built-in piece. Reproduces the reference's four write actions
  * (CdcMsgParser.java:225-248) over keyed state:
  *
  *   upsertInto  -> replace-or-insert whole row
  *   insertInto  -> insert only keys absent from state
  *   updateOn    -> replace only keys present in state
  *   deleteFrom  -> remove keys (payload ignored)
  *
  * All ops are idempotent (apply twice == apply once), which is what
  * makes Structured Streaming's batch replay satisfy the reference's
  * at-least-once contract (YqlWriter.java:181-206, SURVEY.md O10).
  *
  * Scale notes: `lww` is one shuffle on the key (window + row_number);
  * the merges are key-equi joins — at 100 TB both sides shuffle on the
  * same key so AQE can co-partition, and a small batch side is
  * broadcast by Catalyst automatically.
  */
object KeyedMerge {

  /** Last-writer-wins dedup per key by the sequence column (which must
    * be unique per key — offsets/event ids are). Subsumes the
    * reference's order-boundary flush (YqlWriter.java:186-192): a
    * later erase supersedes an earlier update of the key.
    *
    * Shape: `max_by` aggregate, NOT a window + row_number — the
    * aggregate gets map-side partial combining (each input partition
    * pre-reduces to one row per local key before the shuffle) and no
    * per-partition sort; the window form shuffles and sorts every
    * batch row.
    */
  def lww(batch: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val others = batch.columns.filterNot(keys.contains)
    batch.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col).toIndexedSeq: _*),
        col(seqCol)).as("__top"))
      .select(batch.columns.map(c =>
        if (keys.contains(c)) col(c)
        else col(s"__top.$c").as(c)).toIndexedSeq: _*)
  }

  /** UPSERT: state rows whose key is touched are dropped, then all
    * non-erase batch rows are inserted. Expects `batch` already LWW'd
    * with an `op` column (CdcParse.Op*).
    */
  def applyUpsert(state: DataFrame, batch: DataFrame,
      keys: Seq[String]): DataFrame = {
    val touched = batch.select(keys.map(col): _*)
    val upserts = batch.filter(col("op") =!= CdcParse.OpErase)
      .select(state.columns.map(col).toIndexedSeq: _*)
    state.join(touched, keys, "left_anti").unionByName(upserts)
  }

  /** INSERT: only rows whose key is absent from state are added. */
  def applyInsert(state: DataFrame, batch: DataFrame,
      keys: Seq[String]): DataFrame = {
    val fresh = batch.filter(col("op") =!= CdcParse.OpErase)
      .join(state.select(keys.map(col): _*), keys, "left_anti")
      .select(state.columns.map(col).toIndexedSeq: _*)
    state.unionByName(fresh)
  }

  /** UPDATE ON: only rows whose key exists in state are replaced. */
  def applyUpdateOn(state: DataFrame, batch: DataFrame,
      keys: Seq[String]): DataFrame = {
    val upd = batch.filter(col("op") =!= CdcParse.OpErase)
    val replaced = upd
      .join(state.select(keys.map(col): _*), keys, "left_semi")
      .select(state.columns.map(col).toIndexedSeq: _*)
    val updKeys = replaced.select(keys.map(col): _*)
    state.join(updKeys, keys, "left_anti").unionByName(replaced)
  }

  /** DELETE ... ON: remove keys, payload ignored. */
  def applyDelete(state: DataFrame, deletes: DataFrame,
      keys: Seq[String]): DataFrame =
    state.join(deletes.select(keys.map(col): _*), keys, "left_anti")

  /** SQL MERGE with a CONDITIONAL matched-update clause — the full
    * merge statement the write-action quartet (upsert / insert /
    * updateOn / delete) composes into one keyed pass:
    *
    *   WHEN MATCHED AND batch.op = erase            THEN DELETE
    *   WHEN MATCHED AND `updateWhen`                THEN UPDATE
    *   WHEN MATCHED                                 THEN keep state
    *   WHEN NOT MATCHED AND batch.op <> erase       THEN INSERT
    *
    * `updateWhen` is evaluated on the joined row; the batch's non-key
    * columns are visible under a `_b_` prefix (e.g.
    * `col("_b_value_milli") > col("value_milli")`). A NULL condition
    * (e.g. a keys-only update's NULL payload compared against state)
    * follows SQL CASE semantics: the state row is kept. One
    * key-shuffled full-outer join — the same single pass as the
    * other apply sinks, so MERGE costs nothing extra at scale.
    *
    * PRECONDITION (same contract as applyUpsert/applyAggDelta): the
    * batch must already be LWW-collapsed to ONE ROW PER KEY —
    * duplicate keys multiply state rows through the full-outer join.
    * CdcPipeline always applies `lww` before any apply sink; direct
    * callers must do the same.
    */
  def applyMerge(state: DataFrame, batch: DataFrame, keys: Seq[String],
      updateWhen: Column): DataFrame = {
    val payload = state.columns.filterNot(keys.contains).toSeq
    val b = batch.select((keys.map(col) ++
        batch.columns.filterNot(keys.contains).toSeq
          .map(c => col(c).as("_b_" + c))): _*)
      .withColumn("_b_present", lit(1))
    val s = state.withColumn("_s_present", lit(1))
    val take = col("_b_present").isNotNull &&
      (col("_s_present").isNull || updateWhen)
    s.join(b, keys, "full_outer")
      .filter(!(col("_b_present").isNotNull &&
        col("_b_op") === CdcParse.OpErase))
      .select((keys.map(col) ++ payload.map(c =>
        when(take, col("_b_" + c)).otherwise(col(c)).as(c))): _*)
  }

  /** INCREMENTAL AGGREGATE-VIEW MAINTENANCE: update a per-group
    * (row count, value sum) aggregate table under a keyed
    * upsert/erase batch WITHOUT rescanning the keyed state. Deltas:
    * every touched key subtracts its old contribution (semi-join of
    * state against batch keys — partition-pruned on the bucketed
    * sink, so it reads touched buckets only), every surviving batch
    * row adds its new one; groups whose count reaches zero drop out.
    * Cost is O(batch + groups touched) per micro-batch — at 100 TB
    * this is the difference between maintaining a dashboard aggregate
    * and recomputing it from the full table every batch.
    *
    * `batch` must be LWW-collapsed (one row per key, op != drop) —
    * the same contract as the apply* sinks. Correctness contract:
    * result == recompute over the applied state (cdc_agg_view oracle
    * + multi-batch KeyedMergeSpec test).
    */
  def applyAggDelta(agg: DataFrame, state: DataFrame, batch: DataFrame,
      keys: Seq[String], groupCol: String, valueCol: String)
      : DataFrame = {
    val touched = batch.select(keys.map(col): _*).distinct()
    val removed = state.join(touched, keys, "left_semi")
      .select(col(groupCol), lit(-1L).as("dn"),
        (-col(valueCol)).cast("long").as("dv"))
    val added = batch.filter(col("op") =!= CdcParse.OpErase)
      .select(col(groupCol), lit(1L).as("dn"),
        col(valueCol).cast("long").as("dv"))
    agg
      .select(col(groupCol), col("n").cast("long").as("dn"),
        col("sum_v").cast("long").as("dv"))
      .unionByName(removed).unionByName(added)
      .groupBy(groupCol)
      .agg(sum("dn").as("n"), sum("dv").as("sum_v"))
      .filter(col("n") > 0)
  }

  /** The INVERSE of apply: diff two keyed table snapshots into a
    * changelog — how a changefeed is bootstrapped when the source only
    * provides periodic snapshots. Emits one row per differing key:
    * op = insert (key only in `after`), erase (only in `before`), or
    * update (present in both with any non-key column differing,
    * null-safe). Unchanged keys emit nothing. Payload columns carry
    * the AFTER image (null for erases — key-only, like the
    * reference's erase envelope).
    *
    * Scale shape: one full-outer shuffle join on the key — the minimal
    * cost of any snapshot diff — then a narrow classify/filter. At
    * 100 TB both snapshots bucket on the key and the join co-locates.
    */
  def diffChangelog(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(before.columns.sameElements(after.columns),
      "snapshot schemas must match")
    val dataCols = before.columns.filterNot(keys.contains)
    val b = before.select(before.columns
      .map(c => col(c).as(s"__b_$c")).toIndexedSeq: _*)
    val a = after.select(after.columns
      .map(c => col(c).as(s"__a_$c")).toIndexedSeq: _*)
    val joined = b.join(a,
      keys.map(k => col(s"__b_$k") === col(s"__a_$k")).reduce(_ && _),
      "full_outer")
    val inB = col(s"__b_${keys.head}").isNotNull
    val inA = col(s"__a_${keys.head}").isNotNull
    val changed = dataCols.map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("op",
        when(!inB, lit(CdcParse.OpUpdate))
          .when(!inA, lit(CdcParse.OpErase))
          .when(changed, lit(CdcParse.OpUpdate))
          .otherwise(lit("noop")))
      .filter(col("op") =!= "noop")
      .select(keys.map(k =>
          coalesce(col(s"__a_$k"), col(s"__b_$k")).as(k)) ++
        dataCols.map(c => when(col("op") =!= CdcParse.OpErase,
          col(s"__a_$c")).as(c)) :+ col("op"): _*)
  }
}
