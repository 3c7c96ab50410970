package graft

import graft.operators.{CdcParse, KeyedMerge}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Merge-action semantics + idempotence (SURVEY.md §7.3, O8/O10). */
class KeyedMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def state: DataFrame = Seq(
    (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)
  ).toDF("id", "name", "v")

  // batch already LWW'd: update id=2, insert id=4, erase id=3
  def batch: DataFrame = Seq(
    (2L, "B", 200L, CdcParse.OpUpdate, 101L),
    (4L, "D", 400L, CdcParse.OpUpdate, 102L),
    (3L, null.asInstanceOf[String], 0L, CdcParse.OpErase, 103L)
  ).toDF("id", "name", "v", "op", "seq")

  def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("upsert: replace matched, insert new, erase removes") {
    val out = KeyedMerge.applyUpsert(state, batch, Seq("id"))
    assert(rows(out) === Set((1L, "a", 10L), (2L, "B", 200L),
      (4L, "D", 400L)))
  }

  test("merge: conditional update, delete, insert, NULL-condition " +
      "keep, unmatched-erase no-op — every MERGE branch") {
    import org.apache.spark.sql.functions.col
    // state: 1..3; batch covers each branch:
    //   id=2 matched, v 200 > 20 -> UPDATE
    //   id=1 matched, v 5 < 10  -> condition false, keep state
    //   id=3 matched erase      -> DELETE
    //   id=4 unmatched update   -> INSERT
    //   id=5 unmatched erase    -> no-op
    //   id=6 unmatched keys-only (null payload) -> INSERT of nulls
    val mBatch = Seq(
      (2L, Option("B"), Option(200L), CdcParse.OpUpdate, 101L),
      (1L, Option("A"), Option(5L), CdcParse.OpUpdate, 102L),
      (3L, Option.empty[String], Option.empty[Long],
        CdcParse.OpErase, 103L),
      (4L, Option("D"), Option(400L), CdcParse.OpUpdate, 104L),
      (5L, Option.empty[String], Option.empty[Long],
        CdcParse.OpErase, 105L),
      (6L, Option.empty[String], Option.empty[Long],
        CdcParse.OpKeysOnly, 106L)
    ).toDF("id", "name", "v", "op", "seq")
    val out = KeyedMerge.applyMerge(state, mBatch, Seq("id"),
      col("_b_v") > col("v"))
    val got = out.select("id", "name", "v").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) Option.empty[Long] else Some(r.getLong(2))))
      .toSet
    assert(got === Set(
      (1L, "a", Some(10L)),    // condition false: state kept
      (2L, "B", Some(200L)),   // conditional update landed
      (4L, "D", Some(400L)),   // insert
      (6L, null, None)))       // keys-only insert, null payload
    // idempotence: re-applying the same LWW batch is a no-op on the
    // merged state (the at-least-once replay contract)
    val again = KeyedMerge.applyMerge(out, mBatch, Seq("id"),
      col("_b_v") > col("v"))
    assert(rowsNullable(again) === rowsNullable(out))
  }

  private def rowsNullable(df: DataFrame): Set[(Long, String, Option[Long])] =
    df.select("id", "name", "v").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) Option.empty[Long] else Some(r.getLong(2))))
      .toSet

  test("agg-view delta maintenance equals recompute over 3 batches") {
    import org.apache.spark.sql.functions._
    val batches = Seq(
      // b1: move id=2 from group b to g1, insert id=4 (g1)
      Seq((2L, Option("g1"), Option(200L), CdcParse.OpUpdate, 101L),
        (4L, Option("g1"), Option(400L), CdcParse.OpUpdate, 102L)),
      // b2: erase id=3 (drops group c entirely), re-update id=2
      Seq((3L, Option.empty[String], Option.empty[Long],
        CdcParse.OpErase, 103L),
        (2L, Option("g2"), Option(250L), CdcParse.OpUpdate, 104L)),
      // b3: keys-only-style nulled payload overwrites id=1
      Seq((1L, Option.empty[String], Option.empty[Long],
        CdcParse.OpKeysOnly, 105L))
    ).map(_.toDF("id", "name", "v", "op", "seq"))

    var st = state
    var agg = st.groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    batches.foreach { b =>
      agg = KeyedMerge.applyAggDelta(agg, st, b, Seq("id"), "name", "v")
        .localCheckpoint() // pin: st mutates beneath the lazy plan
      st = KeyedMerge.applyUpsert(st, b, Seq("id")).localCheckpoint()
    }
    val got = agg.collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("n"),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val want = st.groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v")).collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("n"),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(got === want)
    // and the maintained view saw every transition: group c vanished,
    // null group exists (keys-only overwrite), g2 holds id=2
    assert(!got.exists(_._1 == "c"))
    assert(got.exists(_._1 == null))
    assert(got.contains(("g2", 1L, 250L)))
  }

  test("agg-view replay is exact in every crash window (epoch guard)") {
    import org.apache.spark.sql.functions._
    def agg(df: DataFrame) = df.groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("n"),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val want = rows(agg(KeyedMerge.applyUpsert(state, batch, Seq("id"))))

    val firstPass = KeyedMerge.applyAggDelta(agg(state), state, batch,
      Seq("id"), "name", "v")
    assert(rows(firstPass) === want)

    // WITHOUT the epoch guard, replaying the delta after a crash
    // between the projection replace and the fact apply double-counts
    // (the projection already contains the batch, the fact state does
    // not) — exactly what lastEpoch exists to prevent:
    val doubleCounted = KeyedMerge.applyAggDelta(firstPass, state,
      batch, Seq("id"), "name", "v")
    assert(rows(doubleCounted) !== want)

    // the guard: a replace stamped with the epoch is detected on
    // replay and the delta is skipped, leaving the exact aggregate
    val sink = new graft.sinks.KeyedTableSink(spark,
      java.nio.file.Files.createTempDirectory("agg-epoch").toString,
      Seq("name"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_v",
          org.apache.spark.sql.types.LongType))))
    sink.replace(firstPass, epoch = 7L)
    assert(sink.lastEpoch === Some(7L))
    if (!sink.lastEpoch.contains(7L)) // replay of epoch 7: skipped
      sink.replace(doubleCounted, epoch = 7L)
    assert(rows(sink.load()) === want)

    // a crash AFTER both writes also replays clean: deltas against
    // the post-apply state net to zero even without the guard
    val postState = KeyedMerge.applyUpsert(state, batch, Seq("id"))
    assert(rows(KeyedMerge.applyAggDelta(firstPass, postState, batch,
      Seq("id"), "name", "v")) === want)
  }

  test("property: random batch sequences keep the agg view == recompute") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(1337)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("n"),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    def agg(df: DataFrame) = df.groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    (1 to 3).foreach { trial =>
      var st: DataFrame = Seq.tabulate(8)(i =>
        (i.toLong, Option(s"g${i % 3}"), Option(i * 10L)))
        .toDF("id", "name", "v").localCheckpoint()
      var a: DataFrame = agg(st).localCheckpoint()
      (1 to 4).foreach { _ =>
        // random LWW'd batch: unique keys, random op/group/value/null
        val keys = rnd.shuffle((0L to 11L).toList).take(1 + rnd.nextInt(6))
        val batch = keys.map { k =>
          rnd.nextInt(4) match {
            case 0 => (k, Option.empty[String], Option.empty[Long],
              CdcParse.OpErase, 0L)
            case 1 => (k, Option.empty[String], Option.empty[Long],
              CdcParse.OpKeysOnly, 0L)
            case _ => (k, Option(s"g${rnd.nextInt(4)}"),
              Option(rnd.nextInt(100).toLong), CdcParse.OpUpdate, 0L)
          }
        }.toDF("id", "name", "v", "op", "seq")
        a = KeyedMerge.applyAggDelta(a, st, batch, Seq("id"), "name", "v")
          .localCheckpoint()
        st = KeyedMerge.applyUpsert(st, batch, Seq("id")).localCheckpoint()
        assert(rows(a) === rows(agg(st)),
          s"trial $trial diverged from recompute")
      }
    }
  }

  test("insert: only absent keys added, matched untouched") {
    val out = KeyedMerge.applyInsert(state, batch, Seq("id"))
    assert(rows(out) === Set((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L), (4L, "D", 400L)))
  }

  test("updateOn: only matched keys replaced, no inserts") {
    val out = KeyedMerge.applyUpdateOn(state, batch, Seq("id"))
    assert(rows(out) === Set((1L, "a", 10L), (2L, "B", 200L),
      (3L, "c", 30L)))
  }

  test("deleteFrom: erase keys removed, payload ignored") {
    val out = KeyedMerge.applyDelete(state,
      batch.filter($"op" === CdcParse.OpErase), Seq("id"))
    assert(rows(out) === Set((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("apply twice == apply once (at-least-once replay safety, O10)") {
    val once = KeyedMerge.applyUpsert(state, batch, Seq("id"))
    val twice = KeyedMerge.applyUpsert(once, batch, Seq("id"))
    assert(rows(once) === rows(twice))
  }

  test("lww keeps highest-seq row per key; later erase supersedes") {
    val b = Seq(
      (5L, "old", 1L, CdcParse.OpUpdate, 1L),
      (5L, "new", 2L, CdcParse.OpUpdate, 9L),
      (6L, "x", 3L, CdcParse.OpUpdate, 4L),
      (6L, null.asInstanceOf[String], 0L, CdcParse.OpErase, 8L)
    ).toDF("id", "name", "v", "op", "seq")
    val lww = KeyedMerge.lww(b, Seq("id"), "seq")
    val got = lww.select("id", "op", "name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((5L, CdcParse.OpUpdate, "new"),
      (6L, CdcParse.OpErase, null)))
  }
}
