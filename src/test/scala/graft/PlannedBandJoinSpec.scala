package graft

import graft.plans.PlannedBandJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The planned (logical node + Strategy + physical merge) band join:
  * inclusive-bound edge cases, asymmetric bands, equality with the
  * bucket-explode composition on the events fixture, and the
  * plan-shape property (no exchange beyond the declared ones) that
  * justifies the operator's existence.
  */
class PlannedBandJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("edge cases: inclusive bounds, asymmetry, key isolation") {
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (2L, 100L, "l3"),
      (3L, 50L, "l4"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 90L, "r90"), (1L, 100L, "r100"),
      (1L, 110L, "r110"), (1L, 131L, "r131"), (2L, 95L, "r95"),
      (2L, 69L, "r69"), (4L, 100L, "r!"))
      .toDF("k", "rt", "pv")
    // band [t-10, t+30]
    val got = PlannedBandJoin.bandJoin(left, right, Seq("k"), "t", "rt",
        before = 10L, after = 30L, payload = Seq("pv"))
      .select("tag", "pv").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("l1", "r90"), // lower bound inclusive: 90 == 100-10
      ("l1", "r100"), ("l1", "r110"),
      // 131 > 130 excluded for l1; l2's band [190,230] matches nothing
      ("l3", "r95") // in [90,130]; r69 below it; r! (key 4) unreachable
    ))
  }

  test("multi-match + duplicate times + self pairs behave exactly") {
    val rows = Seq((1L, 10L, 1L), (1L, 10L, 2L), (1L, 12L, 3L),
      (1L, 40L, 4L)).toDF("k", "t", "id")
    val r = rows.select(col("k"), col("t").as("rt"),
      col("id").as("rid"))
    val got = PlannedBandJoin.bandJoin(rows, r, Seq("k"), "t", "rt",
        before = 2L, after = 2L, payload = Seq("rid"))
      .select("id", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // brute force over the 4 rows
    val all = Seq((1L, 10L), (2L, 10L), (3L, 12L), (4L, 40L))
    val expect = (for {
      (i, ti) <- all; (j, tj) <- all
      if tj >= ti - 2 && tj <= ti + 2
    } yield (i, j)).toSet
    assert(got === expect)
    assert(got.contains((1L, 1L)), "self pair must appear (caller filters)")
  }

  test("planned band == bucket-explode composition on events fixture") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(Tables.eventsTsMicros).as("tsec"))
    val r = ev.select(col("user_id"), col("tsec").as("rtsec"),
      col("event_id").as("rid"))
    val planned = PlannedBandJoin.bandJoin(ev, r, Seq("user_id"),
        "tsec", "rtsec", before = 300L, after = 300L,
        payload = Seq("rid", "rtsec"))
      .filter(col("event_id") < col("rid")) // unordered, no self
      .select(col("user_id"), col("event_id").as("id_a"),
        col("rid").as("id_b"), (col("rtsec") - col("tsec")).as("dt"))
      .collect().map(_.toSeq).toSet
    val composed = graft.operators.RangeJoin.withinInterval(ev,
        Seq("user_id"), "tsec", "event_id", windowSec = 300L)
      .select(col("user_id"), col("id_a"), col("id_b"),
        col("dt_sec").as("dt"))
      .collect().map(_.toSeq).toSet
    assert(planned.nonEmpty)
    assert(planned === composed)
  }

  test("plan uses BandJoinExec; pre-partitioned input adds no exchange") {
    val l = Seq((1L, 10L)).toDF("k", "t")
    val r = Seq((1L, 12L, "x")).toDF("k", "rt", "pv")
    val df = PlannedBandJoin.bandJoin(l, r, Seq("k"), "t", "rt",
      1L, 5L, Seq("pv"))
    assert(df.queryExecution.executedPlan.toString.contains("BandJoin"))
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(Tables.eventsTsMicros).as("tsec"))
    val lp = ev.repartition(4, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("tsec"))
    val rp = ev.select(col("user_id"), col("tsec").as("rtsec"),
        col("event_id").as("rid"))
      .repartition(4, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("rtsec"))
    val pre = PlannedBandJoin.bandJoin(lp, rp, Seq("user_id"),
      "tsec", "rtsec", 300L, 300L, Seq("rid"))
    pre.collect()
    val preStr = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(preStr).length === 2,
      s"expected only the 2 declared shuffles:\n$preStr")
    assert("Sort ".r.findAllIn(preStr).length === 2,
      s"expected only the 2 declared sorts:\n$preStr")
  }

  test("SQL matcher: plain-text interval join plans BandJoinExec, " +
      "flag-off keeps Spark's plan, results identical") {
    org.apache.spark.sql.graftbridge.PlanBridge.install(spark,
      graft.plans.BandJoinStrategy)
    Tables.registerAll(spark, TestSpark.sfDir)
    val sql =
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
        |FROM (SELECT user_id, event_id, ts div 1000000000 AS tsec
        |      FROM events) a
        |JOIN (SELECT user_id, event_id, ts div 1000000000 AS tsec
        |      FROM events) b
        |  ON a.user_id = b.user_id
        |  AND abs(a.tsec - b.tsec) <= 120
        |  AND a.event_id <> b.event_id""".stripMargin
    spark.conf.set(graft.plans.BandJoinStrategy.SqlFlag, "false")
    val off = spark.sql(sql)
    val offPlan = off.queryExecution.executedPlan.toString
    assert(!offPlan.contains("BandJoin"),
      s"flag off must leave Spark's own plan:\n$offPlan")
    val offRows = off.collect().map(_.toSeq).toSet
    spark.conf.set(graft.plans.BandJoinStrategy.SqlFlag, "true")
    try {
      val on = spark.sql(sql)
      val onPlan = on.queryExecution.executedPlan.toString
      assert(onPlan.contains("BandJoin"),
        s"flag on must plan the merge sweep:\n$onPlan")
      assert(!onPlan.contains("BroadcastNestedLoopJoin") &&
        !onPlan.contains("CartesianProduct"))
      val onRows = on.collect().map(_.toSeq).toSet
      assert(onRows === offRows)
      assert(onRows.nonEmpty)
      // explicit two-sided asymmetric bounds also match
      val asym = spark.sql(
        """SELECT a.event_id, b.event_id AS rid
          |FROM (SELECT user_id, event_id, ts div 1000000000 AS t
          |      FROM events) a
          |JOIN (SELECT user_id, event_id, ts div 1000000000 AS t
          |      FROM events) b
          |  ON a.user_id = b.user_id
          |  AND b.t >= a.t - 60 AND b.t <= a.t + 300""".stripMargin)
      assert(asym.queryExecution.executedPlan.toString
        .contains("BandJoin"))
      assert(asym.count() > 0)
    } finally {
      spark.conf.set(graft.plans.BandJoinStrategy.SqlFlag, "false")
    }
  }

  test("left outer: unmatched and null-key left rows emit null " +
      "payload; matched rows equal inner") {
    val left = Seq((Some(1L), 100L, "m"), (Some(1L), 500L, "u"),
      (Some(9L), 100L, "nokey-peer"), (None, 100L, "nullkey"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 95L, "r95"), (2L, 100L, "r!"))
      .toDF("k", "rt", "pv")
    val outer = PlannedBandJoin.bandJoin(left, right, Seq("k"), "t",
        "rt", before = 10L, after = 0L, payload = Seq("pv"),
        leftOuter = true)
      .select("tag", "pv").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(outer === Set(
      ("m", Some("r95")), // in band [90,100]
      ("u", None), // band [490,500] empty
      ("nokey-peer", None), // key 9 has no right rows
      ("nullkey", None))) // null key can never match
    val inner = PlannedBandJoin.bandJoin(left, right, Seq("k"), "t",
        "rt", before = 10L, after = 0L, payload = Seq("pv"))
      .select("tag", "pv").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inner === Set(("m", "r95")))
  }

  test("rejects non-long time columns and negative bounds") {
    val l = Seq((1L, 10)).toDF("k", "t") // Int time
    val r = Seq((1L, 12L, "x")).toDF("k", "rt", "pv")
    intercept[IllegalArgumentException] {
      PlannedBandJoin.bandJoin(l, r, Seq("k"), "t", "rt", 1L, 1L,
        Seq("pv"))
    }
    val l2 = Seq((1L, 10L)).toDF("k", "t")
    intercept[IllegalArgumentException] {
      PlannedBandJoin.bandJoin(l2, r, Seq("k"), "t", "rt", -1L, 1L,
        Seq("pv"))
    }
  }
}
