package graft

import graft.operators.DataQuality
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Data-quality profiling/validation: violation detection on doctored
  * data and the one-pass plan contract.
  */
class DataQualitySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("profile: one scan of lineitem (single Expand, no join)") {
    val df = DataQuality.profileColumns(spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan.toString
    // multi-distinct profiling = exactly one Expand over one scan
    assert("Expand".r.findAllIn(p).length === 1, p)
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("profile reports exact per-column stats on a doctored frame") {
    import spark.implicits._
    // null + duplicate structure with known answers
    val rows = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 1.5, "a"), (2L, null, "b"), (3L, 1.5, null), (4L, 2.0, "a"))
    val df = rows.toDF("k", "v", "s")
    val aggs = df.agg(
      count(lit(1)).as("n"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("v_nulls"),
      countDistinct(col("v")).as("v_nd"),
      countDistinct(col("s")).as("s_nd")).collect()(0)
    assert(aggs.getLong(0) === 4L)
    assert(aggs.getLong(1) === 1L)
    assert(aggs.getLong(2) === 2L) // 1.5, 2.0 — null ignored
    assert(aggs.getLong(3) === 2L) // a, b — null ignored
  }

  test("checks: the five row-predicate checks share ONE lineitem " +
      "scan (3 total: fused + PK groupBy + FK anti-join)") {
    val df = DataQuality.checks(spark, TestSpark.sfDir)
    // identify the lineitem relation by its schema (the plan leaf
    // toString does not expose the file path)
    val liScans = df.queryExecution.optimizedPlan.collectLeaves()
      .count(_.output.exists(_.name == "l_quantity"))
    assert(liScans === 3, s"$liScans lineitem relations")
  }

  test("checks flag injected violations") {
    import spark.implicits._
    val dir = tempDir("dqspec")
    // copy the sf tables, then doctor lineitem: duplicate one PK pair
    // and flip one discount out of range
    val li = spark.read
      .parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    val dup = li.limit(1)
    val bad = li.limit(1)
      .withColumn("l_discount", lit(7.5))
      .withColumn("l_linenumber", lit(999))
    li.unionAll(dup).unionAll(bad).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    for (tname <- Seq("orders", "customer"))
      spark.read.parquet(s"${TestSpark.sfDir}/$tname.parquet")
        .write.mode("overwrite").parquet(s"$dir/$tname.parquet")
    val out = DataQuality.checks(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("lineitem_pk_unique") >= 1L)
    assert(out("lineitem_discount_range") === 1L)
    assert(out("lineitem_quantity_positive") === 0L)
  }

  test("drift: stationary sf events show no drift; an injected " +
      "shift in the current window is flagged on both features") {
    import spark.implicits._
    val calm = DataQuality.drift(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(calm.values.forall(_ == false), calm.toString)

    // 10 days of synthetic events; days 5-9 (the current window)
    // shift value by +5 and flip the event_type mix
    val dayNs = 86400L * 1000 * 1000 * 1000
    val rows = (0 until 4000).map { i =>
      val day = i % 10
      val cur = day >= 5
      val ts = day * dayNs + (i / 10) * 1000000L
      val v = math.sin(i * 13.0) + (if (cur) 5.0 else 0.0)
      val et = if (cur) (if (i % 10 < 8) "click" else "view")
        else (if (i % 10 < 2) "click" else "view")
      (ts, et, v)
    }
    val dir = tempDir("driftspec")
    rows.toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val shifted = DataQuality.drift(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(4),
        r.getBoolean(5)))
    shifted.foreach { case (f, psi, drifted) =>
      assert(drifted, s"$f psi=$psi not flagged")
      assert(psi > 0.1, s"$f psi=$psi")
    }
  }

  test("on the sf tables only the 2-col PK check fails — a real " +
      "property of the synthetic data (the 4-col key IS unique)") {
    val out = DataQuality.checks(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val failing = out.filter(_._2 > 0).keySet
    // the generator reuses (l_orderkey, l_linenumber); every other
    // declared constraint holds — the suite must report exactly that
    assert(failing === Set("lineitem_pk_unique"), out.toString)
  }

  test("k-anonymity lattice: min_k non-decreasing and rows_at_risk " +
      "non-increasing as generalization coarsens; level-0 recount") {
    val rows = DataQuality.kAnonymity(spark, TestSpark.sfDir)
      .orderBy("level").collect()
    assert(rows.length === 3)
    // coarser levels merge groups: anonymity can only improve
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) >= a.getLong(2),
        s"min_k fell ${a.getLong(2)} -> ${b.getLong(2)}")
      assert(b.getLong(4) <= a.getLong(4),
        s"rows_at_risk rose ${a.getLong(4)} -> ${b.getLong(4)}")
    }
    // level-0 driver recount
    val groups = spark.read
      .parquet(s"${TestSpark.sfDir}/customer.parquet")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("b"))
      .collect()
      .groupBy(r => (r.get(0), r.getString(1), r.getLong(2)))
      .map(_._2.length)
    val l0 = rows(0)
    assert(l0.getLong(1) === groups.size.toLong)
    assert(l0.getLong(2) === groups.min.toLong)
    assert(l0.getLong(3) === groups.count(_ < 5).toLong)
    assert(l0.getLong(4) === groups.filter(_ < 5).map(_.toLong).sum)
    assert(l0.getBoolean(5) === (groups.min >= 5))
  }

  test("t-closeness: EMD recomputed from scratch per group; verdicts " +
      "match the threshold") {
    val rows = DataQuality.tCloseness(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    val cust = spark.read
      .parquet(s"${TestSpark.sfDir}/customer.parquet")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("b"))
      .collect()
      .map(r => (r.get(0), r.getString(1), r.getLong(2)))
    val bands = cust.map(_._3).distinct.sorted
    val n = cust.length.toLong
    val globCum = bands.map(b => b -> cust.count(_._3 <= b).toLong).toMap
    val m = bands.length.toLong
    rows.foreach { r =>
      val key = (r.get(0), r.getString(1))
      val grp = cust.filter(c => (c._1, c._2) == key)
      val ng = grp.length.toLong
      assert(r.getLong(2) === ng)
      val diffSum = bands.map { b =>
        val cumG = grp.count(_._3 <= b).toLong
        math.abs(cumG * n - globCum(b) * ng)
      }.sum
      val emd = diffSum * 1000000L / (ng * n * (m - 1))
      assert(r.getLong(3) === emd, s"group $key")
      assert(r.getBoolean(4) === (emd <= 200000L))
      assert(emd >= 0L && emd <= 1000000L)
    }
  }

  test("l-diversity: distinct-sensitive recount per group") {
    val rows = DataQuality.lDiversity(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    val want = spark.read
      .parquet(s"${TestSpark.sfDir}/customer.parquet")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("b"))
      .collect()
      .groupBy(r => (r.get(0), r.getString(1)))
      .map { case (k, rs) =>
        k -> (rs.length.toLong, rs.map(_.getLong(2)).distinct.length.toLong)
      }
    assert(rows.length === want.size)
    rows.foreach { r =>
      val (n, l) = want((r.get(0), r.getString(1)))
      assert(r.getLong(2) === n && r.getLong(3) === l)
      assert(r.getBoolean(4) === (l >= 3))
    }
  }
}
