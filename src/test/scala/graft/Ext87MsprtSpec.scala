package graft

import graft.operators.Ext87Queries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver replay for the mixture-SPRT monitor: exact recomputation of
  * every day row from raw events (same double expression, same single
  * micro quantization), plus the always-valid contract — the running
  * −ln p is monotone non-decreasing — and a controlled shifted-arm
  * fixture where the evidence must actually accumulate.
  */
class Ext87MsprtSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def lnlamMicro(n0: Long, s0: Long, q0: Long,
      n1: Long, s1: Long, q1: Long): Long = {
    val delta = s1.toDouble / n1.toDouble - s0.toDouble / n0.toDouble
    val sig2 = math.max(
      ((q0.toDouble - s0.toDouble * s0.toDouble / n0.toDouble)
        + (q1.toDouble - s1.toDouble * s1.toDouble / n1.toDouble))
        / (n0 + n1 - 2).toDouble, 1e-9)
    val v = sig2 * (1.0 / n0.toDouble + 1.0 / n1.toDouble)
    math.round((0.5 * math.log(v / (v + 1.0))
      + delta * delta / (2.0 * v * (v + 1.0))) * 1e6)
  }

  test("msprt: exact per-day replay from raw events; -ln p is " +
      "monotone (always-valid peeking contract)") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(expr("ts div 86400000000000").as("day"),
        (col("user_id") % 2).as("arm"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDay = ev.groupBy(_._1).toSeq.sortBy(_._1)
    var (n0, s0, q0, n1, s1, q1) = (0L, 0L, 0L, 0L, 0L, 0L)
    val expect = byDay.flatMap { case (day, rows) =>
      rows.foreach { case (_, arm, vm) =>
        if (arm == 0) { n0 += 1; s0 += vm; q0 += vm * vm }
        else { n1 += 1; s1 += vm; q1 += vm * vm }
      }
      if (n0 >= 2 && n1 >= 2)
        Some((day, n0, n1, lnlamMicro(n0, s0, q0, n1, s1, q1)))
      else None
    }
    val got = Ext87Queries.msprt(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length === expect.length)
    got.zip(expect).foreach { case ((d, a0, a1, ll, _), (ed, e0, e1, ell)) =>
      assert(d === ed); assert(a0 === e0); assert(a1 === e1)
      assert(ll === ell, s"day $d: lnlam $ll != replay $ell")
    }
    // always-valid contract: nlp never decreases and never dips
    // below 0, and equals the running max of lnlam floored at 0
    var runMax = 0L
    got.foreach { case (d, _, _, ll, nlp) =>
      runMax = math.max(runMax, ll)
      assert(nlp === math.max(0L, runMax),
        s"day $d: nlp $nlp != running max")
    }
    assert(got.nonEmpty, "dead fixture: no day reached n>=2 per arm")
  }

  test("power_mde: exact per-day replay; MDE shrinks as the " +
      "experiment accumulates users (1/sqrt(n) law on this corpus)") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(expr("ts div 86400000000000").as("day"),
        (col("user_id") % 2).as("arm"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDay = ev.groupBy(_._1).toSeq.sortBy(_._1)
    var (n0, s0, q0, n1, s1, q1) = (0L, 0L, 0L, 0L, 0L, 0L)
    val expect = byDay.flatMap { case (day, rows) =>
      rows.foreach { case (_, arm, vm) =>
        if (arm == 0) { n0 += 1; s0 += vm; q0 += vm * vm }
        else { n1 += 1; s1 += vm; q1 += vm * vm }
      }
      if (n0 >= 2 && n1 >= 2) {
        val sig2 = math.max(
          ((q0.toDouble - s0.toDouble * s0.toDouble / n0.toDouble)
            + (q1.toDouble - s1.toDouble * s1.toDouble / n1.toDouble))
            / (n0 + n1 - 2).toDouble, 1e-9)
        val mde = math.round(2.801585 * math.sqrt(
          sig2 * (1.0 / n0.toDouble + 1.0 / n1.toDouble)) * 1e6)
        Some((day, n0, n1, math.round(sig2 * 1e6), mde))
      } else None
    }
    val got = operators.Ext87Queries.powerMde(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expect)
    assert(got.nonEmpty && got.forall(_._5 > 0L))
    assert(got.last._5 < got.head._5,
      "MDE should shrink as users accumulate on a stationary corpus")
  }

  test("srm: chi-square replay; a broken 90/10 assignment flags, " +
      "the balanced corpus does not") {
    import spark.implicits._
    val dayNs = 86400000000000L
    // broken assignment: 90% of users land in arm 0
    val rows = (0 until 1000).map { i =>
      val uid = if (i % 10 == 0) 1L + 2 * i else 2L * i // 10% odd
      (uid, (i % 10).toLong * dayNs + 3600000000000L, 0.1 + i % 3)
    }
    val dir = tempDir("srm-broken")
    rows.toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val broken = operators.Ext87Queries.srm(spark, dir).collect()
    assert(broken.last.getInt(4) === 1,
      "a 90/10 split must flag sample-ratio mismatch")
    // user-level replay of the final row: 900 even / 100 odd users
    assert((broken.last.getLong(1), broken.last.getLong(2))
      === ((900L, 100L)))
    val (u0, u1) = (broken.last.getLong(1), broken.last.getLong(2))
    val want = math.round((u0 - u1).toDouble * (u0 - u1).toDouble
      / (u0 + u1).toDouble * 1e6)
    assert(broken.last.getLong(3) === want)
    // the real corpus's user_id % 2 split is fair at the USER level
    // and must NOT flag — even though its EVENT-level counts flag
    // χ²=15 under heavy-user skew (the false alarm the
    // randomization-unit definition exists to avoid)
    val real = operators.Ext87Queries.srm(spark, TestSpark.sfDir)
      .collect()
    assert(real.nonEmpty && real.last.getInt(4) === 0,
      "balanced corpus flagged SRM — critical value misapplied")
  }

  test("a genuine effect accumulates evidence: shifted arm drives " +
      "nlp up; a null corpus stays near zero") {
    import spark.implicits._
    val dayNs = 86400000000000L
    def mk(shift: Long) = (0 until 400).map { i =>
      val day = i % 20
      val arm = i % 2
      val vm = 100L + (i % 7) + (if (arm == 1) shift else 0L)
      // value = vm / 1000 survives round(value*1000) exactly
      (i.toLong, day * dayNs + (i % 24) * 3600000000000L,
        vm.toDouble / 1000.0)
    }
    val dirA = tempDir("msprt-eff")
    mk(50L).toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$dirA/events.parquet")
    val dirB = tempDir("msprt-null")
    mk(0L).toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(s"$dirB/events.parquet")
    val eff = Ext87Queries.msprt(spark, dirA).collect()
    val nul = Ext87Queries.msprt(spark, dirB).collect()
    val effFinal = eff.last.getLong(4)
    val nulFinal = nul.last.getLong(4)
    assert(effFinal > 2996000L, // -ln p > ln(20) => p < 0.05
      s"shifted arm should reject: nlp=$effFinal")
    assert(nulFinal < effFinal / 10,
      s"null corpus accumulated spurious evidence: $nulFinal")
  }
}
