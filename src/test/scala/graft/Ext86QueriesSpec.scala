package graft

import graft.operators.{Ext86Queries, NearDupGraph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver replays for the round-10 batch 2: CUPED (exact-moment
  * recomputation incl. the variance-reduction identity) and the
  * pivot-sampled effective-diameter reach fractions (exact BFS).
  */
class Ext86QueriesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("cuped: exact-moment replay; adjusted variance never exceeds " +
      "raw; theta is the pooled OLS slope") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), expr("ts div 3600000000000").as("hr"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val xy = ev.groupBy(_._1).map { case (u, rows) =>
      (u, u % 2,
        rows.filter(_._2 < mid).map(_._3).sum,
        rows.filter(_._2 >= mid).map(_._3).sum)
    }.toSeq
    val n = xy.size.toLong
    val sx = xy.map(_._3).sum; val sy = xy.map(_._4).sum
    val sxx = xy.map(t => t._3 * t._3).sum
    val sxy = xy.map(t => t._3 * t._4).sum
    val theta = (n * sxy - sx * sy).toDouble /
      math.max(n * sxx - sx * sx, 1L).toDouble
    val xbar = sx.toDouble / n.toDouble
    val got = Ext86Queries.cuped(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.map(_._1).toSeq === Seq(0L, 1L))
    Seq(0L, 1L).foreach { arm =>
      val a = xy.filter(_._2 == arm)
      val na = a.size.toLong
      val (sxa, sya) = (a.map(_._3).sum, a.map(_._4).sum)
      val (sxxa, syya, sxya) = (a.map(t => t._3 * t._3).sum,
        a.map(t => t._4 * t._4).sum, a.map(t => t._3 * t._4).sum)
      val meanY = sya.toDouble / na.toDouble
      val meanCuped = (sya.toDouble - theta *
        (sxa.toDouble - na.toDouble * xbar)) / na.toDouble
      val varY = syya.toDouble / na - meanY * meanY
      val covA = sxya.toDouble / na -
        (sxa.toDouble / na) * (sya.toDouble / na)
      val varX = sxxa.toDouble / na -
        (sxa.toDouble / na) * (sxa.toDouble / na)
      val varCuped = varY - 2.0 * theta * covA + theta * theta * varX
      val row = got.find(_._1 == arm).get
      assert(row._2 === na)
      assert(row._3 === math.round(theta * 1e6))
      assert(row._4 === math.round(meanY * 1e3))
      assert(row._5 === math.round(meanCuped * 1e3))
      assert(row._6 === math.round(
        (1.0 - varCuped / math.max(varY, 1.0)) * 1e6))
      // per-arm reduction can be MILDLY negative: theta is the
      // POOLED optimum, so an arm whose X-Y covariance differs from
      // pooled can pay a little (measured -2.7% on this weakly-
      // correlated synthetic corpus) — bound it loosely
      assert(row._6 >= -100000L,
        s"variance reduction implausibly negative in arm $arm")
    }
    // the actual CUPED guarantee is POOLED: var(Y - theta X) <=
    // var(Y) when theta is the pooled OLS slope — replay it exactly
    val syy = xy.map(t => t._4 * t._4).sum
    val varYp = syy.toDouble / n - (sy.toDouble / n) * (sy.toDouble / n)
    val covP = sxy.toDouble / n - xbar * (sy.toDouble / n)
    val varXp = sxx.toDouble / n - xbar * xbar
    val varCupedP = varYp - 2.0 * theta * covP + theta * theta * varXp
    assert(varCupedP <= varYp + 1e-9,
      "pooled CUPED variance exceeded raw — theta is not the OLS slope")
  }

  test("eff diameter: an empty near-dup graph yields ZERO rows " +
      "(grouped agg), matching the oracle's GROUP BY depth shape") {
    // controlled corpus of mutually-alien documents: simhash
    // distance far above maxHamming=5, so the pair graph is empty —
    // the degenerate shape where a GLOBAL agg would emit 3 rows of
    // (n_pivots=0, NULL) the DuckDB oracle never produces
    import spark.implicits._
    val dir = tempDir("graft-effdiam")
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "uno dos tres cuatro cinco seis siete ocho nueve"),
      (2L, "zebra quokka wombat numbat dingo bilby kookaburra"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(NearDupGraph.simhashPairs5(spark, dir).isEmpty,
      "fixture must produce an EMPTY pair graph")
    assert(Ext86Queries.effDiameter(spark, dir).isEmpty,
      "empty graph must yield zero depth rows, not a null-filled agg")
  }

  test("krippendorff: exact replay incl. the missing-ratings rule; " +
      "the fixture genuinely exercises both unit sizes") {
    val stop = Set("the", "a", "of", "and", "in", "to", "is")
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase,
        r.getLong(2)))
    val units = docs.flatMap { case (id, txt, nChars) =>
      val toks = "[a-z]+".r.findAllIn(txt).toSeq
      val votes = Seq(
        1L -> (if (nChars >= 200) 1L else 0L),
        2L -> (if (toks.distinct.length * 2 >= toks.length) 1L
          else 0L),
        3L -> (if (toks.count(stop) >= 2) 1L else 0L))
      val kept = votes.filter { case (j, _) => (id + j) % 7 != 0 }
      if (kept.size < 2) None
      else Some((kept.size.toLong, kept.map(_._2).sum))
    }
    val nDot = units.map(_._1).sum
    val nPos = units.map(_._2).sum
    val t = units.map { case (m, n1) =>
      (2 * n1 * (m - n1)) / (m - 1) }.sum
    val doM = t * 1000000L / nDot
    val p1 = nPos * 1000000L / nDot
    val deM = math.max((2 * p1 * (1000000L - p1)) / 1000000L, 1L)
    val a = doM * 1000000L / deM
    val corr = (nDot - 1) * 1000000L / nDot
    val alpha = 1000000L - a * corr / 1000000000000L
    val r = graft.operators.Ext86Queries
      .krippendorff(spark, TestSpark.sfDir).collect()(0)
    assert(r.getLong(0) === units.size.toLong)
    assert(r.getLong(1) === nDot)
    assert(r.getLong(2) === nPos)
    assert(r.getLong(3) === doM)
    assert(r.getLong(4) === deM)
    assert(r.getLong(5) === alpha)
    // the missingness rule must genuinely bite: both m=2 and m=3
    // units exist, and at least one doc lost a rating
    assert(units.exists(_._1 == 2L) && units.exists(_._1 == 3L))
    assert(nDot < 3L * docs.length)
    // per-unit exactness precondition: (2 n1 n0) div (m-1) is exact
    units.foreach { case (m, n1) =>
      assert((2 * n1 * (m - n1)) % (m - 1) === 0L) }
  }

  test("effective diameter: exact BFS reach replay; cumulative reach " +
      "is monotone in depth") {
    val edges = NearDupGraph.simhashPairs5(spark, TestSpark.sfDir)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).distinct
    val adj = edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).toSet }
    val relay = adj.filter(_._2.size <= 64).keySet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val pivots = adj.keys.toSeq
      .sortBy(id => (md5hex(s"btw:$id"), id)).take(8)
    val nNodes = adj.size.toLong
    val perPivot = pivots.map { s =>
      val l1 = adj(s)
      def expand(prev: Set[Long], closer: Set[Long]): Set[Long] =
        prev.filter(relay).flatMap(adj)
          .filterNot(closer).filterNot(_ == s)
      val l2 = expand(l1, l1 + s)
      val l3 = expand(l2, l1 ++ l2 + s)
      Seq(l1.size.toLong, (l1.size + l2.size).toLong,
        (l1.size + l2.size + l3.size).toLong)
    }
    val got = Ext86Queries.effDiameter(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    (0 until 3).foreach { i =>
      val reach = perPivot.map(_(i))
      val row = got(i)
      assert(row._2 === pivots.size.toLong)
      assert(row._3 === nNodes)
      assert(row._4 === reach.sum)
      assert(row._5 ===
        reach.map(_ * 1000000L / (nNodes - 1)).sum / pivots.size)
    }
    // cumulative reach is monotone in depth
    assert(got(0)._5 <= got(1)._5 && got(1)._5 <= got(2)._5)
  }
}
