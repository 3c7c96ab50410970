package graft

import graft.operators.{Ext13Queries, Ext14Queries, Ext82Queries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Ext82QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def lnq(x: Long): Long =
    math.round(math.log(x.toDouble) * 1e6)

  test("piecewise trend: driver Cramer replay matches; BIGINT " +
      "determinant headroom holds through sf1") {
    val days = Tables.t(spark, TestSpark.sfDir, "events")
      .select(
        expr("datediff(timestamp_micros(ts div 1000), date'2024-01-01')")
          .cast("long").as("day"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .groupBy("day").agg(sum("vm").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val xs = days.map { case (d, y) => (d, math.max(d - 15L, 0L), y) }
    val n = xs.length.toLong
    val s1 = xs.map(_._1).sum; val s2 = xs.map(_._2).sum
    val s11 = xs.map(t => t._1 * t._1).sum
    val s12 = xs.map(t => t._1 * t._2).sum
    val s22 = xs.map(t => t._2 * t._2).sum
    val t0 = xs.map(_._3).sum
    val t1 = xs.map(t => t._1 * t._3).sum
    val t2 = xs.map(t => t._2 * t._3).sum
    val det = n * (s11 * s22 - s12 * s12) -
      s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
    val det0 = t0 * (s11 * s22 - s12 * s12) -
      s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)
    val det1 = n * (t1 * s22 - s12 * t2) -
      t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)
    val det2 = n * (s11 * t2 - t1 * s12) -
      s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)
    def micro(num: Long): Long =
      math.round(num.toDouble / det.toDouble * 1e6)
    val r = Ext82Queries.piecewiseTrend(spark, TestSpark.sfDir)
      .collect()(0)
    assert(r.getLong(0) === n)
    assert(r.getLong(1) === 15L)
    assert(r.getLong(2) === micro(det0))
    assert(r.getLong(3) === micro(det1))
    assert(r.getLong(4) === micro(det2))
    // exact-BIGINT precondition: the t-moments (hence det_i) scale
    // linearly with corpus size; sf1 is 1000× this fixture. Require
    // 10× headroom on top of that.
    val worst = Seq(det0, det1, det2).map(math.abs).max
    assert(BigInt(worst) * 10000 < BigInt(Long.MaxValue))
  }

  test("bradley-terry: exact-integer MM replay matches the query") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val duels = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(_._2).sliding(2).collect {
        case Array((_, _, ta, va), (_, _, tb, vb))
            if ta != tb && va != vb =>
          val (a, b) = if (ta < tb) (ta, tb) else (tb, ta)
          (a, b, if (va > vb) ta else tb)
      }
    }.toSeq
    val pairs = duels.groupBy(d => (d._1, d._2)).map {
      case ((a, b), ds) =>
        (a, b, ds.size.toLong, ds.count(_._3 == a).toLong)
    }.toSeq
    val types = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val games = types.map(t => t -> pairs.collect {
      case (a, b, n, _) if a == t || b == t => n
    }.sum).toMap
    val wins = types.map(t => t -> pairs.collect {
      case (a, _, _, w) if a == t => w
      case (_, b, n, w) if b == t => n - w
    }.sum).toMap
    val p1 = types.map(t => t -> 2L * wins(t) * 1000000L / games(t))
      .toMap
    val d = types.map { t =>
      t -> pairs.collect {
        case (a, b, n, _) if a == t || b == t =>
          n * 1000000000000L / math.max(p1(a) + p1(b), 1L)
      }.sum
    }.toMap
    val p2 = types.map(t =>
      t -> wins(t) * 1000000000000L / math.max(d(t), 1L)).toMap
    val got = Ext82Queries.bradleyTerry(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length === types.size)
    got.foreach { case (t, g, w, m1, m2) =>
      assert(g === games(t), s"games($t)")
      assert(w === wins(t), s"wins($t)")
      assert(m1 === p1(t), s"p1($t)")
      assert(m2 === p2(t), s"p2($t)")
    }
    // ordering: p2 desc, type asc
    assert(got.sortBy(r => (-r._5, r._1)).toSeq === got.toSeq)
    // contrib-lattice headroom (r9 ADVICE): contrib = n_ab·1e12 is
    // exact-BIGINT only while n_ab < ~9.2e6 duels per type pair
    // (Spark wraps silently, DuckDB errors — a parity divergence).
    // n_ab scales linearly with events and sf1 is 1000× this
    // fixture; require 10× headroom on top of that, the same
    // discipline as the piecewise-trend determinant audit above.
    val maxNab = pairs.map(_._3).max
    assert(BigInt(maxNab) * 10000 * BigInt(1000000000000L) <
      BigInt(Long.MaxValue),
      s"n_ab·1e12 headroom exhausted: max n_ab=$maxNab")
  }

  test("span IoU: every row is the argmax over the parents' spans " +
      "and the IoU arithmetic is exact on the frame lattice") {
    val shots = Ext14Queries.shotBoundaries(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    val vads = Ext13Queries.vadSpans(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val got = Ext82Queries.spanIou(spark, TestSpark.sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))))
      .toMap
    var checked = 0
    vads.foreach { case (media, ss, se, nVad) =>
      val cands = shots.getOrElse(media, Array.empty).collect {
        case (_, seg, sf, ef, nShot) if ss <= ef && se >= sf =>
          val inter = (math.min(se, ef) - math.max(ss, sf)) / 2 + 1
          (seg, sf, ef, inter * 1000000L / (nShot + nVad - inter))
      }
      if (cands.nonEmpty) {
        val best = cands.minBy(c => (-c._4, c._1))
        val (gse, gseg, gsf, gef, giou) = got((media, ss))
        assert(gse === se)
        assert((gseg, gsf, gef, giou) ===
          (best._1, best._2, best._3, best._4))
        assert(giou > 0 && giou <= 1000000L)
        checked += 1
      } else assert(!got.contains((media, ss)))
    }
    assert(checked > 10)
    assert(got.size === checked)
  }

  test("wordpiece score: driver replay of the likelihood criterion; " +
      "the two rank columns genuinely disagree") {
    val docs = Tables.t(spark, TestSpark.sfDir, "documents")
      .select(lower(col("text")).as("t")).collect()
      .map(_.getString(0))
    val letters = docs.flatMap(_.filter(c => c >= 'a' && c <= 'z'))
    val cc = letters.groupBy(identity).map { case (c, xs) =>
      c.toString -> xs.length.toLong }
    val nChars = cc.values.sum
    val words = docs.flatMap("[a-z]+".r.findAllIn(_)).filter(_.length >= 2)
    val bc = words.flatMap(w => w.sliding(2))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
      .filter(_._2 >= 5)
    val scored = bc.toSeq.map { case (p, cab) =>
      val wp = lnq(cab) + lnq(nChars) -
        lnq(cc(p.substring(0, 1))) - lnq(cc(p.substring(1, 2)))
      (p, cab, wp)
    }
    val wpTop = scored.sortBy(s => (-s._3, s._1)).take(25)
    val bpeRank = scored.sortBy(s => (-s._2, s._1)).zipWithIndex
      .map { case (s, i) => s._1 -> (i + 1) }.toMap
    val got = Ext82Queries.wordpieceScore(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5), r.getInt(6)))
    assert(got.length === math.min(25, scored.length))
    got.zip(wpTop).zipWithIndex.foreach {
      case (((p, cab, ca, cb, wp, wpR, bpeR), (ep, ecab, ewp)), i) =>
        assert(p === ep, s"piece at $i")
        assert(cab === ecab)
        assert(ca === cc(p.substring(0, 1)))
        assert(cb === cc(p.substring(1, 2)))
        assert(wp === ewp)
        assert(wpR === i + 1)
        assert(bpeR === bpeRank(p))
    }
    // the criterion must actually reorder vs BPE on this corpus,
    // else the query demonstrates nothing
    assert(got.exists(r => r._6 !== r._7))
  }

  test("inactivity alarms: terminal runs suppressed; both closure " +
      "paths occur") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events")
      .select(col("user_id"), expr("ts div 1000000").as("ms"),
        (col("event_type") === "purchase").as("terminal"))
    val got = Ext82Queries.inactivityAlarms(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    // a run closed by a later event of the same user, and a run closed
    // only by the final watermark (the user's last event) — else the
    // fixture proves half the closure rule
    val lastByUser = ev.groupBy("user_id").agg(max("ms")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.exists { case (u, ms) => lastByUser(u) == ms },
      "no watermark-closed (trailing) alarm in the fixture")
    assert(got.exists { case (u, ms) => lastByUser(u) != ms },
      "no successor-closed alarm in the fixture")
    // no alarm's last event is a purchase
    val terminal = ev.filter(col("terminal")).select("user_id", "ms")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists(terminal))
  }
}
