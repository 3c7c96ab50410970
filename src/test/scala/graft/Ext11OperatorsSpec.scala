package graft

import graft.operators.Ext11Queries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 batch 4 invariants the hash-compare cannot see: the
  * evaluation metrics are internally consistent (kappa vs PRF built
  * from the same confusion matrix), the EWMA matches a from-scratch
  * driver replay, recall is a true set-overlap ratio, and temperature
  * scaling actually flattens the mixture.
  */
class Ext11OperatorsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("kappa aggregates are consistent with the per-class PRF table") {
    val prf = Ext11Queries.langidPrf(spark, TestSpark.sfDir).collect()
    val k = Ext11Queries.cohenKappa(spark, TestSpark.sfDir).head()
    val nTotal = prf.map(_.getLong(1)).sum  // sum of n_true over classes
    val nAgree = prf.map(_.getLong(3)).sum  // sum of tp over classes
    assert(k.getLong(0) === nTotal)
    assert(k.getLong(1) === nAgree)
    // po is the micro-accuracy of the same matrix
    assert(k.getLong(2) === nAgree * 1000000L / nTotal)
    // kappa <= po (pe >= 0), and within the [-1e6, 1e6] lattice range
    assert(k.getLong(4) <= k.getLong(2))
    assert(math.abs(k.getLong(4)) <= 1000000L)
    // predictions partition the corpus too
    assert(prf.map(_.getLong(2)).sum === nTotal)
  }

  test("prf nulls appear exactly where a margin is empty") {
    Ext11Queries.langidPrf(spark, TestSpark.sfDir).collect().foreach {
      r =>
        assert(r.isNullAt(4) === (r.getLong(2) == 0L), r.getString(0))
        assert(r.isNullAt(5) === (r.getLong(1) == 0L), r.getString(0))
        // f1 defined whenever either margin is non-empty
        assert(r.isNullAt(6) ===
          (r.getLong(1) + r.getLong(2) == 0L), r.getString(0))
    }
  }

  test("ewma matches a from-scratch driver replay") {
    val out = Ext11Queries.ewma(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val ev = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
      .select(col("user_id"), col("event_id"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.size === ev.length)
    ev.groupBy(_._1).foreach { case (uid, rows) =>
      val ordered = rows.sortBy(_._2)
      ordered.indices.foreach { i =>
        val lags = (0 to 7).flatMap { j =>
          if (i - j >= 0) Some((ordered(i - j)._3, 1L << (7 - j)))
          else None
        }
        val num = lags.map { case (v, w) => v * w }.sum
        val den = lags.map(_._2).sum
        val expected = num * 1000000L / den
        val (vm, got) = out((uid, ordered(i)._2))
        assert(vm === ordered(i)._3)
        assert(got === expected, s"user $uid row $i")
      }
    }
  }

  test("first event per user has ewma == its own value") {
    val firsts = Ext11Queries.ewma(spark, TestSpark.sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")))
      .filter(col("rn") === 1).collect()
    assert(firsts.nonEmpty)
    firsts.foreach(r =>
      assert(r.getLong(3) === r.getLong(2) * 1000000L))
  }

  test("ann recall is the true overlap ratio and ann never exceeds k") {
    val rows = Ext11Queries.annRecall(spark, TestSpark.sfDir).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val (nTrue, nAnn, nHit) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTrue === 10L)
      assert(nAnn <= 10L && nHit <= nAnn)
      assert(r.getLong(4) === nHit * 1000000L / nTrue)
    }
    // LSH candidates within the query's own bucket must appear in the
    // exact truth when the bucket holds few vectors — sanity: at least
    // one query finds at least one true neighbour on this fixture
    assert(rows.map(_.getLong(3)).sum > 0L)
  }

  test("ann hits are a genuine subset: replay one query exactly") {
    import graft.operators.Similarity
    val emb = spark.read
      .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 8)
    val truth = Similarity
      .cosineTopK(emb, qs, "vec_id", "embedding", k = 10)
      .filter(col("q_id") === 0).collect().map(_.getLong(1)).toSet
    val ann = Similarity
      .lshTopK(emb, qs, "vec_id", "embedding", k = 10, planes = 6,
        dims = 64)
      .filter(col("q_id") === 0).collect().map(_.getLong(1)).toSet
    val reported = Ext11Queries.annRecall(spark, TestSpark.sfDir)
      .filter(col("q_id") === 0).head().getLong(3)
    assert(reported === ann.intersect(truth).size.toLong)
  }

  test("phash groups: replay the fingerprint for every keeper") {
    val groups = Ext11Queries.mmPhashDups(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(groups.nonEmpty)
    assert(groups.forall(_._2 > 1L), "every group has >1 member")
    val textOf = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def phashOf(text: String): Long = {
      val bytes = text.getBytes("UTF-8")
      val hist = new Array[Long](60)
      bytes.foreach(b => hist(java.lang.Byte.toUnsignedInt(b) % 60) += 1)
      (0 until 60).map(b =>
        if (60L * hist(b) > bytes.length) 1L << b else 0L).sum
    }
    groups.foreach { case (ph, _, keepId) =>
      assert(phashOf(textOf(keepId)) === ph, s"keeper $keepId")
    }
    // groups are disjoint by construction; member mass fits the corpus
    assert(groups.map(_._2).sum <= textOf.size.toLong)
  }

  test("minhash calibration: exact dups estimate exactly, error is " +
      "consistent") {
    val rows = Ext11Queries.minhashErr(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (agree, est, j, err) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(agree >= 4L && agree <= 16L) // band collision => >=4 seeds
      assert(est === agree * 1000000L / 16L)
      assert(err === math.abs(est - j))
      assert(j >= 0L && j <= 1000000L)
    }
  }

  test("minhash calibration: an exact dup agrees 16/16 with zero " +
      "error (controlled fixture)") {
    // no driver fixture contains byte-identical documents, so the
    // deterministic direction (J=1 => identical signatures) needs a
    // controlled corpus: two identical docs + one overlapping decoy
    import spark.implicits._
    val dir = tempDir("graft-mh")
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta other words here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Ext11Queries.minhashErr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    val (agree, j, err) = rows((0L, 1L))
    assert(agree === 16L)
    assert(j === 1000000L)
    assert(err === 0L)
  }

  test("freshness: watermark row is fresh, verdicts match thresholds") {
    val rows = Ext11Queries.freshness(spark, TestSpark.sfDir).collect()
    assert(rows.map(_.getLong(3)).count(_ == 0L) >= 1,
      "some type carries the corpus watermark")
    rows.foreach { r =>
      val (lag, verdict) = (r.getLong(3), r.getString(4))
      val expected =
        if (lag < 3600L * 1000000L) "fresh"
        else if (lag < 24L * 3600L * 1000000L) "lagging"
        else "stale"
      assert(verdict === expected, r.getString(0))
    }
  }

  test("linear resample: anchors exact, gap rows between neighbours") {
    val rows = Ext11Queries.resampleLinear(spark, TestSpark.sfDir)
      .collect()
    assert(rows.nonEmpty)
    // recompute hourly anchors from raw events (via Tables.t so the
    // ts-as-nanos-long contract holds regardless of parquet encoding)
    val anchors = graft.Tables.t(spark, TestSpark.sfDir, "events")
      .filter(col("user_id") % 10 === 1)
      .select(col("user_id"),
        date_trunc("hour", graft.Tables.eventsTsMicros).as("hr"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .groupBy("user_id", "hr").agg(max("vm").as("vm_hr"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(2))
      .toMap
    var gapChecked = 0
    rows.groupBy(_.getLong(0)).foreach { case (uid, urows) =>
      val ordered = urows.sortBy(_.getTimestamp(1).getTime)
      ordered.foreach { r =>
        val key = (uid, r.getTimestamp(1))
        if (r.getLong(2) > 0L)
          assert(r.getLong(3) === anchors(key), s"anchor $key")
      }
      // every gap value lies within [min, max] of surrounding anchors
      val vs = ordered.map(r =>
        (r.getLong(2) > 0L, r.getLong(3)))
      vs.indices.filter(i => !vs(i)._1).foreach { i =>
        val prev = (i - 1 to 0 by -1).find(j => vs(j)._1).map(vs(_)._2)
        val next = (i + 1 until vs.length).find(j => vs(j)._1)
          .map(vs(_)._2)
        (prev, next) match {
          case (Some(p), Some(n2)) =>
            val lo = math.min(p, n2); val hi = math.max(p, n2)
            assert(vs(i)._2 >= lo && vs(i)._2 <= hi, s"user $uid gap $i")
            gapChecked += 1
          case _ => fail(s"gap row outside anchor span: user $uid")
        }
      }
    }
    assert(gapChecked > 0, "fixture must actually contain gaps")
  }

  test("rrf fusion equals recombining the two retrieval legs") {
    import graft.operators.{Ext6Queries, Similarity}
    val sparse = Ext6Queries.bm25TopK(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(1) -> r.getInt(0).toLong).toMap
    val emb = spark.read
      .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val dense = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 20)
      .collect().map(r => r.getLong(1) -> r.getInt(3).toLong).toMap
    val fused = Ext11Queries.rrfFusion(spark, TestSpark.sfDir).collect()
    assert(fused.map(_.getLong(1)).toSet ===
      sparse.keySet ++ dense.keySet)
    fused.foreach { r =>
      val doc = r.getLong(1)
      val expected =
        sparse.get(doc).map(rk => 1000000L / (60L + rk)).getOrElse(0L) +
          dense.get(doc).map(rk => 1000000L / (60L + rk)).getOrElse(0L)
      assert(r.getLong(4) === expected, s"doc $doc")
    }
    // ranks are a permutation of 1..n
    assert(fused.map(_.getLong(0)).sorted.toSeq ===
      (1L to fused.length.toLong))
  }

  test("matryoshka overlap equals recombining full and truncated " +
      "rankings") {
    import graft.operators.Similarity
    val emb = spark.read
      .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    def topSets(e: org.apache.spark.sql.DataFrame) =
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 8), "vec_id",
          "embedding", k = 10)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val full = topSets(emb)
    val trunc = topSets(emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding")))
    val got = Ext11Queries.matryoshkaOverlap(spark, TestSpark.sfDir)
      .collect()
    assert(got.length === 8)
    got.foreach { r =>
      val q = r.getLong(0)
      val expected = full(q).intersect(trunc(q)).size.toLong
      assert(r.getLong(3) === expected, s"q=$q")
      assert(r.getLong(4) === expected * 1000000L / r.getLong(1))
    }
    // truncation must lose SOMETHING on this fixture (else the test
    // is vacuous) while keeping most of the ranking
    val overlaps = got.map(_.getLong(3))
    assert(overlaps.exists(_ < 10L))
    assert(overlaps.sum > 0L)
  }

  test("vocab coverage matches a driver recount and grows with k") {
    val got = Ext11Queries.vocabCoverage(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val freq = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .map(_.toLowerCase)
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val total = freq.values.sum
    val ordered = freq.toSeq.sortBy { case (t, c) => (-c, t) }
    Seq(100, 1000).foreach { k =>
      val top = ordered.take(k)
      val (nTypes, covered, tot, micro) = got(k.toLong)
      assert(nTypes === top.length.toLong)
      assert(covered === top.map(_._2).sum)
      assert(tot === total)
      assert(micro === covered * 1000000L / total)
    }
    assert(got(1000L)._4 >= got(100L)._4)
  }

  test("rising streaks match a per-customer driver replay") {
    val got = Ext11Queries.risingStreaks(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val orders = spark.read
      .parquet(s"${TestSpark.sfDir}/orders.parquet")
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1)
          .toEpochSecond(java.time.ZoneOffset.UTC),
        r.getLong(2), r.getDouble(3)))
    assert(got.size === orders.map(_._1).distinct.length)
    orders.groupBy(_._1).foreach { case (cust, rows) =>
      val prices = rows.sortBy(r => (r._2, r._3)).map(_._4)
      var best = 0; var run = 0
      prices.sliding(2).foreach {
        case Array(a, b) =>
          run = if (b > a) run + 1 else 0
          best = math.max(best, run)
        case _ =>
      }
      val (n, longest) = got(cust)
      assert(n === prices.length.toLong, s"cust $cust")
      assert(longest === best.toLong, s"cust $cust")
    }
  }

  test("rfm scores: ntile replay and segment concatenation") {
    val rows = Ext11Queries.rfmScores(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    // NTILE(5): first (n mod 5) buckets get ceil(n/5) members
    def ntileOf(rank0: Int): Long = {
      val base = n / 5; val extra = n % 5
      val cut = extra * (base + 1)
      if (rank0 < cut) (rank0 / (base + 1) + 1).toLong
      else (extra + (rank0 - cut) / base + 1).toLong
    }
    def replay(key: org.apache.spark.sql.Row => (Long, Long))
        : Map[Long, Long] = {
      rows.sortBy { r => val (m, u) = key(r); (-m, u) }
        .zipWithIndex
        .map { case (r, i) => r.getLong(0) -> ntileOf(i) }.toMap
    }
    val rRep = replay(r => (r.getLong(1), r.getLong(0)))
    val fRep = replay(r => (r.getLong(2), r.getLong(0)))
    val mRep = replay(r => (r.getLong(3), r.getLong(0)))
    rows.foreach { r =>
      val u = r.getLong(0)
      assert(r.getLong(4) === rRep(u), s"r_score user $u")
      assert(r.getLong(5) === fRep(u), s"f_score user $u")
      assert(r.getLong(6) === mRep(u), s"m_score user $u")
      assert(r.getString(7) ===
        s"${r.getLong(4)}${r.getLong(5)}${r.getLong(6)}")
    }
    // quintiles are balanced within one member
    val sizes = rows.groupBy(_.getLong(4)).values.map(_.size)
    assert(sizes.max - sizes.min <= 1)
  }

  test("jaccard neighbors: top-50 equals an all-pairs driver replay") {
    val got = Ext11Queries.jaccardNeighbors(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val edges = spark.read
      .parquet(s"${TestSpark.sfDir}/orders.parquet")
      .join(spark.read
        .parquet(s"${TestSpark.sfDir}/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySupp = edges.groupBy(_._2).map { case (s, es) =>
      s -> es.map(_._1).toSet }
    val supps = bySupp.keys.toSeq.sorted
    val want = (for {
      i <- supps.indices; j <- (i + 1) until supps.length
      a = supps(i); b = supps(j)
      common = bySupp(a).intersect(bySupp(b)).size.toLong
      if common > 0
      jm = common * 1000000L /
        (bySupp(a).size + bySupp(b).size - common)
    } yield (a, b, common, jm))
      .sortBy { case (a, b, _, jm) => (-jm, a, b) }
      .take(50)
    assert(got === want)
    assert(want.nonEmpty, "fixture must produce at least one pair")
  }

  test("jaccard neighbors: maxCustDeg=72 hub cut is inert at the " +
      "oracle SF (sf0.01)") {
    // The wedge prune (Ext11Queries.jaccardNeighbors) may only ever
    // fire at production scale: if this fixture's max customer degree
    // crosses 72, the DuckDB oracle (which has no cap) would start
    // hash-mismatching with no obvious cause — fail HERE instead,
    // with the reason in the name. Measured: 10 at sf0.001, 67 at
    // sf0.01, 102 at sf0.1/sf1 (uniform, not hub-skewed).
    val maxDeg = spark.read
      .parquet("/root/testdata/sf0.01/orders.parquet")
      .join(spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
      .groupBy("c").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= 72,
      s"oracle-SF max customer degree $maxDeg crossed the hub cut")
  }

  test("frame energy: replay from document bytes") {
    val got = Ext11Queries.energyFrames(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(got.nonEmpty)
    val docs = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
    var checked = 0
    docs.take(30).foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val nFrames = math.max(math.ceil(text.length / 64.0).toInt, 1)
      (0 until nFrames by 2).foreach { f =>
        val fs = text.slice(f * 64, math.min(f * 64 + 64, text.length))
        val energy = fs.map(ch => (ch.toInt - 32L) * (ch.toInt - 32L))
          .sum
        val (e, a) = got((id, f.toLong))
        assert(e === energy, s"doc $id frame $f")
        assert(a === (energy > 64L * 1500L))
        checked += 1
      }
    }
    assert(checked > 10)
  }

  test("temperature scaling flattens the mixture but keeps order") {
    val rows = Ext11Queries.mixTemperature(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4)))
    // weights normalize on the lattice (integer div truncation loses
    // at most 1 micro per source)
    val wSum = rows.map(_._4).sum
    assert(wSum <= 1000000L && wSum >= 1000000L - rows.length)
    // same n_docs => same weight; larger n_docs => larger-or-equal w
    val sorted = rows.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._4, s"${a._1} vs ${b._1}")
      case _ =>
    }
    // flattening: the biggest source loses share, the smallest gains
    val (big, small) =
      (sorted.last, sorted.head)
    assert(big._4 <= big._3, "max source must not gain share")
    assert(small._4 >= small._3, "min source must not lose share")
    // a strict flattening must occur somewhere unless already uniform
    if (rows.map(_._2).distinct.length > 1)
      assert(big._4 < big._3 || small._4 > small._3)
  }
}
