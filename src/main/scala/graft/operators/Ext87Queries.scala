package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 batch (the round-10 triage corners):
  *
  *  - `ts_hurst`: rescaled-range (R/S) analysis of the hourly event
  *    series — mean R/S per dyadic window size and the Hurst
  *    exponent as the log2–log2 regression slope. H ≈ 0.5 is a
  *    memoryless series; H > 0.5 flags long-range dependence, the
  *    signal that decides whether a traffic forecaster can assume
  *    i.i.d. noise. Completes the self-similarity corner of the
  *    Box–Jenkins kit (acf / pacf / Ljung–Box / spectral / this).
  *  - `graph_core_decomposition`: the FULL coreness vector of the
  *    near-dup graph via iterated neighborhood h-index (Lü et al.,
  *    Nature Comm. 2016: c⁰ = degree, cᵗ⁺¹(v) = H{cᵗ(u) : u∼v}
  *    converges to coreness from above) — generalizes the fixed-k
  *    `graph_kcore` peel to every k at once, one ranked window per
  *    iteration instead of a per-k peel loop.
  *  - `sim_ann_opq`: rotated product quantization — the OPQ family's
  *    deterministic instance: a Walsh–Hadamard rotation (entries
  *    ±1/√64, exactly orthonormal, the OPQ paper's structured-
  *    rotation baseline) decorrelates coordinates across the 16-dim
  *    PQ subspaces, then the `sim_ann_pq` codebook-fit/ADC contract
  *    runs in the rotated space — re-derived in PURE INTEGER
  *    arithmetic on the rotation's output lattice, so both engines'
  *    results are summation-order-free by construction.
  */
object Ext87Queries {

  // ---------------------------------------------------------------
  // ts_hurst
  // ---------------------------------------------------------------

  /** Rescaled-range Hurst estimate over the gap-filled hourly count
    * series (shared spine with ts_ljung_box/ts_pacf). For each
    * dyadic window size w ∈ {8,16,32,64}: split the series into
    * ⌊n/w⌋ full blocks; per block, the cumulative-deviation range is
    * computed w-RESCALED so it stays an exact BIGINT
    * (w·Yₜ = w·cumₜ − t·S, so R' = max−min = w·R), and the
    * block's R/S = R' / √(w·sxx − S²) — numerator and the radicand
    * both exact integers, one IEEE sqrt+divide per block, quantized
    * ONCE to the micro lattice. Mean R/S per window is an integer
    * floor-mean; log2 of it is the single data-dependent log,
    * quantized once (ln-once pattern); the x-axis log2(w) ∈
    * {3,4,5,6} is data-independent integers. H = OLS slope of
    * log2(R/S) on log2(w), closed-form over the 4-row lattice.
    *
    * Degenerate guards: an all-constant block has R' = 0 and
    * radicand 0 → greatest(·,1) pins R/S to 0; an all-constant
    * SERIES has mean R/S 0 → greatest(mean,1) pins the log argument
    * (both engines land on the same lattice point instead of
    * NULL-vs-CAST(-inf) divergence).
    *
    * 100 TB shape: the corpus collapses to the |hours|-bounded spine
    * first (one keyed count); blocks/window stats are keyed
    * aggregates over that bounded table; the regression is a 4-row
    * collapse. Headroom: cumₜ ≤ w·max_cnt so w·cumₜ ≤ 64²·max_cnt —
    * BIGINT-safe for any per-hour count below ~2×10¹⁵.
    */
  def hurst(spark: SparkSession, dir: String): DataFrame = {
    val series = Ext84Queries.hourlySeries(spark, dir)
      // bounded-domain global window (≤ |hours| rows, the ts_*
      // convention): 0-based position in the hour spine
      .withColumn("tpos",
        row_number().over(Window.orderBy("hr")).cast("long") - 1)
      .cache()
    val nTot = series.agg(count(lit(1)).as("total"))
    val wins = Seq(8, 16, 32, 64)
    // Round 13 (guide §1.2/§2.4): the four per-window branches each
    // re-ran the crossJoin→filter→window→agg chain over the SAME
    // bounded spine and were unioned (27 jobs, ~5 s of codegen for a
    // 4-row result). One keyed pass instead: explode the 4-row window
    // spine over the (|hours|-bounded) series and key every aggregate
    // by (win, blk). Every tested SF has >= 531 hours, so every
    // window size has full blocks and groupBy(win) emits exactly the
    // rows the old per-branch global aggregates did.
    val perWin = series.crossJoin(broadcast(nTot))
      .select(col("tpos"), col("cnt"), col("total"),
        explode(lit(wins.map(_.toLong).toArray)).as("win"))
      .filter(expr("tpos div win < total div win")) // full blocks only
      .select(col("win"), expr("tpos div win").as("blk"),
        (expr("tpos % win") + 1).as("tt"), col("cnt"))
      .transform { blk0 =>
        val blk = blk0.cache() // cum window + stats share one pass
        val cum = blk.withColumn("cumv", sum("cnt").over(
          Window.partitionBy("win", "blk").orderBy("tt")))
        val stats = blk.groupBy("win", "blk")
          .agg(sum("cnt").as("s"), sum(expr("cnt * cnt")).as("sxx"))
        cum.join(stats, Seq("win", "blk"))
          .withColumn("dev", expr("win * cumv - tt * s"))
          .groupBy("win", "blk", "sxx", "s")
          .agg((max("dev") - min("dev")).as("rp"))
          .withColumn("rs_micro", expr(
            "cast(round(cast(rp as double)" +
              " / sqrt(cast(greatest(win * sxx - s * s, 1) as double))" +
              " * 1e6) as bigint)"))
          .groupBy("win")
          .agg(count(lit(1)).as("n_blocks"),
            expr("sum(rs_micro) div count(1)").as("mean_rs_micro"))
      }
      // the one data-dependent log, quantized once; x = log2(win) is
      // plan-time exact
      .withColumn("log2_rs_micro", expr(
        "cast(round(ln(cast(greatest(mean_rs_micro, 1) as double)" +
          " / 1e6) / ln(2.0d) * 1e6) as bigint)"))
      .withColumn("lx", expr(
        "cast(round(ln(cast(win as double)) / ln(2.0d)) as bigint)"))
    val reg = perWin.agg(count(lit(1)).as("n"), sum("lx").as("sx"),
      sum("log2_rs_micro").as("sy"),
      sum(expr("lx * lx")).as("sxx"),
      sum(expr("lx * log2_rs_micro")).as("sxy"))
    perWin.crossJoin(broadcast(reg))
      // slope in micro-y per unit log2(w) IS the Hurst micro value;
      // sums are 4-term and tiny, the double cast is for the division
      .withColumn("hurst_micro", expr(
        "cast(round(cast(n * sxy - sx * sy as double)" +
          " / cast(greatest(n * sxx - sx * sx, 1) as double))" +
          " as bigint)"))
      .select("win", "n_blocks", "mean_rs_micro", "log2_rs_micro",
        "hurst_micro")
      .orderBy("win")
  }

  // ---------------------------------------------------------------
  // graph_core_decomposition
  // ---------------------------------------------------------------

  /** How many h-index iterations both engines run (fixed and
    * identical on both sides, so hash parity is STRUCTURAL whether
    * or not the fixpoint has been reached; Ext87QueriesSpec asserts
    * actual convergence by matching a classic min-degree peel on the
    * driver corpus, and the sf1 scale probe rides the same fixed
    * count).
    */
  private[operators] val CoreIters = 8

  /** Coreness per node of the simhash near-dup graph by iterated
    * neighborhood h-index: c⁰(v) = deg(v); cᵗ⁺¹(v) = the largest h
    * such that ≥ h neighbors have cᵗ ≥ h (the h-index of the
    * neighbor values, = maxᵣ min(r, vᵣ) over the values sorted
    * descending). The sequence is monotone non-increasing and
    * converges to coreness (Lü et al. 2016); unlike the per-k peel
    * (`graph_kcore`, Ext13Queries.scala:233) one pass computes EVERY
    * node's core number, and each iteration is one ranked window
    * over the edge list — no per-k loop, no deletion fixpoint.
    *
    * 100 TB shape: per iteration one keyed shuffle of the edge list
    * (partition by node, sort neighbor values) — R·|E| total work,
    * the same shape as R rounds of label propagation; per-round
    * cache() so the lineage never re-evaluates (the kcore lesson).
    * The h-index cap means per-node state is one long regardless of
    * degree.
    */
  def coreDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val pairs = NearDupGraph.simhashPairs5(spark, dir)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct().cache()
    val deg = edges.groupBy("u").agg(count(lit(1)).as("val")).cache()
    var cur = deg
    var prev = deg
    for (_ <- 1 to CoreIters) {
      prev = cur
      // neighbor values of u = cur value of each v adjacent to u;
      // h-index = max(least(rank, value)) over values sorted desc
      // (tie order among equal values cannot change the max)
      val nb = edges
        .join(cur.select(col("u").as("v"), col("val")), "v")
        .withColumn("rn", row_number().over(
          Window.partitionBy("u")
            .orderBy(col("val").desc, col("v"))).cast("long"))
      cur = nb.groupBy("u")
        .agg(max(least(col("rn"), col("val"))).as("val"))
        .cache()
    }
    // Convergence tripwire (round-11 ADVICE): the spec proves the
    // fixpoint on the driver corpus only; on a larger graph a fixed
    // CoreIters could silently return an unconverged upper bound
    // that BOTH engines agree on (parity is structural, so the
    // oracle diff cannot catch it). One keyed join of the last two
    // iterates — both cached, ~|V| rows — decides it at runtime.
    // Shout, don't fail: the value is still a monotone upper bound
    // and the oracle still matches hash-exactly.
    val unconverged = prev.select(col("u"), col("val").as("pv"))
      .join(cur, "u").filter(col("val") =!= col("pv")).count()
    if (unconverged > 0)
      System.err.println(s"[graft] coreDecomposition: h-index NOT " +
        s"converged after $CoreIters iterations ($unconverged nodes " +
        "still decreasing) — coreness is an upper bound on this " +
        "graph; raise CoreIters (and the oracle's unrolled stage " +
        "count) together to keep parity")
    deg.select(col("u").as("node"), col("val").as("deg"))
      .join(cur.select(col("u").as("node"),
        col("val").as("coreness")), "node")
      .orderBy("node")
  }

  // ---------------------------------------------------------------
  // sim_ann_opq
  // ---------------------------------------------------------------

  /** Walsh–Hadamard rotation of a 64-dim vector on the exact
    * integer lattice: coordinates quantize ONCE to round(x·1e6)
    * BIGINTs, then y'ᵢ = Σⱼ (−1)^popcount(i&j) · xqⱼ is pure
    * integer arithmetic — order-free, the reason the rotation is
    * exact cross-engine where a float sum would be
    * accumulation-order-dependent. The result STAYS on the integer
    * lattice (units of 10⁻⁶/√64): dividing back to doubles would put
    * every downstream mean/distance on a clean rational grid whose
    * values can land EXACTLY on round-half-up boundaries, where the
    * last ulp of engine-specific summation order decides the
    * rounding (observed: a ±1-micro adist flake between runs). All
    * OPQ arithmetic below therefore runs on y' integers end-to-end.
    * H/√64 is orthonormal, so L2 on the y' lattice = 64·L2 on the
    * xq lattice exactly (Parseval) — rank order is preserved
    * EXACTLY, not approximately.
    */
  private[graft] def hadamardRot(vec: Column, dims: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)), i =>
      aggregate(
        zip_with(sequence(lit(0), lit(dims - 1)), vec,
          (j, x) => {
            val xq = round(x.cast("double") * 1e6).cast("long")
            when(bit_count(i.bitwiseAND(j)) % 2 === 0, xq)
              .otherwise(-xq)
          }),
        lit(0L), (acc, v) => acc + v))

  /** Round-half-up of S/n (n > 0) in pure Long arithmetic — the
    * BigDecimal HALF_UP contract (away from zero at .5) without ever
    * leaving integers. Mirrored verbatim in the oracle's CASE.
    */
  private def halfUp(s: Long, n: Long): Long =
    if (s >= 0) (2 * s + n) / (2 * n) else -((-2 * s + n) / (2 * n))

  /** Integer-lattice PQ codebook fit on the rotated vectors: the
    * same contract as Pq.fitCodebooksFromSample (md5 "ivfs:" hash
    * sample, per-subspace init from the k smallest sampled ids,
    * single Lloyd step, empty cells keep their centroid) but with
    * EVERY quantity a Long — distances are exact lattice² integers
    * and the centroid mean is the half-up integer division above, so
    * there is no floating-point anywhere for engine summation order
    * to perturb. Headroom: |y'| ≤ 64·10⁶·max|coord|, per-subspace
    * d² ≤ 16·(2·|y'|)² ≈ 1.0×10¹⁸ at max|coord|=1 — Long-safe for
    * any embedding with coordinates below ~2.
    */
  private def fitIntCodebooks(sample: Array[(Long, Array[Long])],
      nSub: Int, k: Int): Array[Array[Array[Long]]] = {
    val total = sample.head._2.length
    val subDim = total / nSub
    Array.tabulate(nSub) { m =>
      val subs = sample.map { case (_, v) =>
        v.slice(m * subDim, (m + 1) * subDim) }
      val init: Array[Array[Long]] = subs.take(k).map(_.clone())
      val kEff = init.length
      val sums = Array.fill(kEff)(new Array[Long](subDim))
      val counts = new Array[Long](kEff)
      subs.foreach { s =>
        var best = 0; var bestD = Long.MaxValue; var c = 0
        while (c < kEff) {
          var d = 0L; var j = 0
          while (j < subDim) {
            val t = s(j) - init(c)(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c } // tie: lowest cell
          c += 1
        }
        var j = 0
        while (j < subDim) { sums(best)(j) += s(j); j += 1 }
        counts(best) += 1
      }
      Array.tabulate(kEff)(c =>
        if (counts(c) == 0) init(c)
        else Array.tabulate(subDim)(j => halfUp(sums(c)(j), counts(c))))
    }
  }

  /** Exact-integer squared L2 between a lattice subvector column and
    * a literal lattice centroid.
    */
  private def intDm(sub: Column, cv: Seq[Long]): Column =
    aggregate(zip_with(sub, typedlit(cv),
      (x, v) => (x - v) * (x - v)), lit(0L), (acc, v) => acc + v)

  /** `sim_ann_pq` with the Hadamard rotation in front: codebooks are
    * fit (same md5 hash sample, same rank-seeded single-Lloyd
    * contract) on the ROTATED vectors, corpus codes and ADC lookup
    * tables live in the rotated space, and the top-5 ranking is the
    * same (adist, n_id) window. Because the rotation is orthonormal,
    * ADC distances estimate the same L2 geometry as flat PQ — but
    * each 16-dim subspace now mixes all 64 original coordinates, the
    * variance-spreading effect rotation buys when coordinates are
    * correlated (OPQ, Ge et al. CVPR'13; the structured-rotation
    * baseline rather than the fitted R, so the fit stays
    * driver-bounded and oracle-replicable). Unlike flat PQ, every
    * number from quantization onward is a BIGINT (adist is in
    * lattice² units, 10⁻¹²/64 of squared input distance): parity is
    * structural, immune to summation order on both engines.
    *
    * 100 TB shape: the rotation is a per-row narrow projection
    * (64² integer ops, no shuffle, codegen'd); everything after is
    * the flat-PQ scale path — literal codebooks, code scan, per-query
    * top-k window.
    */
  def simAnnOpq(spark: SparkSession, dir: String): DataFrame =
    opqAdcTopK(spark, dir, topK = 5)

  private def opqAdcTopK(spark: SparkSession, dir: String,
      topK: Int): DataFrame = {
    val nSub = 4; val k = 8
    // cache = a MATERIALIZATION BARRIER, not a reuse nicety: without
    // it Spark inlines the 64²-term rotation HOF into every one of
    // the 32 per-row centroid-distance expressions downstream
    // (projection pipelining re-evaluates, it does not CSE across
    // interpreted higher-order functions) — measured 7-9 s warm vs
    // ~1 s with the rotated rows materialized once
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        hadamardRot(col("embedding"), 64).as("rvec"))
      .cache()
    // lattice ints ≤ 6.4e7 pass through fitSample's double transport
    // exactly (< 2^53)
    val sample = Similarity
      .fitSample(emb, "vec_id", "rvec", fitSampleMod = 2)
      .map { case (id, v) => (id, v.map(x => math.rint(x).toLong)) }
    require(sample.nonEmpty, "OPQ fit: hash sample kept no vectors")
    val books = fitIntCodebooks(sample, nSub, k)
    val subDim = books(0)(0).length
    def sub(vec: Column, m: Int): Column =
      slice(vec, m * subDim + 1, subDim)
    def codeExpr(vec: Column, m: Int): Column =
      array_min(array(books(m).zipWithIndex.map { case (cv, c) =>
        struct(intDm(sub(vec, m), cv.toSeq).as("dm"),
          lit(c).as("c"))
      }: _*)).getField("c")
    val coded = emb.select(
      col("vec_id").as("n_id") +:
        (0 until nSub).map(m =>
          codeExpr(col("rvec"), m).as(s"code_$m")): _*)
    val q = emb.filter(col("vec_id") < 8).select(
      col("vec_id").as("q_id") +:
        (0 until nSub).map(m =>
          array(books(m).map(cv =>
            intDm(sub(col("rvec"), m), cv.toSeq)): _*)
            .as(s"qd_$m")): _*)
    val adist = (0 until nSub).map(m =>
      element_at(col(s"qd_$m"), col(s"code_$m") + 1)).reduce(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist"), col("n_id"))
    coded.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("adist"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** OPQ shortlist + exact re-rank — the full production retrieval
    * shape for the rotated family, composed exactly as
    * `Pq.rerankTopK` (Pq.scala:170) composes flat PQ: the integer
    * ADC scan above nominates 20 candidates per query, then ONLY
    * those pairs pay an exact float cosine against the RAW (unrotated)
    * vectors — a broadcast-hash fetch of |queries|·20 rows, never the
    * corpus. Because the Hadamard rotation is orthonormal, the ADC
    * shortlist estimates the same L2 geometry the cosine re-ranks,
    * so recall loss is bought back at candidate-set cost independent
    * of corpus size — the 100 TB contract of every rerank entry.
    */
  def simAnnRerankOpq(spark: SparkSession, dir: String): DataFrame = {
    val shortlist = 20; val topK = 5
    val cand = opqAdcTopK(spark, dir, shortlist)
      .select(col("q_id"), col("n_id"))
    val emb = t(spark, dir, "embeddings")
    val c = emb.select(col("vec_id").cast("long").as("n_id"),
      col("embedding").as("n_vec"))
      .withColumn("n_nrm", Similarity.norm(col("n_vec")))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long").as("q_id"),
        col("embedding").as("q_vec"))
      .withColumn("q_nrm", Similarity.norm(col("q_vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    cand.join(c, "n_id").join(broadcast(q), "q_id")
      .withColumn("sim", round(
        Similarity.dot(col("q_vec"), col("n_vec"))
          / (col("q_nrm") * col("n_nrm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("sim"), col("rank"))
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------
  // ev_wm_coalesce
  // ---------------------------------------------------------------

  /** One consolidated row per (key, hourly epoch with activity),
    * carrying the key's CUMULATIVE count/sum at that epoch's close —
    * the output a watermark-coalescing sink sees instead of per-event
    * rows. A keyed per-epoch aggregate plus one running-sum window.
    *
    * 100 TB shape: one keyed shuffle collapses the event log to
    * |key, active-epoch| before the window; the window partitions by
    * key, so no global sort.
    */
  def wmCoalesce(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"),
        expr("ts div 3600000000000").as("epoch"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
    val per = ev.groupBy("user_id", "epoch")
      .agg(count(lit(1)).as("cnt"), sum("vm").as("s"))
    val w = Window.partitionBy("user_id").orderBy("epoch")
    per.select(col("user_id"), col("epoch"),
        sum("cnt").over(w).as("cum_cnt"),
        sum("s").over(w).as("cum_sum"))
      .orderBy("user_id", "epoch")
  }

  // ---------------------------------------------------------------
  // ev_msprt
  // ---------------------------------------------------------------

  /** Always-valid sequential A/B monitor — the mixture SPRT (Robbins
    * 1970; Johari et al. KDD'17 "Peeking at A/B tests"): a normal-
    * mixture likelihood ratio over the running mean difference that
    * stays a valid test at EVERY day boundary, so an experimenter can
    * peek daily without alpha inflation — the missing piece next to
    * the fixed-horizon readouts (ev_cuped, eval_ab_qte). Per day d on
    * the `user_id % 2` split:
    *
    *   Λ_d = sqrt(V/(V+τ²)) · exp(τ²Δ²/(2V(V+τ²))),  τ² = 1
    *
    * with Δ the cumulative mean difference and V = σ̂²(1/n₀+1/n₁)
    * from cumulative pooled variance. Emitted as ln Λ on the micro
    * lattice plus the running max (= −ln of the always-valid
    * p-value, floored at 0) — monotone transforms of (Λ, p), no
    * second exp.
    *
    * Parity contract: per-day-per-arm counts/sums/sumsqs are exact
    * BIGINTs cumulated by integer windows over the bounded day spine;
    * each sum is cast to double BEFORE any product (the CUPED
    * overflow lesson); ln is the single libm call per day row,
    * quantized ONCE to micro; the running max then runs on integers.
    * Degenerate guard: GREATEST(σ̂², 1e-9) pins the all-identical
    * corpus to a finite lattice point on both engines.
    *
    * 100 TB shape: one (day, arm-conditional) keyed aggregate
    * collapses the event log to the |days|-bounded spine; cumulative
    * windows and the LR arithmetic run on that bounded table (the
    * ts_* convention — the unpartitioned window is over ≤ |days|
    * rows).
    */
  /** Cumulative per-arm moments over the bounded day spine — the
    * shared input of ev_msprt and ev_power_mde (exact BIGINTs
    * throughout; rows before both arms reach n ≥ 2 are dropped).
    */
  private def cumArmMoments(spark: SparkSession,
      dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(expr("ts div 86400000000000").as("day"),
        (col("user_id") % 2).as("arm"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
    val daily = ev.groupBy("day").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("arm") === 0, col("vm")).otherwise(0L)).as("d0"),
      sum(when(col("arm") === 0, expr("vm * vm")).otherwise(0L))
        .as("e0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"),
      sum(when(col("arm") === 1, col("vm")).otherwise(0L)).as("d1"),
      sum(when(col("arm") === 1, expr("vm * vm")).otherwise(0L))
        .as("e1"))
    val w = Window.orderBy("day") // bounded: ≤ |days| rows
    daily.select(col("day"),
      sum("c0").over(w).as("n0"), sum("d0").over(w).as("s0"),
      sum("e0").over(w).as("q0"),
      sum("c1").over(w).as("n1"), sum("d1").over(w).as("s1"),
      sum("e1").over(w).as("q1"))
      .filter(col("n0") >= 2 && col("n1") >= 2)
  }

  /** Pooled-variance SQL expression over the cumulative moments —
    * identical text in Spark and the oracle (modulo `//` vs `div`
    * nothing: all doubles), every sum cast to double BEFORE products
    * (the CUPED lesson).
    */
  private val Sig2Expr =
    "greatest(((cast(q0 as double)" +
      " - cast(s0 as double) * cast(s0 as double)" +
      " / cast(n0 as double))" +
      " + (cast(q1 as double)" +
      " - cast(s1 as double) * cast(s1 as double)" +
      " / cast(n1 as double)))" +
      " / cast(n0 + n1 - 2 as double), 1e-9)"

  def msprt(spark: SparkSession, dir: String): DataFrame = {
    val lam = cumArmMoments(spark, dir)
      // every moment to double BEFORE products/ratios (CUPED lesson)
      .withColumn("delta", expr(
        "cast(s1 as double) / cast(n1 as double)" +
          " - cast(s0 as double) / cast(n0 as double)"))
      .withColumn("sig2", expr(Sig2Expr))
      .withColumn("v", expr(
        "sig2 * (1.0d / cast(n0 as double)" +
          " + 1.0d / cast(n1 as double))"))
      // the single libm call per day row, quantized once
      .withColumn("lnlam_micro", expr(
        "cast(round((0.5d * ln(v / (v + 1.0d))" +
          " + delta * delta / (2.0d * v * (v + 1.0d))) * 1e6)" +
          " as bigint)"))
    lam.select(col("day"), col("n0"), col("n1"), col("lnlam_micro"),
        greatest(lit(0L),
          max("lnlam_micro").over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding,
                Window.currentRow))).as("nlp_micro"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------
  // ev_power_mde
  // ---------------------------------------------------------------

  /** Fixed-horizon experiment sizing, day by day: the minimum
    * detectable effect at α=0.05 two-sided / 80% power,
    * MDE_d = (z₀.₉₇₅ + z₀.₈)·√V_d with V_d = σ̂²(1/n₀+1/n₁) from the
    * same cumulative moment spine as ev_msprt — the "how much longer
    * must this test run" readout next to the always-valid monitor.
    * The z constants are data-independent literals; √ is IEEE
    * CORRECTLY-ROUNDED (unlike ln), so the single micro quantization
    * per output column is deterministic cross-engine by spec, not
    * merely measure-one. Reported per day: arm sizes, pooled variance
    * and MDE on the micro lattice.
    *
    * 100 TB shape: identical to ev_msprt — one keyed day-spine
    * collapse, then scalar arithmetic on ≤ |days| rows.
    */
  def powerMde(spark: SparkSession, dir: String): DataFrame =
    // 2.801585 = z_{0.975} + z_{0.8}, spelled as ONE literal so the
    // oracle's text is bit-identical (not a sum of two literals)
    cumArmMoments(spark, dir)
      .withColumn("sig2", expr(Sig2Expr))
      .withColumn("sig2_micro",
        expr("cast(round(sig2 * 1e6) as bigint)"))
      .withColumn("mde_micro", expr(
        "cast(round(2.801585d * sqrt(sig2" +
          " * (1.0d / cast(n0 as double)" +
          " + 1.0d / cast(n1 as double))) * 1e6) as bigint)"))
      .select("day", "n0", "n1", "sig2_micro", "mde_micro")
      .orderBy("day")

  // ---------------------------------------------------------------
  // ev_srm
  // ---------------------------------------------------------------

  /** Sample-ratio-mismatch guardrail — the first check every
    * experimentation platform runs before trusting a readout. The
    * unit is the RANDOMIZATION unit (users), not events: per-event
    * counts legitimately imbalance under heavy-user skew (the sf0.001
    * corpus flags at event level with χ²=15 on a perfectly fair
    * user_id % 2 split — the classic SRM false alarm this distinction
    * exists to avoid). Each user enters at their FIRST event day;
    * per day d, χ² = (u₀−u₁)²/(u₀+u₁) over cumulative enrolled
    * users against one degree of freedom, flagged past the 0.05
    * critical value (3.841, a data-independent literal). The χ²
    * numerator/denominator are exact BIGINTs, micro-rounded once,
    * and the flag compares on the integer lattice (3_841_000) — no
    * float comparison anywhere.
    *
    * 100 TB shape: one keyed user collapse (min day), one
    * |days|-bounded cumulative spine — the same shape as the other
    * ev_ sequential audits. The diff is cast to double BEFORE
    * squaring (the CUPED overflow class).
    */
  def srm(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = t(spark, dir, "events")
      .select(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      .groupBy("user_id").agg(min("day").as("fday"))
      .withColumn("arm", col("user_id") % 2)
    val daily = firstDay.groupBy("fday").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("a0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("a1"))
    val w = Window.orderBy("fday") // bounded: ≤ |days| rows
    daily.select(col("fday").as("day"),
        sum("a0").over(w).as("u0"), sum("a1").over(w).as("u1"))
      .filter(col("u0") + col("u1") >= 2)
      .withColumn("chi2_micro", expr(
        "cast(round(cast(u0 - u1 as double)" +
          " * cast(u0 - u1 as double)" +
          " / cast(u0 + u1 as double) * 1e6) as bigint)"))
      .withColumn("srm_flag",
        (col("chi2_micro") > 3841000L).cast("int"))
      .select("day", "u0", "u1", "chi2_micro", "srm_flag")
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_hurst" -> hurst _,
    "graph_core_decomposition" -> coreDecomposition _,
    "sim_ann_opq" -> simAnnOpq _,
    "sim_ann_rerank_opq" -> simAnnRerankOpq _,
    "ev_wm_coalesce" -> wmCoalesce _,
    "ev_msprt" -> msprt _,
    "ev_power_mde" -> powerMde _,
    "ev_srm" -> srm _)

  /** The h-index stage, unrolled once per iteration in the oracle —
    * prev must be the name of the previous coreness CTE.
    */
  private def coreStage(name: String, prev: String): String =
    s""", $name AS (
       |  SELECT u, CAST(MAX(LEAST(rn, val)) AS BIGINT) AS val FROM (
       |    SELECT e.u, c.val,
       |      ROW_NUMBER() OVER (PARTITION BY e.u
       |        ORDER BY c.val DESC, e.v) AS rn
       |    FROM edges e JOIN $prev c ON c.u = e.v) z
       |  GROUP BY u)""".stripMargin

  /** The shared daily→cumulative CTE chain of the ev_msprt /
    * ev_power_mde oracles (exact-BIGINT moments over the day spine,
    * n ≥ 2 per arm).
    */
  private val CumMomentsCte =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    user_id % 2 AS arm,
      |    CAST(ROUND(value * 1000) AS BIGINT) AS vm
      |  FROM events
      |), daily AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c0,
      |    CAST(SUM(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT)
      |      AS d0,
      |    CAST(SUM(CASE WHEN arm = 0 THEN vm * vm ELSE 0 END)
      |      AS BIGINT) AS e0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c1,
      |    CAST(SUM(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT)
      |      AS d1,
      |    CAST(SUM(CASE WHEN arm = 1 THEN vm * vm ELSE 0 END)
      |      AS BIGINT) AS e1
      |  FROM ev GROUP BY day
      |), cum AS (
      |  SELECT day,
      |    CAST(SUM(c0) OVER wd AS BIGINT) AS n0,
      |    CAST(SUM(d0) OVER wd AS BIGINT) AS s0,
      |    CAST(SUM(e0) OVER wd AS BIGINT) AS q0,
      |    CAST(SUM(c1) OVER wd AS BIGINT) AS n1,
      |    CAST(SUM(d1) OVER wd AS BIGINT) AS s1,
      |    CAST(SUM(e1) OVER wd AS BIGINT) AS q1
      |  FROM daily WINDOW wd AS (ORDER BY day)
      |), base AS (
      |  SELECT * FROM cum WHERE n0 >= 2 AND n1 >= 2
      |)""".stripMargin

  private val Sig2SqlExpr =
    """GREATEST(((CAST(q0 AS DOUBLE)
      |      - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
      |      / CAST(n0 AS DOUBLE))
      |      + (CAST(q1 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(n1 AS DOUBLE)))
      |      / CAST(n0 + n1 - 2 AS DOUBLE), 1e-9)""".stripMargin

  /** The OPQ oracle's shared CTE chain — exact-integer Hadamard
    * rotation, lattice codebook fit, corpus codes, and the ADC
    * `approx` pair distances. The plain top-5 entry and the
    * re-ranked variant both append tails to this base.
    */
  private val OpqOracleBase: String =
    """WITH rx AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xq
        |  FROM embeddings
        |), rot AS MATERIALIZED (
        |  -- exact-integer Walsh–Hadamard: sign = parity of
        |  -- popcount(i & j); order-free BIGINT sum, NO division —
        |  -- everything downstream stays on the y' integer lattice
        |  SELECT r.vec_id, d.i,
        |    CAST(SUM(CASE WHEN
        |        bit_count(CAST(d.i AS INTEGER) & CAST(r.j AS INTEGER))
        |          % 2 = 0
        |        THEN r.xq ELSE -r.xq END) AS BIGINT) AS x
        |  FROM rx r
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) d
        |  GROUP BY r.vec_id, d.i
        |), ee AS MATERIALIZED (
        |  SELECT vec_id, i // 16 AS m, i % 16 AS j, x FROM rot
        |), ef AS MATERIALIZED (
        |  SELECT * FROM ee WHERE
        |    ((strpos('0123456789abcdef',
        |        substr(md5('ivfs:' || vec_id), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef',
        |        substr(md5('ivfs:' || vec_id), 2, 1)) - 1)) % 2 = 0
        |), seeds AS (
        |  SELECT vec_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
        |      AS cell
        |  FROM (SELECT DISTINCT vec_id FROM ef ORDER BY vec_id
        |        LIMIT 8)
        |), cent0 AS MATERIALIZED (
        |  SELECT e.m, s.cell, e.j, e.x AS v
        |  FROM seeds s JOIN ef e ON e.vec_id = s.vec_id
        |), d1 AS (
        |  -- exact BIGINT lattice² distance, no rounding anywhere
        |  SELECT f.vec_id, f.m, c.cell,
        |    CAST(SUM((f.x - c.v) * (f.x - c.v)) AS BIGINT) AS dm
        |  FROM ef f JOIN cent0 c ON c.m = f.m AND c.j = f.j
        |  GROUP BY f.vec_id, f.m, c.cell
        |), asg1 AS (
        |  SELECT vec_id, m, cell FROM (
        |    SELECT vec_id, m, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |        ORDER BY dm, cell) AS rn
        |    FROM d1) z WHERE rn = 1
        |), cm1 AS (
        |  -- centroid mean as HALF_UP integer division (away from
        |  -- zero at .5) — the engine's halfUp mirrored verbatim
        |  SELECT a.m, a.cell, e.j,
        |    CASE WHEN CAST(SUM(e.x) AS BIGINT) >= 0
        |      THEN (2 * CAST(SUM(e.x) AS BIGINT) + COUNT(*))
        |        // (2 * COUNT(*))
        |      ELSE -((-2 * CAST(SUM(e.x) AS BIGINT) + COUNT(*))
        |        // (2 * COUNT(*)))
        |    END AS v
        |  FROM asg1 a
        |  JOIN ef e ON e.vec_id = a.vec_id AND e.m = a.m
        |  GROUP BY a.m, a.cell, e.j
        |), cent1 AS MATERIALIZED (
        |  SELECT * FROM cm1
        |  UNION ALL
        |  SELECT p.m, p.cell, p.j, p.v FROM cent0 p
        |  WHERE NOT EXISTS (SELECT 1 FROM cm1 c
        |    WHERE c.m = p.m AND c.cell = p.cell)
        |), dall AS MATERIALIZED (
        |  SELECT e.vec_id, e.m, c.cell,
        |    CAST(SUM((e.x - c.v) * (e.x - c.v)) AS BIGINT) AS dm
        |  FROM ee e JOIN cent1 c ON c.m = e.m AND c.j = e.j
        |  GROUP BY e.vec_id, e.m, c.cell
        |), codes AS (
        |  SELECT vec_id, m, cell FROM (
        |    SELECT vec_id, m, cell,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |        ORDER BY dm, cell) AS rn
        |    FROM dall) z WHERE rn = 1
        |), approx AS (
        |  SELECT qd.vec_id AS q_id, n.vec_id AS n_id,
        |    CAST(SUM(qd.dm) AS BIGINT) AS adist
        |  FROM codes n
        |  JOIN dall qd ON qd.m = n.m AND qd.cell = n.cell
        |    AND qd.vec_id < 8 AND qd.vec_id <> n.vec_id
        |  GROUP BY qd.vec_id, n.vec_id
        |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "ev_srm" ->
      """WITH fd AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    MIN(epoch_us(ts) // 86400000000) AS fday
        |  FROM events GROUP BY user_id
        |), daily AS (
        |  SELECT fday,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a0,
        |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a1
        |  FROM fd GROUP BY fday
        |), cum AS (
        |  SELECT fday AS day,
        |    CAST(SUM(a0) OVER (ORDER BY fday) AS BIGINT) AS u0,
        |    CAST(SUM(a1) OVER (ORDER BY fday) AS BIGINT) AS u1
        |  FROM daily
        |), f AS (
        |  SELECT day, u0, u1,
        |    CAST(ROUND(CAST(u0 - u1 AS DOUBLE)
        |      * CAST(u0 - u1 AS DOUBLE)
        |      / CAST(u0 + u1 AS DOUBLE) * 1e6) AS BIGINT)
        |      AS chi2_micro
        |  FROM cum WHERE u0 + u1 >= 2)
        |SELECT day, u0, u1, chi2_micro,
        |  CAST(CASE WHEN chi2_micro > 3841000 THEN 1 ELSE 0 END
        |    AS INT) AS srm_flag
        |FROM f ORDER BY day""".stripMargin,
    "ev_power_mde" ->
      (CumMomentsCte +
        s""", f AS (
        |  SELECT day, n0, n1, $Sig2SqlExpr AS sig2
        |  FROM base
        |)
        |SELECT day, n0, n1,
        |  CAST(ROUND(sig2 * 1e6) AS BIGINT) AS sig2_micro,
        |  CAST(ROUND(2.801585 * sqrt(sig2
        |    * (1.0 / CAST(n0 AS DOUBLE)
        |    + 1.0 / CAST(n1 AS DOUBLE))) * 1e6) AS BIGINT)
        |    AS mde_micro
        |FROM f ORDER BY day""").stripMargin,
    "ev_msprt" ->
      (CumMomentsCte +
      s""", f AS (
        |  SELECT day, n0, n1,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS delta,
        |    $Sig2SqlExpr AS sig2
        |  FROM base
        |), g AS (
        |  SELECT day, n0, n1,
        |    sig2 * (1.0 / CAST(n0 AS DOUBLE)
        |      + 1.0 / CAST(n1 AS DOUBLE)) AS v, delta
        |  FROM f
        |), h AS (
        |  SELECT day, n0, n1,
        |    CAST(ROUND((0.5 * ln(v / (v + 1.0))
        |      + delta * delta / (2.0 * v * (v + 1.0))) * 1e6)
        |      AS BIGINT) AS lnlam_micro
        |  FROM g)
        |SELECT day, n0, n1, lnlam_micro,
        |  GREATEST(0, CAST(MAX(lnlam_micro) OVER
        |    (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) AS BIGINT)) AS nlp_micro
        |FROM h ORDER BY day""").stripMargin,
    "ev_wm_coalesce" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS epoch,
        |    CAST(ROUND(value * 1000) AS BIGINT) AS vm
        |  FROM events
        |), per AS (
        |  SELECT user_id, epoch, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(vm) AS BIGINT) AS s
        |  FROM ev GROUP BY user_id, epoch
        |)
        |SELECT user_id, epoch,
        |  CAST(SUM(cnt) OVER (PARTITION BY user_id ORDER BY epoch)
        |    AS BIGINT) AS cum_cnt,
        |  CAST(SUM(s) OVER (PARTITION BY user_id ORDER BY epoch)
        |    AS BIGINT) AS cum_sum
        |FROM per ORDER BY user_id, epoch""".stripMargin,
    "ts_hurst" ->
      """WITH counts AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1
        |), spine AS (
        |  SELECT unnest(range((SELECT MIN(hr) FROM counts),
        |    (SELECT MAX(hr) FROM counts) + 1)) AS hr
        |), ser AS MATERIALIZED (
        |  SELECT s.hr, COALESCE(c.cnt, 0) AS cnt,
        |    ROW_NUMBER() OVER (ORDER BY s.hr) - 1 AS tpos
        |  FROM spine s LEFT JOIN counts c ON c.hr = s.hr
        |), n1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM ser
        |), blk AS MATERIALIZED (
        |  SELECT v.w, s.tpos // v.w AS blk, s.tpos % v.w + 1 AS tt,
        |    s.cnt
        |  FROM ser s
        |  CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS w) v
        |  CROSS JOIN n1
        |  WHERE s.tpos // v.w < n1.total // v.w
        |), cum AS (
        |  SELECT w, blk, tt, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY w, blk ORDER BY tt)
        |      AS BIGINT) AS cumv
        |  FROM blk
        |), bs AS (
        |  SELECT w, blk, CAST(SUM(cnt) AS BIGINT) AS s,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
        |  FROM blk GROUP BY w, blk
        |), rs AS (
        |  SELECT c.w, c.blk, b.s, b.sxx,
        |    MAX(c.w * c.cumv - c.tt * b.s)
        |      - MIN(c.w * c.cumv - c.tt * b.s) AS rp
        |  FROM cum c JOIN bs b ON b.w = c.w AND b.blk = c.blk
        |  GROUP BY c.w, c.blk, b.s, b.sxx
        |), rsm AS (
        |  SELECT w, blk, CAST(ROUND(CAST(rp AS DOUBLE)
        |    / sqrt(CAST(GREATEST(w * sxx - s * s, 1) AS DOUBLE))
        |    * 1e6) AS BIGINT) AS rs_micro
        |  FROM rs
        |), perwin AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(rs_micro) AS BIGINT) // COUNT(*)
        |      AS mean_rs_micro
        |  FROM rsm GROUP BY w
        |), logs AS MATERIALIZED (
        |  SELECT w, n_blocks, mean_rs_micro,
        |    CAST(ROUND(ln(CAST(GREATEST(mean_rs_micro, 1) AS DOUBLE)
        |      / 1e6) / ln(2) * 1e6) AS BIGINT) AS log2_rs_micro,
        |    CAST(ROUND(ln(CAST(w AS DOUBLE)) / ln(2)) AS BIGINT)
        |      AS lx
        |  FROM perwin
        |), reg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lx) AS BIGINT) AS sx,
        |    CAST(SUM(log2_rs_micro) AS BIGINT) AS sy,
        |    CAST(SUM(lx * lx) AS BIGINT) AS sxx,
        |    CAST(SUM(lx * log2_rs_micro) AS BIGINT) AS sxy
        |  FROM logs)
        |SELECT CAST(w AS BIGINT) AS win, n_blocks, mean_rs_micro,
        |  log2_rs_micro,
        |  CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(GREATEST(n * sxx - sx * sx, 1) AS DOUBLE))
        |    AS BIGINT) AS hurst_micro
        |FROM logs CROSS JOIN reg
        |ORDER BY win""".stripMargin,
    "graph_core_decomposition" ->
      (Ext14Queries.simhashPairsCte +
        """, e0 AS (
        |  SELECT a AS u, b AS v FROM pairs
        |  UNION ALL
        |  SELECT b AS u, a AS v FROM pairs
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM e0
        |), c0 AS (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS val
        |  FROM edges GROUP BY u)""" +
        (1 to CoreIters).map(i => coreStage(s"c$i", s"c${i - 1}"))
          .mkString +
        s"""
        |SELECT d.u AS node, d.val AS deg, c.val AS coreness
        |FROM c0 d JOIN c$CoreIters c ON c.u = d.u
        |ORDER BY node""").stripMargin,
    "sim_ann_opq" -> (OpqOracleBase +
      """, ranked AS (
        |  SELECT q_id, n_id, adist,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY adist, n_id) AS rank
        |  FROM approx)
        |SELECT q_id, n_id, adist, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    "sim_ann_rerank_opq" -> (OpqOracleBase +
      """, raw AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |), shortlist AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY adist, n_id) AS rnk
        |    FROM approx) z WHERE rnk <= 20
        |), nrms AS (
        |  SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM raw
        |  GROUP BY vec_id
        |), dots AS (
        |  SELECT s.q_id, s.n_id, SUM(q.x * e.x) AS dot
        |  FROM shortlist s
        |  JOIN raw q ON q.vec_id = s.q_id
        |  JOIN raw e ON e.vec_id = s.n_id AND e.i = q.i
        |  GROUP BY s.q_id, s.n_id
        |), cos AS (
        |  SELECT d.q_id, d.n_id,
        |    ROUND(d.dot / (nq.nrm * ne.nrm), 6) AS sim
        |  FROM dots d
        |  JOIN nrms nq ON nq.vec_id = d.q_id
        |  JOIN nrms ne ON ne.vec_id = d.n_id
        |), rr AS (
        |  SELECT q_id, n_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, n_id) AS rank
        |  FROM cos)
        |SELECT q_id, n_id, sim, CAST(rank AS INT) AS rank
        |FROM rr WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin))
}
