package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 batch: the three operator corners from the round-9
  * verdict's elective list (ask #3).
  *
  *  - `graph_betweenness_sampled`: pivot-sampled Brandes betweenness
  *    truncated at radius 3 over the simhash near-dup graph —
  *    completes the centrality kit (pagerank / kcore / harmonic /
  *    hits / this). Sampled pivots are the standard way betweenness
  *    scales (Brandes–Pich 2007: exact bc is O(V·E), pivot-sampled
  *    is K·O(E) with unbiased-up-to-scaling ranks).
  *  - `sim_ann_nlist_curve`: recall@5 AND probed-candidate cost vs
  *    the IVF quantizer's nCells — the second IVF tuning axis next
  *    to the existing nprobe curve (`eval_multiprobe_recall`).
  *  - `eval_self_bleu`: corpus diversity per source via self-BLEU-2
  *    (every doc scored against all OTHER same-source docs as
  *    references) — rides `eval_bleu`'s clipped-precision machinery
  *    but with a corpus-level top-2 clip table instead of a pair
  *    join, so it never enumerates doc pairs at all.
  *  - `eval_distinct_n`: distinct-n diversity per source (Li et al.
  *    2016) — the cheap verbatim-repetition companion to self-BLEU.
  */
object Ext85Queries {

  // ---------------------------------------------------------------
  // graph_betweenness_sampled
  // ---------------------------------------------------------------

  /** Same hub-relay cap as `graph_harmonic3` / `graph_link_predict`:
    * shortest paths may not pass THROUGH nodes of degree > 64 (they
    * still appear as endpoints). The metric is betweenness ON THAT
    * CAPPED PATH SYSTEM, mirrored verbatim in the oracle — the same
    * "both engines compute the SAME capped metric" contract the other
    * graph audits use.
    */
  private val MaxRelayDeg = 64
  private val NPivots = 8

  /** Pivot-sampled Brandes betweenness, radius ≤ 3, over the simhash
    * near-dup graph: from each of [[NPivots]] hash-sampled pivots
    * (smallest md5("btw:"||id) — deterministic, unbiased in id
    * structure), forward BFS builds level sets L1..L3 with exact
    * BIGINT shortest-path counts σ (σ_{k}(v) = Σ σ_{k−1}(u) over
    * relay predecessors u), then the standard backward dependency
    * accumulation δ(v) = Σ_{w∈succ(v)} σ(v)·(1+δ(w))/σ(w) runs on
    * the micro lattice with per-term floored division (non-negative
    * operands, so Spark `div` == DuckDB `//` term by term, and the
    * per-(pivot,node) sum is an order-free BIGINT sum). Reported
    * bc_micro(v) = Σ_pivots δ_micro(v); δ≡0 depth-3 leaves are
    * omitted (they contribute nothing by definition).
    *
    * 100 TB shape: cost is NPivots × one hub-capped 3-ball BFS —
    * keyed equi-joins and keyed aggregates only, never all-pairs;
    * each level is cached once (it feeds the next level AND the
    * backward pass — the graph_kcore per-round-cache lesson). The
    * pivot count, not the corpus, scales the work; production tunes
    * K for rank stability exactly as Brandes–Pich prescribe.
    */
  def betweennessSampled(spark: SparkSession, dir: String): DataFrame = {
    val pairs = NearDupGraph.simhashPairs5(spark, dir)
    val d1 = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct().cache()
    val relay = d1.groupBy(col("u").as("m"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= MaxRelayDeg).select("m")
    val hop = d1.select(col("u").as("hm"), col("v").as("hw"))
      .join(relay, col("hm") === col("m")).select("hm", "hw")
    val piv = d1.select(col("u").as("id")).distinct()
      .orderBy(md5(concat(lit("btw:"), col("id").cast("string"))),
        col("id"))
      .limit(NPivots).select(col("id").as("s"))
    // L1: pivot neighbors, σ=1 (simple graph — one edge per pair)
    val l1 = broadcast(piv).join(d1, col("s") === col("u"))
      .select(col("s"), col("v"), lit(1L).as("sig")).cache()
    // Lk = (Lk−1 ⋈ relay hop) minus all closer levels, σ summed over
    // relay predecessors — per-level cache, the k-core loop lesson
    def level(prev: DataFrame, closer: Seq[DataFrame]): DataFrame = {
      val stepped = prev.join(hop, col("v") === col("hm"))
        .select(col("s"), col("hw").as("v"), col("sig"))
        .filter(col("v") =!= col("s"))
      closer.foldLeft(stepped)((acc, c) =>
          acc.join(c.select("s", "v"), Seq("s", "v"), "left_anti"))
        .groupBy("s", "v").agg(sum("sig").as("sig"))
    }
    val l2 = level(l1, Seq(l1)).cache()
    val l3 = level(l2, Seq(l1, l2)).cache()
    // backward pass: δ2 from the δ≡0 L3 leaves, then δ1 from δ2.
    // per-term floor division on non-negative operands — engine-exact
    val del2 = l2.join(hop, col("v") === col("hm"))
      .join(l3.select(col("s").as("s3"), col("v").as("v3"),
          col("sig").as("sig3")),
        col("s") === col("s3") && col("hw") === col("v3"))
      .groupBy("s", "v")
      .agg(sum(expr("(sig * 1000000) div sig3")).as("d")).cache()
    val del1 = l1.join(hop, col("v") === col("hm"))
      .join(l2.select(col("s").as("s2"), col("v").as("v2"),
          col("sig").as("sig2")),
        col("s") === col("s2") && col("hw") === col("v2"))
      .join(del2.select(col("s").as("sd"), col("v").as("vd"),
          col("d").as("d2")),
        col("s") === col("sd") && col("hw") === col("vd"), "left")
      .na.fill(0L, Seq("d2"))
      .groupBy("s", "v")
      .agg(sum(expr("(sig * (1000000 + d2)) div sig2")).as("d"))
    del1.select("s", "v", "d")
      .unionByName(del2.select("s", "v", "d"))
      .groupBy(col("v").as("node"))
      .agg(count(lit(1)).as("n_pivots"), sum("d").as("bc_micro"))
      .orderBy(col("bc_micro").desc, col("node"))
  }

  // ---------------------------------------------------------------
  // sim_ann_nlist_curve
  // ---------------------------------------------------------------

  /** Recall@5 vs nCells for the IVF quantizer (nprobe fixed at 1) —
    * the tuning curve behind `sim_ann_ivf`'s nCells=16 choice, the
    * way `eval_multiprobe_recall` is the curve behind
    * `sim_ann_multiprobe`. For each nCells ∈ {4, 8, 16, 32}: the
    * same deterministic hash-sampled Lloyd fit as `sim_ann_ivf`
    * (kmeansIters=2, fitSampleMod=2), single-cell probe, recall@5 of
    * the 8 query vectors against the exact cosine top-5, PLUS the
    * probed-candidate mass (Σ over queries of |cell| − 1) — the cost
    * axis: more cells = fewer candidates = cheaper probes = lower
    * recall. Both axes on one row per nCells is what a capacity
    * planner actually reads.
    *
    * 100 TB shape: ground truth is the broadcast-query brute pass the
    * audits already pay (sampled query set at production scale); each
    * curve point is the sim_ann_ivf plan re-parameterized — driver-
    * side bounded fit, narrow literal-centroid assignment, keyed cell
    * equi-join. The 1-row-per-side crossJoin stitches two scalar
    * aggregates (bounded by construction).
    */
  def annNlistCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    val exact = Similarity
      .cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select(col("q_id"), col("n_id")).cache()
    Seq(4, 8, 16, 32).map { c =>
      val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
          k = 5, nCells = c, kmeansIters = 2, fitSampleMod = 2)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      val nCand = Similarity.assignClusters(emb, "vec_id",
          "embedding", c, 2, 2)
        .filter(col("vec_id") < 8)
        .agg(sum(col("cluster_size") - 1).as("n_cand"))
      exact.join(approx, Seq("q_id", "n_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .withColumn("n_cells", lit(c.toLong))
        .crossJoin(broadcast(nCand)) // 1 row × 1 row
    }.reduce(_ unionByName _)
      .withColumn("recall_micro", expr("hits * 1000000 div n_exact"))
      .select("n_cells", "n_exact", "hits", "recall_micro", "n_cand")
      .orderBy("n_cells")
  }

  // ---------------------------------------------------------------
  // eval_self_bleu
  // ---------------------------------------------------------------

  /** Per-source self-BLEU-2 — the standard corpus-diversity audit
    * (Zhu et al. 2018): each document is BLEU-scored with every
    * OTHER same-source document as a reference; high self-BLEU =
    * low diversity. Multi-reference clipping means the clip for gram
    * g in doc d is max_{d'≠d} c_{d'}(g) — which only needs, per
    * (source, gram), the top count m1, how many docs attain it (n1),
    * and the runner-up m2: maxother = m1 if c_d < m1 or n1 ≥ 2,
    * else m2. So the whole corpus needs ONE window pass over the
    * gram-count table — no doc-pair enumeration anywhere (the pair
    * join `eval_bleu` pays is exactly what self-BLEU at corpus scale
    * cannot afford). Per-doc BLEU-2 = exp(½(ln p₁ + ln p₂)) with no
    * brevity penalty (the precision-only self-BLEU convention —
    * every doc plays both roles, so BP cancels in rank), quantized
    * once to micro, then source means are floored integer divisions.
    *
    * 100 TB shape: two keyed gram aggregates + one (source, gram)-
    * partitioned window + one doc aggregate — all linear in corpus
    * grams; the clip statistics table is bounded by distinct grams.
    */
  def selfBleu(spark: SparkSession, dir: String): DataFrame = {
    val tk = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(TextAnalysis.tokens(col("text"))))
      .select(col("doc_id"), col("source"), col("pos"),
        lower(col("col")).as("tok"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val uni = tk.groupBy(col("source"), col("doc_id"),
        col("tok").as("g"))
      .agg(count(lit(1)).as("c"))
    val bi = tk.withColumn("nxt", lead("tok", 1).over(wd))
      .filter(col("nxt").isNotNull)
      .select(col("source"), col("doc_id"),
        concat(col("tok"), lit(" "), col("nxt")).as("g"))
      .groupBy("source", "doc_id", "g").agg(count(lit(1)).as("c"))
    // per-doc clipped modified precision against the top-2 table;
    // the three window passes share one (source, g) partitioning =
    // one exchange (Catalyst collapses same-spec Window operators)
    def prec(cnt: DataFrame, num: String, den: String): DataFrame = {
      val w = Window.partitionBy("source", "g")
      cnt.withColumn("m1", max("c").over(w))
        .withColumn("n1",
          sum(when(col("c") === col("m1"), 1L).otherwise(0L)).over(w))
        .withColumn("m2",
          max(when(col("c") < col("m1"), col("c"))).over(w))
        .withColumn("maxother",
          when(col("c") < col("m1") || col("n1") >= 2, col("m1"))
            .otherwise(coalesce(col("m2"), lit(0L))))
        .groupBy("source", "doc_id")
        .agg(sum(least(col("c"), col("maxother"))).as(num),
          sum("c").as(den))
    }
    val p1 = prec(uni, "p1_num", "p1_den")
    val p2 = prec(bi, "p2_num", "p2_den")
    p1.join(p2, Seq("source", "doc_id"), "left")
      .na.fill(0L, Seq("p2_num", "p2_den"))
      .withColumn("bleu_micro", expr(
        """CASE WHEN p1_num = 0 OR p2_num = 0 OR p2_den = 0 THEN 0
          |ELSE cast(round(exp(0.5d
          |    * (ln(cast(p1_num as double) / cast(p1_den as double))
          |     + ln(cast(p2_num as double) / cast(p2_den as double))))
          |  * 1e6) as bigint) END""".stripMargin))
      .withColumn("p1_micro", expr("p1_num * 1000000 div p1_den"))
      .withColumn("p2_micro", expr(
        "CASE WHEN p2_den = 0 THEN 0" +
          " ELSE p2_num * 1000000 div p2_den END"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(p1_micro) div count(1)").as("mean_p1_micro"),
        expr("sum(p2_micro) div count(1)").as("mean_p2_micro"),
        expr("sum(bleu_micro) div count(1)").as("self_bleu_micro"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------
  // eval_distinct_n
  // ---------------------------------------------------------------

  /** Distinct-n diversity per source (Li et al. 2016): distinct
    * n-grams over total n-grams for n = 1, 2, 3 — the cheap diversity
    * companion to `eval_self_bleu` (distinct-n catches verbatim
    * repetition; self-BLEU catches cross-document similarity). Pure
    * keyed aggregates on the micro lattice.
    *
    * 100 TB shape: three (source, gram)-keyed count-distinct
    * aggregates over the corpus token stream — linear, no joins
    * beyond the final 1-row-per-source stitch.
    */
  def distinctN(spark: SparkSession, dir: String): DataFrame = {
    val tk = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(TextAnalysis.tokens(col("text"))))
      .select(col("doc_id"), col("source"), col("pos"),
        lower(col("col")).as("tok"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    def gramStats(n: Int, out: String): DataFrame = {
      val g =
        if (n == 1) tk.select(col("source"), col("tok").as("g"))
        else {
          val withNext = (1 until n).foldLeft(tk) { (df, i) =>
            df.withColumn(s"t$i", lead("tok", i).over(wd))
          }
          withNext.filter((1 until n).map(i =>
              col(s"t$i").isNotNull).reduce(_ && _))
            .select(col("source"),
              concat_ws(" ", col("tok") +:
                (1 until n).map(i => col(s"t$i")): _*).as("g"))
        }
      g.groupBy("source")
        .agg(countDistinct(col("g")).as(s"u$out"),
          count(lit(1)).as(s"t$out"))
        .withColumn(s"d${out}_micro",
          expr(s"u$out * 1000000 div t$out"))
    }
    gramStats(1, "1")
      .join(gramStats(2, "2"), Seq("source"))
      .join(gramStats(3, "3"), Seq("source"))
      .select("source", "u1", "t1", "d1_micro", "u2", "t2",
        "d2_micro", "u3", "t3", "d3_micro")
      .orderBy("source")
  }

  // ---------------------------------------------------------------
  // ev_dynamic_rules
  // ---------------------------------------------------------------

  /** Alerts under dynamic per-key thresholds. The control channel is
    * every event with event_id % 10 == 0 (its vm becomes the key's new
    * threshold at seq = event_id); the data channel is everything
    * else; a data row alerts iff it exceeds the LATEST rule at or
    * before its seq — a textbook backward as-of join
    * ([[AsOf.asofJoin]]: union + one-shuffle carry, no range join),
    * inner on rule existence (pre-first-rule rows never alert).
    *
    * 100 TB shape: one key-shuffled as-of pass; the control channel
    * is |keys|-ish-bounded next to the event log by construction.
    */
  def dynamicRules(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
    val ctrl = ev.filter(col("event_id") % 10 === 0)
      .select(col("user_id"), col("event_id").as("rule_seq"),
        col("vm").as("threshold"))
    val data = ev.filter(col("event_id") % 10 =!= 0)
    AsOf.asofJoin(data, ctrl, Seq("user_id"), "event_id", "rule_seq",
        Seq("rule_seq", "threshold"))
      .filter(col("threshold").isNotNull
        && col("vm") > col("threshold"))
      .select("user_id", "event_id", "vm", "rule_seq", "threshold")
      .orderBy("user_id", "event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_betweenness_sampled" -> betweennessSampled _,
    "sim_ann_nlist_curve" -> annNlistCurve _,
    "eval_self_bleu" -> selfBleu _,
    "eval_distinct_n" -> distinctN _,
    "ev_dynamic_rules" -> dynamicRules _,
  )

  /** One curve point of the sim_ann_nlist_curve oracle: the full
    * sim_ann_ivf fit/assign chain at `nCells` (verbatim via
    * [[ExtQueries.ivfFitAssignSql]]) inside a parenthesized WITH
    * subquery, so four points UNION ALL without CTE-name collisions.
    */
  private def nlistPointSql(nCells: Int): String =
    s"""SELECT * FROM (
${ExtQueries.ivfFitAssignSql(nCells, 2, 2, mat = true)}, dots AS (
  SELECT q.vec_id AS q_id, e.vec_id AS n_id, SUM(q.x * e.x) AS dot
  FROM ee q JOIN ee e ON q.i = e.i AND q.vec_id <> e.vec_id
  WHERE q.vec_id < 8
  GROUP BY q.vec_id, e.vec_id
), sims AS (
  SELECT d.q_id, d.n_id, ROUND(d.dot / (nq.nrm * ne.nrm), 6) AS sim
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.q_id
  JOIN norms ne ON ne.vec_id = d.n_id
), exact AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
      ORDER BY sim DESC, n_id) AS rank FROM sims) z
  WHERE rank <= 5
), approx AS (
  SELECT q_id, n_id FROM (
    SELECT s.q_id, s.n_id, ROW_NUMBER() OVER (PARTITION BY s.q_id
      ORDER BY s.sim DESC, s.n_id) AS rank
    FROM sims s
    JOIN assign aq ON aq.vec_id = s.q_id
    JOIN assign an ON an.vec_id = s.n_id AND an.cell = aq.cell) z
  WHERE rank <= 5
), qsz AS (
  SELECT CAST(SUM(c.sz - 1) AS BIGINT) AS n_cand
  FROM (SELECT vec_id, cell FROM assign WHERE vec_id < 8) q
  JOIN (SELECT cell, COUNT(*) AS sz FROM assign GROUP BY cell) c
    ON c.cell = q.cell
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
    CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
      AS BIGINT) AS hits
  FROM exact e LEFT JOIN approx a
    ON a.q_id = e.q_id AND a.n_id = e.n_id)
SELECT CAST($nCells AS BIGINT) AS n_cells, g.n_exact, g.hits,
  (g.hits * 1000000) // g.n_exact AS recall_micro, s.n_cand
FROM agg g CROSS JOIN qsz s
)"""

  val oracle: Map[String, String] = Map(
    "graph_betweenness_sampled" ->
      (Ext14Queries.simhashPairsCte +
        """, e AS (
        |  SELECT a AS u, b AS v FROM pairs
        |  UNION ALL
        |  SELECT b AS u, a AS v FROM pairs
        |), d1 AS (
        |  SELECT DISTINCT u, v FROM e
        |), relay AS (
        |  SELECT u AS m FROM d1 GROUP BY u HAVING COUNT(*) <= 64
        |), hop AS (
        |  SELECT d1.u AS m, d1.v AS w FROM d1
        |  JOIN relay ON relay.m = d1.u
        |), piv AS (
        |  SELECT id AS s FROM (SELECT DISTINCT u AS id FROM d1) n
        |  ORDER BY md5('btw:' || CAST(id AS VARCHAR)), id
        |  LIMIT 8
        |), l1 AS (
        |  SELECT p.s, d1.v, CAST(1 AS BIGINT) AS sig
        |  FROM piv p JOIN d1 ON d1.u = p.s
        |), l2 AS (
        |  SELECT x.s, h.w AS v, CAST(SUM(x.sig) AS BIGINT) AS sig
        |  FROM l1 x JOIN hop h ON h.m = x.v
        |  WHERE h.w <> x.s
        |    AND NOT EXISTS (SELECT 1 FROM l1 z
        |      WHERE z.s = x.s AND z.v = h.w)
        |  GROUP BY x.s, h.w
        |), l3 AS (
        |  SELECT x.s, h.w AS v, CAST(SUM(x.sig) AS BIGINT) AS sig
        |  FROM l2 x JOIN hop h ON h.m = x.v
        |  WHERE h.w <> x.s
        |    AND NOT EXISTS (SELECT 1 FROM l1 z
        |      WHERE z.s = x.s AND z.v = h.w)
        |    AND NOT EXISTS (SELECT 1 FROM l2 z
        |      WHERE z.s = x.s AND z.v = h.w)
        |  GROUP BY x.s, h.w
        |), del2 AS (
        |  SELECT x.s, x.v,
        |    CAST(SUM((x.sig * 1000000) // w.sig) AS BIGINT) AS d
        |  FROM l2 x JOIN hop h ON h.m = x.v
        |  JOIN l3 w ON w.s = x.s AND w.v = h.w
        |  GROUP BY x.s, x.v
        |), del1 AS (
        |  SELECT x.s, x.v,
        |    CAST(SUM((x.sig * (1000000 + COALESCE(d2.d, 0))) // w.sig)
        |      AS BIGINT) AS d
        |  FROM l1 x JOIN hop h ON h.m = x.v
        |  JOIN l2 w ON w.s = x.s AND w.v = h.w
        |  LEFT JOIN del2 d2 ON d2.s = w.s AND d2.v = w.v
        |  GROUP BY x.s, x.v
        |), contrib AS (
        |  SELECT s, v, d FROM del1
        |  UNION ALL
        |  SELECT s, v, d FROM del2)
        |SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS n_pivots,
        |  CAST(SUM(d) AS BIGINT) AS bc_micro
        |FROM contrib GROUP BY v
        |ORDER BY bc_micro DESC, node""").stripMargin,
    "sim_ann_nlist_curve" ->
      (Seq(4, 8, 16, 32).map(nlistPointSql)
        .mkString("", "\nUNION ALL\n", "\nORDER BY n_cells")),
    "ev_dynamic_rules" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |    CAST(ROUND(value * 1000) AS BIGINT) AS vm
        |  FROM events
        |), ctrl AS (
        |  SELECT user_id, event_id AS rule_seq, vm AS threshold
        |  FROM ev WHERE event_id % 10 = 0
        |), d AS (
        |  SELECT * FROM ev WHERE event_id % 10 <> 0
        |), j AS MATERIALIZED (
        |  -- MATERIALIZED: DuckDB otherwise pushes the vm > threshold
        |  -- filter into the ASOF join and errors on the second
        |  -- inequality
        |  SELECT d.user_id, d.event_id, d.vm, c.rule_seq, c.threshold
        |  FROM d ASOF JOIN ctrl c
        |    ON d.user_id = c.user_id AND d.event_id >= c.rule_seq)
        |SELECT user_id, event_id, vm, rule_seq, threshold
        |FROM j WHERE vm > threshold
        |ORDER BY user_id, event_id""".stripMargin,
    "eval_distinct_n" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    generate_subscripts(
        |      string_split_regex(trim(text), '\s+'), 1) AS pos,
        |    lower(unnest(string_split_regex(trim(text), '\s+')))
        |      AS tok
        |  FROM documents
        |), g1 AS (
        |  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS u1,
        |    CAST(COUNT(*) AS BIGINT) AS t1
        |  FROM tk GROUP BY source
        |), b AS (
        |  SELECT a.source, a.tok || ' ' || x.tok AS g
        |  FROM tk a JOIN tk x
        |    ON x.doc_id = a.doc_id AND x.pos = a.pos + 1
        |), g2 AS (
        |  SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS u2,
        |    CAST(COUNT(*) AS BIGINT) AS t2
        |  FROM b GROUP BY source
        |), tr AS (
        |  SELECT a.source,
        |    a.tok || ' ' || x.tok || ' ' || y.tok AS g
        |  FROM tk a
        |  JOIN tk x ON x.doc_id = a.doc_id AND x.pos = a.pos + 1
        |  JOIN tk y ON y.doc_id = a.doc_id AND y.pos = a.pos + 2
        |), g3 AS (
        |  SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS u3,
        |    CAST(COUNT(*) AS BIGINT) AS t3
        |  FROM tr GROUP BY source)
        |SELECT g1.source, u1, t1, (u1 * 1000000) // t1 AS d1_micro,
        |  u2, t2, (u2 * 1000000) // t2 AS d2_micro,
        |  u3, t3, (u3 * 1000000) // t3 AS d3_micro
        |FROM g1
        |JOIN g2 ON g2.source = g1.source
        |JOIN g3 ON g3.source = g1.source
        |ORDER BY g1.source""".stripMargin,
    "eval_self_bleu" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    generate_subscripts(
        |      string_split_regex(trim(text), '\s+'), 1) AS pos,
        |    lower(unnest(string_split_regex(trim(text), '\s+')))
        |      AS tok
        |  FROM documents
        |), uni AS (
        |  SELECT source, doc_id, tok AS g,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tk GROUP BY source, doc_id, tok
        |), bi AS (
        |  SELECT a.source, a.doc_id, a.tok || ' ' || b.tok AS g,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tk a JOIN tk b
        |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY a.source, a.doc_id, a.tok || ' ' || b.tok
        |), u1 AS (
        |  SELECT *, MAX(c) OVER (PARTITION BY source, g) AS m1
        |  FROM uni
        |), u2 AS (
        |  SELECT *,
        |    CAST(SUM(CASE WHEN c = m1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY source, g) AS BIGINT) AS n1,
        |    MAX(CASE WHEN c < m1 THEN c END)
        |      OVER (PARTITION BY source, g) AS m2
        |  FROM u1
        |), up AS (
        |  SELECT source, doc_id,
        |    CAST(SUM(LEAST(c, CASE WHEN c < m1 OR n1 >= 2 THEN m1
        |      ELSE COALESCE(m2, 0) END)) AS BIGINT) AS p1_num,
        |    CAST(SUM(c) AS BIGINT) AS p1_den
        |  FROM u2 GROUP BY source, doc_id
        |), b1 AS (
        |  SELECT *, MAX(c) OVER (PARTITION BY source, g) AS m1
        |  FROM bi
        |), b2 AS (
        |  SELECT *,
        |    CAST(SUM(CASE WHEN c = m1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY source, g) AS BIGINT) AS n1,
        |    MAX(CASE WHEN c < m1 THEN c END)
        |      OVER (PARTITION BY source, g) AS m2
        |  FROM b1
        |), bp AS (
        |  SELECT source, doc_id,
        |    CAST(SUM(LEAST(c, CASE WHEN c < m1 OR n1 >= 2 THEN m1
        |      ELSE COALESCE(m2, 0) END)) AS BIGINT) AS p2_num,
        |    CAST(SUM(c) AS BIGINT) AS p2_den
        |  FROM b2 GROUP BY source, doc_id
        |), docs AS (
        |  SELECT u.source, u.doc_id, u.p1_num, u.p1_den,
        |    COALESCE(b.p2_num, 0) AS p2_num,
        |    COALESCE(b.p2_den, 0) AS p2_den
        |  FROM up u LEFT JOIN bp b
        |    ON b.source = u.source AND b.doc_id = u.doc_id
        |), scored AS (
        |  SELECT source, doc_id,
        |    (p1_num * 1000000) // p1_den AS p1_micro,
        |    CASE WHEN p2_den = 0 THEN 0
        |      ELSE (p2_num * 1000000) // p2_den END AS p2_micro,
        |    CASE WHEN p1_num = 0 OR p2_num = 0 OR p2_den = 0 THEN 0
        |    ELSE CAST(round(exp(0.5
        |        * (ln(CAST(p1_num AS DOUBLE) / CAST(p1_den AS DOUBLE))
        |         + ln(CAST(p2_num AS DOUBLE) / CAST(p2_den AS DOUBLE))))
        |      * 1e6) AS BIGINT) END AS bleu_micro
        |  FROM docs)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(p1_micro) AS BIGINT) // COUNT(*) AS mean_p1_micro,
        |  CAST(SUM(p2_micro) AS BIGINT) // COUNT(*) AS mean_p2_micro,
        |  CAST(SUM(bleu_micro) AS BIGINT) // COUNT(*)
        |    AS self_bleu_micro
        |FROM scored GROUP BY source
        |ORDER BY source""".stripMargin,
  )
}
