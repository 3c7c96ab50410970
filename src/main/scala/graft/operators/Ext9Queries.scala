package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 batch 2: embedding analytics (top principal component via
  * an integer-lattice power iteration), tokenizer training (BPE-style
  * first-merge pair counting over the distinct-word vocabulary), and
  * incremental view maintenance of a two-changelog join view — the
  * shape a CDC engine uses to keep a joined materialized view fresh
  * without rejoining the world (reference materialized views are
  * recomputed per batch over the batch only, README.md:60-88; IVM is
  * the same contract extended to a two-source join).
  */
object Ext9Queries {

  private val Dim = 64        // embeddings.embedding width
  private val PcaIters = 6    // fixed power-iteration count
  private val CovShift = BigInt(100000000L) // 10^8 covariance rescale
  private val VScale = BigInt(1000000L)     // iterate lattice = 1e-6

  /** Top principal component of the embedding corpus by power
    * iteration, engine-portable exact: every step is integer
    * arithmetic on a shared lattice, so Spark and the DuckDB oracle
    * produce bit-identical iterates.
    *
    *  1. quantize x -> m = round(x * 1e6)  (the proven int8-quantize
    *     rounding contract, exact in both engines);
    *  2. one distributed aggregate for the second-moment sums
    *     P_ij = sum m_i m_j and first moments S_i = sum m_i — the
    *     generate(i) x generate(j) fan-out partial-aggregates to
    *     Dim^2 rows per input partition before the one shuffle, so
    *     shuffle volume is O(Dim^2 * partitions), not O(rows);
    *  3. centered covariance C = n*P - S S^T on the driver (Dim^2
    *     BigInt cells — bounded bookkeeping, like the IVF centroid
    *     fit), truncated to C div 10^8 so iteration magnitudes fit
    *     128-bit integers at any SF;
    *  4. PcaIters power steps v' = sign(w) * (|w| * 1e6 div max|w|)
    *     with w = C v — L-infinity normalization instead of L2
    *     because max + integer division are order-independent and
    *     exact, where a floating sqrt(sum-of-squares) would hang the
    *     hash on summation order.
    *
    * 100 TB shape: the corpus is touched once by step 2's narrow
    * generate + partial agg; everything after runs on Dim^2 numbers.
    * Sign and direction are deterministic (same arithmetic on both
    * engines); convergence is spec-checked as a Rayleigh-quotient
    * bound vs double precision (the synthetic spectrum is nearly
    * flat, so captured variance — not direction — is the well-posed
    * convergence statement).
    */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val v = pcaFit(spark, dir)
    import spark.implicits._
    (0 until Dim).map(j => (j, v(j).toLong))
      .toDF("dim", "v_micro").orderBy("dim")
  }

  /** The power-iteration fit behind [[pcaPower]] and [[pcaProject]]:
    * returns the lattice iterate v (1e-6 units, L-infinity-normalized)
    * after PcaIters steps. Driver-side bounded bookkeeping — the
    * corpus contributes only Dim^2 + Dim aggregate cells. The fit is
    * memoized per data directory (the IVFPQ persisted-index pattern in
    * miniature: fit once, project many) — the inputs are immutable
    * test fixtures and the computation is deterministic, so the cache
    * can never go stale within a process.
    */
  private val fitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[BigInt]]()

  /** Drop memoized fits. Harnesses that time queries (Bench/QBench)
    * MUST call this wherever they clearCache(), or the timed pass
    * measures a memo hit; likewise after overwriting a data dir
    * in-process (the key is the dir string only). Also drops the
    * quantizer fit-sample memo ([[Similarity.clearFitSampleCache]]) —
    * ONE hook clears every per-process fit memo, so the existing
    * harness call sites stay sufficient.
    */
  def clearFitCache(): Unit = {
    fitCache.clear()
    Similarity.clearFitSampleCache()
  }

  private def pcaFit(spark: SparkSession, dir: String): Array[BigInt] =
    fitCache.computeIfAbsent(dir, d => pcaFitUncached(spark, d))

  private def pcaFitUncached(
      spark: SparkSession, dir: String): Array[BigInt] = {
    val m = t(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("m"))
    // persisted for the two fit aggregates (second moments + first
    // moments) so the corpus scan+explode runs once, as documented;
    // the fit is eager, so the unpersist below is deterministic
    val ex = m.select(posexplode(col("m")).as(Seq("i", "mi")), col("m"))
      .persist()
    try {
    // long*long before the decimal cast: |m| <= ~2e6 so the product is
    // overflow-safe; the decimal(38,0) sum keeps partials exact.
    val pRows = ex
      .select(col("i"), col("mi"),
        posexplode(col("m")).as(Seq("j", "mj")))
      .groupBy("i", "j")
      .agg(sum((col("mi") * col("mj")).cast("decimal(38,0)")).as("p"))
      .collect()
    val sRows = ex.groupBy("i")
      .agg(sum(col("mi").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("cnt"))
      .collect()
    // fail loudly on degenerate input instead of NPE/collect-order
    // dependence: the oracle's COUNT(*) contract needs every row to
    // carry all Dim dimensions
    require(sRows.nonEmpty, "pcaFit: embeddings table is empty")
    require(sRows.length == Dim && sRows.map(_.getLong(2)).distinct
      .lengthCompare(1) == 0,
      s"pcaFit: ragged embedding arrays (expect uniform width $Dim)")
    val n = BigInt(sRows.head.getLong(2))
    val s = Array.ofDim[BigInt](Dim)
    sRows.foreach(r => s(r.getInt(0)) = BigInt(r.getDecimal(1).toBigInteger))
    val cs = Array.fill(Dim, Dim)(BigInt(0))
    pRows.foreach { r =>
      val c = n * BigInt(r.getDecimal(2).toBigInteger) -
        s(r.getInt(0)) * s(r.getInt(1))
      // sign-split truncation: BigInt / rounds toward zero but the
      // oracle's // floors — on |c| both agree, so divide magnitudes
      cs(r.getInt(0))(r.getInt(1)) = c.sign * (c.abs / CovShift)
    }
    var v = Array.fill(Dim)(VScale)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(Dim)(i =>
        (0 until Dim).map(j => cs(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      if (mx != 0) v = w.map(x => BigInt(x.signum) * (x.abs * VScale / mx))
    }
    v
    } finally ex.unpersist()
  }

  /** Corpus projection onto the fitted top component — the score a
    * curation pipeline buckets/filters on (e.g. diversity-aware
    * sampling along the dominant axis). The fit is the same bounded
    * driver-side bookkeeping as [[pcaPower]]; the projection is a
    * NARROW codegen'd map over literal coefficients (the IVF
    * literal-centroid pattern: no join, no shuffle, corpus touched
    * once) — exactly the plan this takes on a 1000-executor cluster.
    * proj is on the 1e-12 lattice (m · v, both 1e-6 scaled).
    */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val v = pcaFit(spark, dir)
    val vLit = array(v.map(x => lit(x.toLong)): _*)
    t(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        aggregate(
          zip_with(
            transform(col("embedding"),
              x => round(x.cast("double") * 1e6).cast("long")),
            vLit, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("proj"))
      .orderBy("vec_id")
  }

  /** BPE-style first merge candidates: top adjacent character pairs
    * by corpus frequency. The real tokenizer-training shape — pair
    * counts run over the DISTINCT-WORD vocabulary weighted by word
    * frequency, not over raw text: at 100 TB the vocabulary is
    * sublinear in the corpus, so the expensive pair fan-out explodes
    * |vocab| rows, while the corpus itself is touched only by the
    * word-count groupBy (narrow split + partial-agg). The final top-k
    * runs on the pair vocabulary (<= 26^2 keys for ascii) — the
    * global window is over a bounded table, not the data.
    */
  def bpeFirstMerge(spark: SparkSession, dir: String): DataFrame = {
    val words = t(spark, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val pairs = words
      .select(col("cnt"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("cnt").as("n"))
    // bounded domain: `pairs` is one row per distinct 2-char pair
    // (≤ 26² over [a-z] words) — alphabet-bounded, not corpus-sized
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    pairs.withColumn("merge_rank", row_number().over(w))
      .filter(col("merge_rank") <= 20)
      .orderBy("merge_rank")
  }

  /** Incremental view maintenance of a joined materialized view fed
    * by two changelog streams (A: even event ids carry a value; B:
    * odd event ids carry a type; ~20% of each — seq % 5 = 4 — arrive
    * as the delta batch).
    *
    * The maintained view is LWW(A) inner-join LWW(B) on the key. The
    * incremental step recomputes ONLY keys touched by the delta:
    *   V_new = (V_old anti-join touched) union
    *           (LWW(A|touched) join LWW(B|touched))
    * with both full-history sides semi-join-pruned to the touched key
    * set before their LWW — at 100 TB, V_old and the per-source state
    * are bucketed stored tables, so the anti/semi joins partition-
    * prune to the touched buckets and the recompute cost follows the
    * delta, not the table (same contract as KeyedTableSink's
    * touched-bucket rewrite). The oracle computes the identical view
    * by full recompute — IVM == full is exactly the invariant.
    */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("event_id"),
      col("user_id"), col("event_type"),
      round(col("value") * 1000).cast("long").as("value_milli"))
    val a = ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id").as("a_seq"),
        col("value_milli").as("a_val"))
    val b = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("event_id").as("b_seq"),
        col("event_type").as("b_type"))
    val aBase = a.filter(col("a_seq") % 5 =!= 4)
    val bBase = b.filter(col("b_seq") % 5 =!= 4)
    val vOld = KeyedMerge.lww(aBase, Seq("user_id"), "a_seq")
      .join(KeyedMerge.lww(bBase, Seq("user_id"), "b_seq"),
        Seq("user_id"))
    val touched = a.filter(col("a_seq") % 5 === 4).select("user_id")
      .union(b.filter(col("b_seq") % 5 === 4).select("user_id"))
      .distinct()
    val aNewT = KeyedMerge.lww(
      a.join(touched, Seq("user_id"), "left_semi"),
      Seq("user_id"), "a_seq")
    val bNewT = KeyedMerge.lww(
      b.join(touched, Seq("user_id"), "left_semi"),
      Seq("user_id"), "b_seq")
    vOld.join(touched, Seq("user_id"), "left_anti")
      .unionByName(aNewT.join(bNewT, Seq("user_id")))
      .select("user_id", "a_val", "a_seq", "b_type", "b_seq")
      .orderBy("user_id")
  }

  /** Incremental maintenance of an AGGREGATE view under a changelog
    * with retractions — the Flink-retract-stream contract on a batch
    * micro-update. Rows are keyed by user_id (LWW on event_id);
    * `event_id % 7 == 0` is an erase marker (coprime with the
    * seq % 5 delta selector, so delta batches contain erases); the maintained view is
    * GROUP BY event_type over LIVE last-writer rows. The delta batch
    * (seq % 5 = 4) updates the view by group-wise retraction:
    *
    *   V_new = V_old - contrib(oldLive | touched) + contrib(newLive | touched)
    *
    * so only the TOUCHED keys' state is re-read (semi-join prune on
    * the key — at 100 TB the per-key state is a bucketed table and
    * both reads partition-prune to the touched buckets); the group
    * adjustment is a union + re-aggregate over |groups| + 2·|touched|
    * rows, never the full corpus. Groups whose live count hits zero
    * drop out (the retract-to-empty case). The oracle computes the
    * same view by full recompute — IVM == full is the invariant.
    */
  def ivmAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1000).cast("long").as("vm"),
      (col("event_id") % 7 === 0).as("del"))
    def live(df: DataFrame): DataFrame =
      KeyedMerge.lww(df, Seq("user_id"), "event_id")
        .filter(!col("del"))
    // the base-state LWW feeds both the view leg and the retract leg:
    // plan-keyed cache() on the LWW RESULT so the window runs once
    // per materialization (caching the filtered input would still
    // compute the window twice)
    val liveBase = live(ev.filter(col("event_id") % 5 =!= 4)).cache()
    val touched = ev.filter(col("event_id") % 5 === 4)
      .select("user_id").distinct()
    def contrib(df: DataFrame, sign: Int): DataFrame =
      df.groupBy("event_type")
        .agg((count(lit(1)) * sign).as("n_users"),
          (sum(col("vm")) * sign).as("sum_milli"))
    val vOld = contrib(liveBase, 1)
    val retract = contrib(
      liveBase.join(touched, Seq("user_id"), "left_semi"), -1)
    val add = contrib(
      live(ev.join(touched, Seq("user_id"), "left_semi")), 1)
    vOld.unionByName(retract).unionByName(add)
      .groupBy("event_type")
      .agg(sum(col("n_users")).as("n_users"),
        sum(col("sum_milli")).as("sum_milli"))
      .filter(col("n_users") > 0)
      .orderBy("event_type")
  }

  /** Incremental maintenance of a HISTOGRAM view (32 fixed bins of
    * value_milli, width 5200, top bin open — the sketch_histogram
    * lattice) under the same retract-stream contract as [[ivmAgg]]:
    * touched keys subtract their old binned contribution and add the
    * new one, so any percentile is read off the maintained bins
    * without ever rescanning the keyed state — the IVM form of a
    * quantile dashboard (count + value mass per bin; bins whose live
    * count hits zero drop out). Oracle = full recompute over the
    * final LWW state; IVM == full is the invariant.
    *
    * 100 TB shape: identical to ivmAgg — semi-join prune on touched
    * keys (bucket-pruned on a bucketed sink), re-aggregate over
    * |bins| + 2·|touched| rows.
    */
  def ivmHist(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(
      col("event_id"), col("user_id"),
      round(col("value") * 1000).cast("long").as("vm"),
      (col("event_id") % 7 === 0).as("del"))
    def live(df: DataFrame): DataFrame =
      KeyedMerge.lww(df, Seq("user_id"), "event_id")
        .filter(!col("del"))
    val liveBase = live(ev.filter(col("event_id") % 5 =!= 4)).cache()
    val touched = ev.filter(col("event_id") % 5 === 4)
      .select("user_id").distinct()
    def contrib(df: DataFrame, sign: Int): DataFrame =
      df.withColumn("bin", least(expr("vm div 5200"), lit(31L)))
        .groupBy("bin")
        .agg((count(lit(1)) * sign).as("n_rows"),
          (sum(col("vm")) * sign).as("sum_milli"))
    contrib(liveBase, 1)
      .unionByName(contrib(
        liveBase.join(touched, Seq("user_id"), "left_semi"), -1))
      .unionByName(contrib(
        live(ev.join(touched, Seq("user_id"), "left_semi")), 1))
      .groupBy("bin")
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_milli")).as("sum_milli"))
      .filter(col("n_rows") > 0)
      .orderBy("bin")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca_power" -> pcaPower _,
    "embed_pca_project" -> pcaProject _,
    "tok_bpe_first_merge" -> bpeFirstMerge _,
    "cdc_ivm_join" -> ivmJoin _,
    "cdc_ivm_agg" -> ivmAgg _,
    "cdc_ivm_hist" -> ivmHist _,
  )

  /** The PCA oracle replays the identical integer lattice: HUGEINT
    * sums (exact, order-free), the same sign-split // divisions, one
    * unrolled CTE pair per power step. MATERIALIZED: DuckDB 1.0 inlines
    * CTEs, copying the `mm ⋈ mm` subtree exponentially often (OOM).
    */
  private def pcaIterCte(k: Int): String =
    s"""w$k AS MATERIALIZED (
       |  SELECT cs.i AS j, SUM(cs.cs * v${k - 1}.v) AS w
       |  FROM cs JOIN v${k - 1} ON v${k - 1}.j = cs.j GROUP BY cs.i
       |), m$k AS MATERIALIZED (
       |  SELECT MAX(ABS(w)) AS mx FROM w$k
       |), v$k AS MATERIALIZED (
       |  SELECT w$k.j,
       |    CASE WHEN m$k.mx = 0 THEN vp.v
       |         WHEN w < 0 THEN -(((-w) * 1000000) // m$k.mx)
       |         ELSE (w * 1000000) // m$k.mx END AS v
       |  FROM w$k CROSS JOIN m$k JOIN v${k - 1} vp ON vp.j = w$k.j
       |)""".stripMargin

  /** Shared fit prefix: the mm/cov/power-step CTE chain both PCA
    * oracles build on.
    */
  private def pcaFitSql: String =
    s"""WITH mm AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS m
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), nn AS MATERIALIZED (
        |  SELECT COUNT(*) AS n FROM embeddings
        |  WHERE embedding IS NOT NULL
        |), s AS MATERIALIZED (
        |  SELECT i, SUM(m) AS s FROM mm GROUP BY i
        |), p AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j, SUM(a.m * b.m) AS p
        |  FROM mm a JOIN mm b ON a.vec_id = b.vec_id
        |  GROUP BY a.i, b.i
        |), c AS MATERIALIZED (
        |  SELECT p.i, p.j, nn.n * p.p - sa.s * sb.s AS c
        |  FROM p CROSS JOIN nn
        |  JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
        |), cs AS MATERIALIZED (
        |  SELECT i, j, CASE WHEN c < 0 THEN -((-c) // 100000000)
        |    ELSE c // 100000000 END AS cs
        |  FROM c
        |), v0 AS MATERIALIZED (
        |  SELECT i AS j, CAST(1000000 AS HUGEINT) AS v FROM s
        |), """.stripMargin +
      (1 to PcaIters).map(pcaIterCte).mkString(",\n")

  def oracle: Map[String, String] = Map(
    "embed_pca_power" -> (pcaFitSql +
      s"""
        |SELECT CAST(j AS INT) AS dim, CAST(v AS BIGINT) AS v_micro
        |FROM v$PcaIters ORDER BY dim""".stripMargin),
    "embed_pca_project" -> (pcaFitSql +
      s"""
        |SELECT mm.vec_id, e.label,
        |  CAST(SUM(mm.m * vf.v) AS BIGINT) AS proj
        |FROM mm JOIN v$PcaIters vf ON vf.j = mm.i
        |JOIN embeddings e ON e.vec_id = mm.vec_id
        |GROUP BY mm.vec_id, e.label
        |ORDER BY mm.vec_id""".stripMargin),
    "tok_bpe_first_merge" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+'))
        |    AS word
        |  FROM documents
        |), wc AS (
        |  SELECT word, COUNT(*) AS cnt FROM w
        |  WHERE length(word) >= 2 GROUP BY word
        |), pr AS (
        |  SELECT substr(word, CAST(i AS INT), 2) AS pair, cnt
        |  FROM wc, UNNEST(range(1, length(word))) AS r(i)
        |), pc AS (
        |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM pr
        |  GROUP BY pair
        |), rk AS (
        |  SELECT pair, n, CAST(ROW_NUMBER() OVER (
        |    ORDER BY n DESC, pair) AS INT) AS merge_rank
        |  FROM pc)
        |SELECT pair, n, merge_rank FROM rk
        |WHERE merge_rank <= 20 ORDER BY merge_rank""".stripMargin,
    "cdc_ivm_agg" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(ROUND(value * 1000) AS BIGINT) AS vm,
        |    event_id % 7 = 0 AS del
        |  FROM events
        |), last AS (
        |  SELECT ev.*, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(vm) AS BIGINT) AS sum_milli
        |FROM last WHERE rn = 1 AND NOT del
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "cdc_ivm_hist" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CAST(ROUND(value * 1000) AS BIGINT) AS vm,
        |    event_id % 7 = 0 AS del
        |  FROM events
        |), last AS (
        |  SELECT ev.*, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY event_id DESC) AS rn
        |  FROM ev)
        |SELECT least(vm // 5200, 31) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(vm) AS BIGINT) AS sum_milli
        |FROM last WHERE rn = 1 AND NOT del
        |GROUP BY least(vm // 5200, 31) ORDER BY bin""".stripMargin,
    "cdc_ivm_join" ->
      """WITH a AS (
        |  SELECT user_id, event_id AS a_seq,
        |    CAST(ROUND(value * 1000) AS BIGINT) AS a_val,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id % 2 = 0
        |), b AS (
        |  SELECT user_id, event_id AS b_seq, event_type AS b_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT a.user_id, a.a_val, a.a_seq, b.b_type, b.b_seq
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE a.rn = 1 AND b.rn = 1
        |ORDER BY a.user_id""".stripMargin,
  )
}
