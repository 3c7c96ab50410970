package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality operators — the profiling/validation stage every
  * production ingest pipeline runs before training-data assembly
  * (the role Deequ/Great-Expectations play): a one-pass column
  * profiler and a declarative constraint-check suite.
  *
  * Scale shape: the profiler is ONE scan — every per-column statistic
  * (null count, exact distinct, min/max) is an aggregate of the same
  * pass; Spark plans the multi-column DISTINCT set via a single
  * Expand (one shuffle, expand factor = #distinct columns), which is
  * the canonical distributed shape for multi-distinct profiling. The
  * long-format output is a driver-free unpivot (explode over a
  * 1-row aggregate). Constraint checks are each one aggregate or one
  * broadcast/anti join; nothing rescans the fact table more than the
  * declared number of passes.
  *
  * Cross-engine canonicalization: min/max are reported as strings via
  * type-specific rules (ints/strings/timestamps cast directly;
  * doubles through DECIMAL(18,4)) so Spark and DuckDB render
  * identical bytes.
  */
object DataQuality {

  /** kind: "int" | "num" (double via decimal) | "str" | "ts" */
  private val lineitemCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
    "l_linenumber" -> "int", "l_quantity" -> "num",
    "l_extendedprice" -> "num", "l_discount" -> "num",
    "l_tax" -> "num", "l_returnflag" -> "str",
    "l_linestatus" -> "str", "l_shipdate" -> "ts")

  private def canon(c: Column, kind: String): Column = kind match {
    case "num" => c.cast("decimal(18,4)").cast("string")
    case _     => c.cast("string")
  }

  /** One-pass long-format profile of every lineitem column. */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "lineitem")
    val aggExprs: Seq[Column] =
      count(lit(1)).as("__n") +: lineitemCols.flatMap { case (c, k) =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__nd"),
          canon(min(col(c)), k).as(s"${c}__min"),
          canon(max(col(c)), k).as(s"${c}__max"))
      }
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    one
      .select(explode(array(lineitemCols.map { case (c, _) =>
        struct(lit(c).as("col_name"), col("__n").as("n_rows"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__min").as("min_v"),
          col(s"${c}__max").as("max_v"))
      }: _*)).as("p"))
      .select(col("p.*"))
      .withColumn("completeness", round(
        lit(1.0) - col("n_nulls").cast("double")
          / col("n_rows").cast("double"), 6))
      .orderBy("col_name")
  }

  /** Declarative constraint suite over the star schema: PK
    * uniqueness, referential integrity, domain and range rules.
    * Each check reports its violation count; `passed` = zero.
    */
  def checks(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    def onerow(name: String, viol: DataFrame): DataFrame =
      viol.select(lit(name).as("check_name"),
        col("n_violations").cast("long").as("n_violations"))
    val pkDup = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
      .agg(coalesce(sum(col("cnt") - 1), lit(0L)).as("n_violations"))
    val fkOrdCust = ord.join(cust,
        ord("o_custkey") === cust("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    val fkLiOrd = li.join(ord,
        li("l_orderkey") === ord("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    // the five row-predicate checks fuse into ONE lineitem scan (a
    // single aggregate of five conditional sums, unpivoted to rows) —
    // at 100 TB every separate check-scan of the fact table is real
    // cost; only the PK groupBy and the two FK anti-joins need their
    // own pass
    val rowChecks: Seq[(String, Column)] = Seq(
      "lineitem_quantity_positive" ->
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)),
      "lineitem_discount_range" ->
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)),
      "lineitem_price_nonnegative" ->
        sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L)),
      "lineitem_returnflag_domain" ->
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
          .otherwise(0L)),
      "lineitem_shipdate_not_null" ->
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)))
    val fusedAggs = rowChecks.zipWithIndex.map { case ((_, c), i) =>
      c.as(s"v_$i") }
    val fused = li.agg(fusedAggs.head, fusedAggs.tail: _*)
      .select(explode(array(rowChecks.zipWithIndex.map {
        case ((name, _), i) =>
          struct(lit(name).as("check_name"),
            col(s"v_$i").cast("long").as("n_violations"))
      }: _*)).as("c"))
      .select(col("c.*"))
    Seq(
      onerow("lineitem_pk_unique", pkDup),
      onerow("orders_custkey_fk", fkOrdCust),
      onerow("lineitem_orderkey_fk", fkLiOrd),
      fused)
      .reduce(_.unionAll(_))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("check_name")
  }

  /** Distribution-drift monitor (PSI — population stability index,
    * the standard production feature-drift metric): the events table
    * is split at the midpoint day into a reference and a current
    * window, and each monitored feature's bucketed distribution is
    * compared across the split. `value` buckets into 10 equal-width
    * bins FIXED ON THE REFERENCE window (standard PSI practice;
    * out-of-range current values clamp to the edge bins);
    * `event_type` buckets are its categories. Add-one smoothing keeps
    * empty buckets finite; psi = Σ (p−q)·ln(p/q), drifted at the
    * conventional 0.1 threshold.
    *
    * Scale shape: two tiny 1-row bound aggregates (plan-embedded via
    * broadcast cross-join — never a driver-side collect) + one
    * counting pass per feature; every shuffle carries bucket-level
    * partial counts (≤ max(10, |categories|) rows). The split day and
    * bucket edges are single IEEE expressions evaluated identically
    * by any engine, so the bucketing is cross-engine exact.
    */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(expr("ts div 1000").as("us"), col("event_type"),
        col("value"))
      // FLOOR division, not `div`: Spark `div` truncates toward zero
      // while DuckDB `//` floors, which disagrees on negative
      // (pre-1970) timestamps. (a - pmod(a, d)) div d floors exactly
      // in integer arithmetic on both engines.
      .withColumn("day",
        expr("(us - pmod(us, 86400000000)) div 86400000000"))
    val dayB = broadcast(ev
      .agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
      .select(expr(
        "(mnd + mxd + 1 - pmod(mnd + mxd + 1, 2)) div 2")
        .as("split_day")))
    val withW = ev.crossJoin(dayB)
      .withColumn("is_ref", col("day") < col("split_day"))
    // numeric feature: bins fixed on the reference window (hinted at the
    // cross join only: the spine below is a left join's left side)
    val vb = withW.filter(col("is_ref"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    // vmax == vmin (constant reference window) would divide by zero:
    // NaN/Infinity crashes the ANSI int cast and diverges from the
    // oracle — collapse that case to bucket 0
    val bucketed = withW.crossJoin(broadcast(vb))
      .filter(col("value").isNotNull)
      .withColumn("bucket", when(col("vmax") === col("vmin"), lit(0))
        .otherwise(least(greatest(
          floor((col("value") - col("vmin")) * 10
            / (col("vmax") - col("vmin"))).cast("int"), lit(0)),
          lit(9))))
    val vCounts = bucketed.groupBy(col("bucket"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_cnt"))
    // 0..9 spine off the 1-row bounds frame so empty bins still
    // contribute their smoothed term
    val spine = vb.select(explode(sequence(lit(0), lit(9)))
      .as("bucket"))
    val vFull = spine.join(vCounts, Seq("bucket"), "left")
      .withColumn("ref_cnt", coalesce(col("ref_cnt"), lit(0L)))
      .withColumn("cur_cnt", coalesce(col("cur_cnt"), lit(0L)))
    def psiOf(df: DataFrame, feature: String): DataFrame = {
      val tot = df.agg(sum(col("ref_cnt")).as("ref_n"),
        sum(col("cur_cnt")).as("cur_n"),
        count(lit(1)).as("nb"))
      df.crossJoin(broadcast(tot))
        .withColumn("p", (col("ref_cnt") + 1).cast("double")
          / (col("ref_n") + col("nb")).cast("double"))
        .withColumn("q", (col("cur_cnt") + 1).cast("double")
          / (col("cur_n") + col("nb")).cast("double"))
        .agg(max(col("ref_n")).as("n_ref"),
          max(col("cur_n")).as("n_cur"),
          max(col("nb")).as("n_buckets"),
          round(sum((col("p") - col("q")) * log(col("p") / col("q"))),
            6).as("psi"))
        .select(lit(feature).as("feature"), col("n_ref"), col("n_cur"),
          col("n_buckets"), col("psi"),
          (col("psi") > 0.1).as("drifted"))
    }
    // categorical feature: category spine is every observed category
    val cCounts = withW.groupBy(col("event_type"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_cnt"))
    psiOf(vFull, "value").unionAll(psiOf(cCounts, "event_type"))
      .orderBy("feature")
  }

  /** K-anonymity audit over a generalization lattice: for each
    * generalization level of the quasi-identifier set (level 0 = the
    * full set incl. a banded numeric, each next level drops/coarsens
    * one attribute), report group count, the anonymity level
    * (min group size), violating groups under k=5, and the rows at
    * re-identification risk. The release decision is "first level
    * with k_ok" — the standard Datafly-style walk, here evaluated in
    * one pass per level.
    *
    * 100 TB shape: each level is one hash aggregate over the quasi-id
    * key (partial agg collapses map-side) followed by a bounded
    * summary aggregate; levels are independent scans that a real
    * deployment would fuse via grouping sets if the quasi-id columns
    * nest (they do here only partially: the acctbal band is dropped,
    * not coarsened, so the three levels are distinct key sets).
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val k = 5L
    def level(lvl: Int, cols: Seq[Column]): DataFrame =
      cust.groupBy(cols: _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("n")).as("min_k"),
          sum(when(col("n") < k, 1L).otherwise(0L))
            .as("n_violating"),
          sum(when(col("n") < k, col("n")).otherwise(0L))
            .as("rows_at_risk"))
        .select(lit(lvl).as("level"), col("n_groups"), col("min_k"),
          col("n_violating"), col("rows_at_risk"),
          (col("min_k") >= k).as("k_ok"))
    val band = floor(col("c_acctbal") / 2000).cast("long").as("bal_band")
    level(0, Seq(col("c_nationkey"), col("c_mktsegment"), band))
      .unionByName(level(1, Seq(col("c_nationkey"), col("c_mktsegment"))))
      .unionByName(level(2, Seq(col("c_mktsegment"))))
      .orderBy("level")
  }

  /** L-diversity companion to [[kAnonymity]]: within each level-1
    * quasi-identifier group, how many DISTINCT sensitive values
    * (banded account balance) appear — a k-anonymous group whose
    * members all share one sensitive value still leaks it
    * (homogeneity attack). One hash aggregate on the quasi-id key
    * with a distinct-count (two-level agg under the hood, both
    * partial-combinable); output is the bounded group table with the
    * l >= 3 release flag.
    */
  /** t-closeness — completing the k-anonymity / l-diversity /
    * t-closeness privacy trio: per quasi-identifier group, the earth-
    * mover's distance (ordered categorical domain) between the group's
    * sensitive-attribute distribution and the global one. Everything
    * stays exact-rational on the shared denominator lattice:
    * EMD = sum_i |cumQ_i/n_g - cumP_i/N| / (m-1) is computed as
    * (sum_i |cumQ_i*N - cumP_i*n_g| * 1e6) div (n_g*N*(m-1)).
    * Shape: two bounded aggregates (groups, global band histogram),
    * dense grid = groups x broadcast band domain (|bands| <= 7), one
    * cumulative window per group — never a scan-sized shuffle.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("band"))
    val groups = cust.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_g"))
    val gband = cust.groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("c_gb"))
    val global = cust.groupBy("band").agg(count(lit(1)).as("c_b"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment").orderBy("band")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment")
    groups.crossJoin(broadcast(global))
      .join(gband, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("c_gb"))
      .withColumn("cum_g", sum("c_gb").over(wCum))
      .withColumn("cum_p", sum("c_b").over(wCum))
      .withColumn("nn", sum("c_b").over(wGrp))
      .withColumn("m", count(lit(1)).over(wGrp))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(max("n_g").as("n_g"),
        sum(abs(col("cum_g") * col("nn") - col("cum_p") * col("n_g")))
          .as("diff_sum"),
        max("nn").as("nn"), max("m").as("m"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"),
        expr("(diff_sum * 1000000) div (n_g * nn * (m - 1))")
          .as("emd_micro"))
      .withColumn("t_ok", col("emd_micro") <= 200000L)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("bal_band")).as("l_div"))
      .withColumn("l_ok", col("l_div") >= 3)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Per-day PSI against the frozen first-half reference — the batch
    * twin of `streaming/StreamingDrift` and the windowed refinement of
    * [[drift]] (one PSI per day instead of one per split half). This
    * query deliberately runs THROUGH the streaming monitor's code
    * path (`bucketOf` + `psiPerWindow`), so the oracle gate covers
    * the same arithmetic the stream executes. Bounds and split stay
    * plan-embedded 1-row broadcasts (lazy construction holds).
    */
  def driftWindows(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingDrift
    val ev = t(spark, dir, "events")
      .select(graft.Tables.eventsTsMicros.as("ts"), col("value"))
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("day",
        expr("(us - pmod(us, 86400000000)) div 86400000000"))
    val sp = broadcast(ev
      .agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
      .select(expr(
        "(mnd + mxd + 1 - pmod(mnd + mxd + 1, 2)) div 2")
        .as("split_day")))
    val withRef = ev.crossJoin(sp)
      .withColumn("is_ref", col("day") < col("split_day"))
    val vb = withRef.filter(col("is_ref"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val bucketed = withRef.crossJoin(broadcast(vb))
      .filter(col("value").isNotNull)
      .withColumn("bucket", StreamingDrift.bucketOf(col("value"),
        col("vmin"), col("vmax"), 10))
    val refCounts = bucketed.filter(col("is_ref"))
      .groupBy("bucket").agg(count(lit(1)).as("ref_cnt"))
    val curCounts = bucketed
      .groupBy(window(col("ts"), "1 day"), col("bucket"))
      .agg(count(lit(1)).as("cur_cnt"))
      .select(col("window.start").as("w_start"), col("bucket"),
        col("cur_cnt"))
    StreamingDrift.psiPerWindow(curCounts, refCounts, bins = 10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_profile_columns" -> profileColumns _,
    "dq_checks" -> checks _,
    "dq_drift" -> drift _,
    "dq_drift_windows" -> driftWindows _,
    "dq_k_anonymity" -> kAnonymity _,
    "dq_l_diversity" -> lDiversity _,
    "dq_t_closeness" -> tCloseness _)

  private val profileOracle: String = {
    val blocks = lineitemCols.map { case (c, k) =>
      val mn = if (k == "num")
        s"CAST(CAST(MIN($c) AS DECIMAL(18,4)) AS VARCHAR)"
      else s"CAST(MIN($c) AS VARCHAR)"
      val mx = if (k == "num")
        s"CAST(CAST(MAX($c) AS DECIMAL(18,4)) AS VARCHAR)"
      else s"CAST(MAX($c) AS VARCHAR)"
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_nulls,
  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
  $mn AS min_v, $mx AS max_v,
  ROUND(1.0 - CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
    AS DOUBLE) / COUNT(*), 6) AS completeness
FROM lineitem"""
    }
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  private val checksOracle: String =
    """WITH v AS (
      |  SELECT 'lineitem_pk_unique' AS check_name,
      |    CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_violations
      |  FROM (SELECT COUNT(*) AS cnt FROM lineitem
      |        GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
      |  UNION ALL
      |  SELECT 'orders_custkey_fk',
      |    CAST(COUNT(*) AS BIGINT) FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c
      |    WHERE c.c_custkey = o.o_custkey)
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_fk',
      |    CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_quantity_positive',
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_discount_range',
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_price_nonnegative',
      |    CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_returnflag_domain',
      |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_shipdate_not_null',
      |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) FROM lineitem)
      |SELECT check_name, n_violations, n_violations = 0 AS passed
      |FROM v ORDER BY check_name""".stripMargin

  private val driftOracle: String =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type, value
      |  FROM events
      |), sp AS (
      |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS split_day FROM ev
      |), w AS (
      |  SELECT e.*, e.day < s.split_day AS is_ref FROM ev e, sp s
      |), vb AS (
      |  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM w
      |  WHERE is_ref
      |), bk AS (
      |  SELECT CASE WHEN b.vmax = b.vmin THEN 0
      |    ELSE LEAST(GREATEST(CAST(FLOOR((w.value - b.vmin) * 10
      |      / (b.vmax - b.vmin)) AS INT), 0), 9) END AS bucket,
      |    w.is_ref
      |  FROM w, vb b WHERE w.value IS NOT NULL
      |), vc AS (
      |  SELECT s.bucket,
      |    COALESCE(SUM(CASE WHEN bk.is_ref THEN 1 ELSE 0 END), 0)
      |      AS ref_cnt,
      |    COALESCE(SUM(CASE WHEN NOT bk.is_ref THEN 1 ELSE 0 END), 0)
      |      AS cur_cnt
      |  FROM (SELECT UNNEST(range(0, 10)) AS bucket) s
      |  LEFT JOIN bk ON bk.bucket = s.bucket
      |  GROUP BY s.bucket
      |), vterms AS (
      |  SELECT ref_cnt, cur_cnt,
      |    CAST(ref_cnt + 1 AS DOUBLE)
      |      / (SUM(ref_cnt) OVER () + COUNT(*) OVER ()) AS p,
      |    CAST(cur_cnt + 1 AS DOUBLE)
      |      / (SUM(cur_cnt) OVER () + COUNT(*) OVER ()) AS q
      |  FROM vc
      |), vpsi AS (
      |  SELECT 'value' AS feature,
      |    CAST(SUM(ref_cnt) AS BIGINT) AS n_ref,
      |    CAST(SUM(cur_cnt) AS BIGINT) AS n_cur,
      |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    ROUND(SUM((p - q) * LN(p / q)), 6) AS psi
      |  FROM vterms
      |), cc AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_cnt,
      |    SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS cur_cnt
      |  FROM w GROUP BY event_type
      |), cterms AS (
      |  SELECT ref_cnt, cur_cnt,
      |    CAST(ref_cnt + 1 AS DOUBLE)
      |      / (SUM(ref_cnt) OVER () + COUNT(*) OVER ()) AS p,
      |    CAST(cur_cnt + 1 AS DOUBLE)
      |      / (SUM(cur_cnt) OVER () + COUNT(*) OVER ()) AS q
      |  FROM cc
      |), cpsi AS (
      |  SELECT 'event_type' AS feature,
      |    CAST(SUM(ref_cnt) AS BIGINT) AS n_ref,
      |    CAST(SUM(cur_cnt) AS BIGINT) AS n_cur,
      |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    ROUND(SUM((p - q) * LN(p / q)), 6) AS psi
      |  FROM cterms)
      |SELECT feature, n_ref, n_cur, n_buckets, psi,
      |  psi > 0.1 AS drifted
      |FROM (SELECT * FROM vpsi UNION ALL SELECT * FROM cpsi)
      |ORDER BY feature""".stripMargin

  val oracle: Map[String, String] = Map(
    "dq_profile_columns" -> profileOracle,
    "dq_checks" -> checksOracle,
    "dq_drift" -> driftOracle,
    "dq_drift_windows" ->
      """WITH ev AS (
        |  SELECT ts, value, epoch_us(ts) // 86400000000 AS day
        |  FROM events
        |), sp AS (
        |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS split_day FROM ev
        |), w AS (
        |  SELECT e.*, e.day < s.split_day AS is_ref FROM ev e, sp s
        |), vb AS (
        |  SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM w
        |  WHERE is_ref
        |), bk AS (
        |  SELECT date_trunc('day', w.ts) AS w_start,
        |    CASE WHEN b.vmax = b.vmin THEN 0
        |      ELSE LEAST(GREATEST(CAST(FLOOR((w.value - b.vmin) * 10
        |        / (b.vmax - b.vmin)) AS INT), 0), 9) END AS bucket,
        |    w.is_ref
        |  FROM w, vb b WHERE w.value IS NOT NULL
        |), rc AS (
        |  SELECT s.bucket,
        |    COALESCE(SUM(CASE WHEN bk.is_ref THEN 1 ELSE 0 END), 0)
        |      AS ref_cnt
        |  FROM (SELECT UNNEST(range(0, 10)) AS bucket) s
        |  LEFT JOIN bk ON bk.bucket = s.bucket
        |  GROUP BY s.bucket
        |), cw AS (
        |  SELECT w_start, bucket, COUNT(*) AS cur_cnt FROM bk
        |  GROUP BY w_start, bucket
        |), spine AS (SELECT DISTINCT w_start FROM cw
        |), fl AS (
        |  SELECT sp2.w_start, r.bucket, r.ref_cnt,
        |    COALESCE(c.cur_cnt, 0) AS cur_cnt
        |  FROM spine sp2 CROSS JOIN rc r
        |  LEFT JOIN cw c
        |    ON c.w_start = sp2.w_start AND c.bucket = r.bucket
        |), terms AS (
        |  SELECT w_start, ref_cnt, cur_cnt,
        |    CAST(ref_cnt + 1 AS DOUBLE)
        |      / (SUM(ref_cnt) OVER (PARTITION BY w_start)
        |         + COUNT(*) OVER (PARTITION BY w_start)) AS p,
        |    CAST(cur_cnt + 1 AS DOUBLE)
        |      / (SUM(cur_cnt) OVER (PARTITION BY w_start)
        |         + COUNT(*) OVER (PARTITION BY w_start)) AS q
        |  FROM fl)
        |SELECT w_start, CAST(SUM(cur_cnt) AS BIGINT) AS n_cur,
        |  ROUND(SUM((p - q) * LN(p / q)), 6) AS psi,
        |  ROUND(SUM((p - q) * LN(p / q)), 6) > 0.1 AS drifted
        |FROM terms
        |GROUP BY w_start
        |ORDER BY w_start""".stripMargin,
    "dq_k_anonymity" -> {
      def lvl(n: Int, cols: String): String =
        s"""SELECT $n AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
           |  CAST(MIN(n) AS BIGINT) AS min_k,
           |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
           |    AS rows_at_risk,
           |  MIN(n) >= 5 AS k_ok
           |FROM (SELECT COUNT(*) AS n FROM customer
           |      GROUP BY $cols)""".stripMargin
      lvl(0, "c_nationkey, c_mktsegment, " +
          "CAST(FLOOR(c_acctbal / 2000) AS BIGINT)") +
        "\nUNION ALL\n" + lvl(1, "c_nationkey, c_mktsegment") +
        "\nUNION ALL\n" + lvl(2, "c_mktsegment") +
        "\nORDER BY level"
    },
    "dq_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000) AS BIGINT))
        |    AS BIGINT) AS l_div,
        |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000) AS BIGINT)) >= 3
        |    AS l_ok
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "dq_t_closeness" ->
      """WITH cust AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS band
        |  FROM customer
        |), grp AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS n_g
        |  FROM cust GROUP BY c_nationkey, c_mktsegment
        |), gband AS (
        |  SELECT c_nationkey, c_mktsegment, band,
        |    CAST(COUNT(*) AS BIGINT) AS c_gb
        |  FROM cust GROUP BY c_nationkey, c_mktsegment, band
        |), gl AS (
        |  SELECT band, CAST(COUNT(*) AS BIGINT) AS c_b FROM cust
        |  GROUP BY band
        |), grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.band, b.c_b,
        |    COALESCE(gb.c_gb, 0) AS c_gb
        |  FROM grp g CROSS JOIN gl b
        |  LEFT JOIN gband gb ON gb.c_nationkey = g.c_nationkey
        |    AND gb.c_mktsegment = g.c_mktsegment AND gb.band = b.band
        |), cum AS (
        |  SELECT c_nationkey, c_mktsegment, n_g,
        |    SUM(c_gb) OVER w AS cum_g,
        |    SUM(c_b) OVER w AS cum_p,
        |    SUM(c_b) OVER wg AS nn,
        |    COUNT(*) OVER wg AS m
        |  FROM grid
        |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
        |    ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW),
        |  wg AS (PARTITION BY c_nationkey, c_mktsegment)
        |), agg AS (
        |  SELECT c_nationkey, c_mktsegment, MAX(n_g) AS n_g,
        |    CAST(SUM(abs(cum_g * nn - cum_p * n_g)) AS BIGINT)
        |      AS diff_sum,
        |    MAX(nn) AS nn, MAX(m) AS m
        |  FROM cum GROUP BY c_nationkey, c_mktsegment)
        |SELECT c_nationkey, c_mktsegment, n_g,
        |  CAST((diff_sum * 1000000) // (n_g * nn * (m - 1)) AS BIGINT)
        |    AS emd_micro,
        |  (diff_sum * 1000000) // (n_g * nn * (m - 1)) <= 200000
        |    AS t_ok
        |FROM agg
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)
}
