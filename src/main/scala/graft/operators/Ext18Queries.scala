package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 batch 4: experimentation, attribution, and interval
  * analytics.
  *
  *  - `ev_ab_ttest`: Welch two-sample t-test between the deterministic
  *    A/B split `user_id % 2` — the experiment-analysis primitive.
  *    ONE conditional aggregate produces both groups' exact integer
  *    moments (no join, no second pass); the t statistic and
  *    Welch–Satterthwaite df evaluate in doubles with identical
  *    expression text in both engines (moments overflow BIGINT at
  *    sf1 — n·Σx² ~ 1e24 — so the closed form goes through doubles
  *    BY DESIGN, the graph_assortativity precedent; sqrt is the only
  *    libm call).
  *  - `ev_attrib_touch`: multi-touch attribution — every click/view
  *    in the 10 minutes before a purchase shares the conversion
  *    credit, linear and U-shaped (40/20/40). The touch window IS the
  *    planned band join (`plans/BandJoinPlan.scala`, asymmetric
  *    before-only band) — the production use the operator was built
  *    for.
  *  - `ev_peak_concurrency`: peak concurrent sessions per day by
  *    distributed sweep-line: ±1 endpoint deltas from the shared
  *    30-min-gap sessionization, per-day running sums + a
  *    day-offset prefix from the bounded day table (the two-pass
  *    prefix-sum pattern of text_pack_sequences — NO global
  *    single-partition window over endpoints).
  *
  * 100 TB shapes: the t-test is one narrow projection + one
  * conditional aggregate (map-side combined); attribution cost
  * follows band occupancy per user (the planned join's contract) and
  * the credit windows partition per conversion id; sweep-line
  * endpoints shuffle once on day, and the only whole-set window runs
  * on the |days| table.
  */
object Ext18Queries {

  // ---------------------------------------------------------------
  // ev_ab_ttest
  // ---------------------------------------------------------------

  def abTtest(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(
      (col("user_id") % 2).as("grp"),
      expr("cast(round(value * 1000) as bigint)").as("vm"))
    def side(g: Int, c: String): org.apache.spark.sql.Column = c match {
      case "n" => sum(when(col("grp") === g, 1L).otherwise(0L))
      case "s" => sum(when(col("grp") === g, col("vm")).otherwise(0L))
      case "q" => sum(when(col("grp") === g, col("vm") * col("vm"))
        .otherwise(0L))
    }
    ev.agg(side(0, "n").as("n_a"), side(0, "s").as("s_a"),
        side(0, "q").as("q_a"),
        side(1, "n").as("n_b"), side(1, "s").as("s_b"),
        side(1, "q").as("q_b"))
      // identical expression text in the oracle — doubles by design
      .withColumn("va", expr(
        "(cast(n_a as double) * cast(q_a as double)" +
          " - cast(s_a as double) * cast(s_a as double))" +
          " / (cast(n_a as double) * cast(n_a - 1 as double))"))
      .withColumn("vb", expr(
        "(cast(n_b as double) * cast(q_b as double)" +
          " - cast(s_b as double) * cast(s_b as double))" +
          " / (cast(n_b as double) * cast(n_b - 1 as double))"))
      .withColumn("se2", expr(
        "va / cast(n_a as double) + vb / cast(n_b as double)"))
      .select(col("n_a"), col("n_b"),
        expr("s_a * 1000 div n_a").as("mean_a_micro"),
        expr("s_b * 1000 div n_b").as("mean_b_micro"),
        expr("cast(round((cast(s_a as double) / cast(n_a as double)" +
          " - cast(s_b as double) / cast(n_b as double))" +
          " / sqrt(se2) * 1000) as bigint)").as("t_milli"),
        expr("cast(round(se2 * se2 / ((va / cast(n_a as double))" +
          " * (va / cast(n_a as double)) / cast(n_a - 1 as double)" +
          " + (vb / cast(n_b as double)) * (vb / cast(n_b as double))" +
          " / cast(n_b - 1 as double)) * 1000) as bigint)")
          .as("df_milli"))
  }

  // ---------------------------------------------------------------
  // ev_attrib_touch
  // ---------------------------------------------------------------

  /** Credit rules (micro lattice, per conversion): 1 touch → all;
    * 2 → 500k each; n ≥ 3 → 400k first, 400k last, 200k div (n−2)
    * to each middle. Floor loss on the middle split is the
    * documented lattice cost (spec bounds it).
    */
  def attribTouch(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(graft.Tables.eventsTsMicros).as("tsec"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("tsec"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("tsec").as("rtsec"),
        col("event_id").as("rid"), col("event_type").as("channel"))
    val wConv = Window.partitionBy("conv_id")
      .orderBy(col("rtsec"), col("rid"))
    val wN = Window.partitionBy("conv_id")
    graft.plans.PlannedBandJoin.bandJoin(conv, touch, Seq("user_id"),
        "tsec", "rtsec", before = 600L, after = 0L,
        payload = Seq("rid", "rtsec", "channel"))
      .filter(col("rtsec") < col("tsec")) // strictly before conversion
      .withColumn("rn", row_number().over(wConv))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("linear_micro", expr("1000000 div n"))
      .withColumn("ushape_micro",
        when(col("n") === 1, 1000000L)
          .when(col("n") === 2, 500000L)
          .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
          .otherwise(expr("200000 div (n - 2)")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("conv_id")).as("n_conversions"),
        sum("linear_micro").as("linear_credit_micro"),
        sum("ushape_micro").as("ushape_credit_micro"))
      .orderBy("channel")
  }

  // ---------------------------------------------------------------
  // ev_peak_concurrency
  // ---------------------------------------------------------------

  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val per = Ext13Queries.sessionized(spark, dir, Seq.empty)
      .groupBy("user_id", "sess")
      .agg(min("ts").as("s_ns"), max("ts").as("e_ns"))
    val points = per.select(col("s_ns").as("tns"), lit(1L).as("delta"))
      .unionByName(per.select(col("e_ns").as("tns"),
        lit(-1L).as("delta")))
      .withColumn("day",
        expr("datediff(timestamp_micros(tns div 1000), date'2024-01-01')"))
    // per-day running sum; starts before ends at the same instant so
    // an instantaneous session still registers concurrency 1
    val wDay = Window.partitionBy("day")
      .orderBy(col("tns"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // day offset = net delta of all PRIOR days (sessions spanning
    // midnight carry their +1 into the next day's offset), computed
    // on the bounded day table — the two-pass distributed prefix sum
    val perDay = points.groupBy("day").agg(sum("delta").as("net"))
      .withColumn("day_offset",
        coalesce(sum("net").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    points
      .withColumn("run", sum("delta").over(wDay))
      .join(broadcast(perDay.select("day", "day_offset")), Seq("day"))
      .groupBy("day")
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L))
          .as("n_starts"),
        max(col("day_offset") + col("run")).as("peak_concurrent"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------
  // q71_band_sql
  // ---------------------------------------------------------------

  /** The interval join written as UNMODIFIED SQL text — no operator
    * API at all. With `spark.graft.sql.bandjoin` on, the strategy's
    * [[graft.plans.BandJoinSqlMatch]] recognizes the equi + abs-band
    * condition and plans the merge-sweep `BandJoinExec` instead of
    * the per-key nested loop Spark would pick; the `<>` residual
    * rides as a post-filter. Once a session enables the flag it stays
    * on (documented — semantics-preserving for every eligible join).
    */
  def bandSql(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    org.apache.spark.sql.graftbridge.PlanBridge.install(spark,
      graft.plans.BandJoinStrategy)
    spark.conf.set(graft.plans.BandJoinStrategy.SqlFlag, "true")
    spark.sql(
      """WITH ev AS (
        |  SELECT user_id, event_id, ts div 1000000000 AS tsec
        |  FROM events
        |)
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  b.tsec - a.tsec AS dt_sec
        |FROM ev a JOIN ev b
        |  ON a.user_id = b.user_id
        |  AND abs(a.tsec - b.tsec) <= 180
        |  AND a.event_id <> b.event_id
        |ORDER BY a.user_id, id_a, id_b""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_ab_ttest" -> abTtest _,
    "ev_attrib_touch" -> attribTouch _,
    "ev_peak_concurrency" -> peakConcurrency _,
    "q71_band_sql" -> bandSql _,
  )

  def oracle: Map[String, String] = Map(
    "q71_band_sql" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events)
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  b.tsec - a.tsec AS dt_sec
        |FROM ev a JOIN ev b
        |  ON a.user_id = b.user_id
        |  AND abs(a.tsec - b.tsec) <= 180
        |  AND a.event_id <> b.event_id
        |ORDER BY a.user_id, id_a, id_b""".stripMargin,
    "ev_ab_ttest" ->
      """WITH ev AS (
        |  SELECT user_id % 2 AS grp,
        |    CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events
        |), m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(SUM(CASE WHEN grp = 0 THEN vm ELSE 0 END) AS BIGINT)
        |      AS s_a,
        |    CAST(SUM(CASE WHEN grp = 0 THEN vm * vm ELSE 0 END)
        |      AS BIGINT) AS q_a,
        |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(SUM(CASE WHEN grp = 1 THEN vm ELSE 0 END) AS BIGINT)
        |      AS s_b,
        |    CAST(SUM(CASE WHEN grp = 1 THEN vm * vm ELSE 0 END)
        |      AS BIGINT) AS q_b
        |  FROM ev
        |), v AS (
        |  SELECT *,
        |    (CAST(n_a AS DOUBLE) * CAST(q_a AS DOUBLE)
        |      - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS va,
        |    (CAST(n_b AS DOUBLE) * CAST(q_b AS DOUBLE)
        |      - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS vb
        |  FROM m
        |), se AS (
        |  SELECT *,
        |    va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
        |  FROM v)
        |SELECT n_a, n_b,
        |  (s_a * 1000) // n_a AS mean_a_micro,
        |  (s_b * 1000) // n_b AS mean_b_micro,
        |  CAST(round((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(se2) * 1000) AS BIGINT) AS t_milli,
        |  CAST(round(se2 * se2 / ((va / CAST(n_a AS DOUBLE))
        |    * (va / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
        |    + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE))
        |    / CAST(n_b - 1 AS DOUBLE)) * 1000) AS BIGINT) AS df_milli
        |FROM se""".stripMargin,
    "ev_attrib_touch" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events
        |), conv AS (
        |  SELECT user_id, event_id AS conv_id, tsec
        |  FROM ev WHERE event_type = 'purchase'
        |), touch AS (
        |  SELECT user_id, tsec AS rtsec, event_id AS rid,
        |    event_type AS channel
        |  FROM ev WHERE event_type IN ('click', 'view')
        |), j AS (
        |  SELECT c.conv_id, t.rid, t.rtsec, t.channel,
        |    ROW_NUMBER() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.rtsec, t.rid) AS rn,
        |    COUNT(*) OVER (PARTITION BY c.conv_id) AS n
        |  FROM conv c JOIN touch t
        |    ON t.user_id = c.user_id
        |    AND t.rtsec >= c.tsec - 600 AND t.rtsec < c.tsec
        |), cr AS (
        |  SELECT channel, conv_id,
        |    1000000 // n AS linear_micro,
        |    CASE WHEN n = 1 THEN 1000000
        |         WHEN n = 2 THEN 500000
        |         WHEN rn = 1 OR rn = n THEN 400000
        |         ELSE 200000 // (n - 2) END AS ushape_micro
        |  FROM j)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |  CAST(SUM(linear_micro) AS BIGINT) AS linear_credit_micro,
        |  CAST(SUM(ushape_micro) AS BIGINT) AS ushape_credit_micro
        |FROM cr GROUP BY channel
        |ORDER BY channel""".stripMargin,
    "ev_peak_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
        |), s AS (
        |  SELECT user_id, event_id, tu,
        |    CASE WHEN lag(tu) OVER w IS NULL
        |           OR tu - lag(tu) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
        |), s2 AS (
        |  SELECT user_id, tu,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM s
        |), per AS (
        |  SELECT user_id, sess, MIN(tu) AS s_us, MAX(tu) AS e_us
        |  FROM s2 GROUP BY user_id, sess
        |), pts AS (
        |  SELECT s_us AS tus, CAST(1 AS BIGINT) AS delta FROM per
        |  UNION ALL
        |  SELECT e_us AS tus, CAST(-1 AS BIGINT) AS delta FROM per
        |), pd AS (
        |  SELECT tus, delta,
        |    date_diff('day', DATE '2024-01-01',
        |      CAST(make_timestamp(tus) AS DATE)) AS day
        |  FROM pts
        |), off AS (
        |  SELECT day, SUM(net) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS day_offset
        |  FROM (SELECT day, SUM(delta) AS net FROM pd GROUP BY day)
        |), run AS (
        |  SELECT pd.day, pd.delta,
        |    SUM(pd.delta) OVER (PARTITION BY pd.day
        |      ORDER BY pd.tus, pd.delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      + COALESCE(o.day_offset, 0) AS conc
        |  FROM pd JOIN off o ON o.day = pd.day)
        |SELECT CAST(day AS INT) AS day,
        |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_starts,
        |  CAST(MAX(conc) AS BIGINT) AS peak_concurrent
        |FROM run GROUP BY day
        |ORDER BY day""".stripMargin,
  )
}
