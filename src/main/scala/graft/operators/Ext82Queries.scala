package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 batch A — four operators in still-uncovered corners:
  *
  *  - `ts_piecewise_trend`: hinge (piecewise-linear) OLS trend with a
  *    fixed changepoint — the prophet-style trend primitive the ts
  *    family lacks (stl = moving average, theil_sen = median slope,
  *    holt = exponential smoothing; none fit a changepoint).
  *  - `eval_bradley_terry`: strength scores from pairwise preference
  *    duels via two minorize-maximize iterations — the
  *    ranking-from-comparisons step an RLHF/eval pipeline runs over
  *    human preference pairs, here exact-integer end to end.
  *  - `mm_span_iou`: temporal-IoU alignment of speech (VAD) spans to
  *    shot segments — the interval-overlap join that stitches the two
  *    span extractors the mm family already ships.
  *  - `tok_wordpiece_score`: the WordPiece merge criterion (likelihood
  *    gain ln(c_ab·N/(c_a·c_b))) ranked against BPE's raw-count rank —
  *    the two classic subword-merge objectives side by side.
  *  - `ev_inactivity_alarms`: inactivity (absence-of-events) alarms
  *    under the final-watermark closure rule a streaming run over the
  *    same corpus reaches.
  */
object Ext82Queries {

  // ---------------------------------------------------------------
  // ts_piecewise_trend
  // ---------------------------------------------------------------

  /** Piecewise-linear trend of the daily event-value series with one
    * fixed hinge at day 15 (mid-corpus): OLS on features
    * (1, day, max(day-15, 0)) solved in closed form by Cramer's rule
    * over the 3×3 normal equations. Every moment (Σx, Σx², Σxy, …) is
    * an exact BIGINT on the vm = round(value·1000) lattice, summed
    * order-free; the determinants stay exact BIGINT products (≤ ~5e17
    * at sf1, headroom audited in the spec); only the final β ratios
    * divide, as ONE fixed IEEE double expression quantized to the
    * micro lattice — engine-exact by construction.
    *
    * 100 TB shape: the corpus collapses to the |days|-bounded daily
    * table first (one hash aggregate), then a single 1-row moment
    * aggregate; the solve is arithmetic on that row. No window, no
    * join, nothing grows with corpus size.
    */
  def piecewiseTrend(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "events")
      .select(
        expr("datediff(timestamp_micros(ts div 1000), date'2024-01-01')")
          .cast("long").as("day"),
        expr("cast(round(value * 1000) as bigint)").as("vm"))
      .groupBy("day").agg(sum("vm").as("y"))
      .withColumn("x1", col("day"))
      .withColumn("x2", greatest(col("day") - lit(15L), lit(0L)))
    d.agg(
        count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"),
        sum(expr("x1 * x1")).as("s11"),
        sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"),
        sum("y").as("t0"),
        sum(expr("x1 * y")).as("t1"),
        sum(expr("x2 * y")).as("t2"))
      .withColumn("det", expr(
        "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)" +
          " + s2 * (s1 * s12 - s11 * s2)"))
      .withColumn("det0", expr(
        "t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2)" +
          " + s2 * (t1 * s12 - s11 * t2)"))
      .withColumn("det1", expr(
        "n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2)" +
          " + s2 * (s1 * t2 - t1 * s2)"))
      .withColumn("det2", expr(
        "n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2)" +
          " + t0 * (s1 * s12 - s11 * s2)"))
      .select(col("n").as("n_days"), lit(15L).as("knot"),
        expr("cast(round(cast(det0 as double) / cast(det as double)" +
          " * 1e6) as bigint)").as("b0_micro"),
        expr("cast(round(cast(det1 as double) / cast(det as double)" +
          " * 1e6) as bigint)").as("b1_micro"),
        expr("cast(round(cast(det2 as double) / cast(det as double)" +
          " * 1e6) as bigint)").as("b2_micro"))
  }

  // ---------------------------------------------------------------
  // eval_bradley_terry
  // ---------------------------------------------------------------

  /** Bradley–Terry strength scores over event-type preference duels:
    * each consecutive event pair within a user's journey is a duel
    * won by the type with the larger vm (vm ties and same-type pairs
    * are not duels). Two minorize-maximize iterations from the
    * uniform start, entirely on integer lattices:
    * p¹ᵢ = 2Wᵢ·1e6 div Nᵢ (the MM step from p⁰ ≡ 1 collapses to the
    * win rate), then p²ᵢ = Wᵢ·1e12 div Σⱼ (nᵢⱼ·1e12 div (p¹ᵢ + p¹ⱼ)) —
    * every division a floored integer op on positive operands, so
    * the result is engine-exact with no IEEE anywhere.
    *
    * 100 TB shape: one per-user window pass collapses the corpus to
    * the |types|²-bounded duel table; both MM iterations are
    * arithmetic over that ≤ C(5,2)-row table (joins broadcast by
    * size). At a million "types" (e.g. model variants) the pair
    * table is still the collapsed aggregate, never the event log.
    *
    * Headroom bound: `contrib = n_ab·1e12` is exact BIGINT only
    * while n_ab (duels per unordered type pair) stays below ~9.2·10⁶
    * — beyond that Spark wraps silently where DuckDB errors.
    * Ext82QueriesSpec asserts 10× headroom at 1000× the test fixture
    * (= 10× sf1); at production duel volumes shard the duel count by
    * time window before the MM step.
    */
  def bradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val duels = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        col("event_type").as("ta"),
        expr("cast(round(value * 1000) as bigint)").as("va"))
      .withColumn("tb", lead(col("ta"), 1).over(w))
      .withColumn("vb", lead(col("va"), 1).over(w))
      .filter(col("tb").isNotNull && col("ta") =!= col("tb")
        && col("va") =!= col("vb"))
      .select(least(col("ta"), col("tb")).as("a"),
        greatest(col("ta"), col("tb")).as("b"),
        when(col("va") > col("vb"), col("ta")).otherwise(col("tb"))
          .as("winner"))
    val pairs = duels
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_ab"),
        sum(when(col("winner") === col("a"), 1L).otherwise(0L))
          .as("wins_a"))
    val totals = pairs
      .select(col("a").as("event_type"), col("n_ab"),
        col("wins_a").as("w"))
      .unionByName(pairs.select(col("b").as("event_type"), col("n_ab"),
        (col("n_ab") - col("wins_a")).as("w")))
      .groupBy("event_type")
      .agg(sum("n_ab").as("n_games"), sum("w").as("n_wins"))
      .withColumn("p1_micro",
        expr("(2 * n_wins * 1000000) div n_games"))
    val p1 = totals.select(col("event_type"), col("p1_micro"))
    val joined = pairs
      .join(broadcast(p1.select(col("event_type").as("a"),
        col("p1_micro").as("pa"))), "a")
      .join(broadcast(p1.select(col("event_type").as("b"),
        col("p1_micro").as("pb"))), "b")
      .withColumn("contrib",
        expr("(n_ab * 1000000000000) div greatest(pa + pb, 1)"))
    val denom = joined.select(col("a").as("event_type"), col("contrib"))
      .unionByName(
        joined.select(col("b").as("event_type"), col("contrib")))
      .groupBy("event_type").agg(sum("contrib").as("d"))
    totals.join(denom, "event_type")
      .withColumn("p2_micro",
        expr("(n_wins * 1000000000000) div greatest(d, 1)"))
      .select("event_type", "n_games", "n_wins", "p1_micro", "p2_micro")
      .orderBy(col("p2_micro").desc, col("event_type"))
  }

  // ---------------------------------------------------------------
  // mm_span_iou
  // ---------------------------------------------------------------

  /** Temporal-IoU alignment of each speech (VAD) span to its
    * best-overlapping shot segment — composes `mm_vad_spans` and
    * `mm_shot_boundaries` verbatim so the report agrees with the two
    * extractors it stitches. Frames step 2, endpoints inclusive, so
    * |[lo,hi]| = (hi−lo)/2 + 1 exactly; IoU = inter·1e6 div
    * (nA + nB − inter) on that exact frame lattice. Best shot per
    * span by (iou desc, seg_no) — a total tie-break.
    *
    * 100 TB shape: the interval join is equi-keyed on media_id first
    * (never a cross of the corpus); the per-span best-of window runs
    * over the ≤ |segments-per-media| candidate rows of one media
    * asset — bounded by clip length, not corpus size.
    */
  def spanIou(spark: SparkSession, dir: String): DataFrame = {
    val shots = Ext14Queries.shotBoundaries(spark, dir)
      .select(col("media_id"), col("seg_no"),
        col("start_frame"), col("end_frame"),
        col("n_frames").as("n_shot"))
    val vads = Ext13Queries.vadSpans(spark, dir)
      .select(col("media_id"), col("span_start"), col("span_end"),
        col("n_frames").as("n_vad"))
    val cand = vads.join(shots, Seq("media_id"))
      .filter(col("span_start") <= col("end_frame")
        && col("span_end") >= col("start_frame"))
      .withColumn("inter", expr(
        "(least(span_end, end_frame)" +
          " - greatest(span_start, start_frame)) div 2 + 1"))
      .withColumn("iou_micro", expr(
        "(inter * 1000000) div (n_shot + n_vad - inter)"))
    val w = Window.partitionBy("media_id", "span_start")
      .orderBy(col("iou_micro").desc, col("seg_no"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("media_id"), col("span_start"), col("span_end"),
        col("seg_no").as("best_seg"),
        col("start_frame").as("seg_start"),
        col("end_frame").as("seg_end"), col("iou_micro"))
      .orderBy("media_id", "span_start")
  }

  // ---------------------------------------------------------------
  // tok_wordpiece_score
  // ---------------------------------------------------------------

  /** WordPiece vs BPE merge ranking over word-internal letter
    * bigrams: WordPiece scores a merge by likelihood gain
    * wp = ln(c_ab) + ln(N) − ln(c_a) − ln(c_b) (N = total letters),
    * BPE by raw pair count. Each ln is quantized ONCE to the
    * micro-nat lattice (text_char_entropy's rule) so the score is
    * exact-integer; the two rank columns make the disagreement — the
    * whole point of the WordPiece criterion — directly readable.
    * Words are maximal [a-z]+ runs of the lowercased text, so the
    * letter stream equals the char-entropy stream and bigrams never
    * span a word boundary.
    *
    * 100 TB shape: two corpus hash aggregates collapse to the
    * ≤ 26/≤ 26² letter and bigram tables; ranks run on that bounded
    * lattice (≤ 676 rows — a domain-bounded global window).
    */
  def wordpieceScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val chars = docs
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]', 0)")).as("ch"))
      .groupBy("ch").agg(count(lit(1)).as("c"))
    val nTot = chars.agg(sum("c").as("n_chars"))
    val bi = docs
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      // guard: sequence(1, 0) would DESCEND for 1-letter words
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1)," +
          " i -> substring(w, i, 2))")).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val scored = bi
      .join(broadcast(chars.select(col("ch").as("ca_key"),
        col("c").as("c_a"))),
        expr("substring(piece, 1, 1)") === col("ca_key"))
      .join(broadcast(chars.select(col("ch").as("cb_key"),
        col("c").as("c_b"))),
        expr("substring(piece, 2, 1)") === col("cb_key"))
      .crossJoin(broadcast(nTot))
      .withColumn("wp_micro",
        round(log(col("c_ab").cast("double")) * 1e6).cast("long")
          + round(log(col("n_chars").cast("double")) * 1e6).cast("long")
          - round(log(col("c_a").cast("double")) * 1e6).cast("long")
          - round(log(col("c_b").cast("double")) * 1e6).cast("long"))
    // ranks over the ≤ 26² bigram lattice — domain-bounded window
    val wpW = Window.orderBy(col("wp_micro").desc, col("piece"))
    val bpeW = Window.orderBy(col("c_ab").desc, col("piece"))
    scored
      .withColumn("wp_rank", row_number().over(wpW))
      .withColumn("bpe_rank", row_number().over(bpeW))
      .filter(col("wp_rank") <= 25)
      .select("piece", "c_ab", "c_a", "c_b", "wp_micro", "wp_rank",
        "bpe_rank")
      .orderBy("wp_rank")
  }

  // ---------------------------------------------------------------
  // ev_inactivity_alarms
  // ---------------------------------------------------------------

  /** Inactivity alarms: one row per activity run that went quiet for
    * > 24h of event time, carrying the run's last event and length,
    * suppressed when the run ended in the terminal 'purchase'. The
    * finalization watermark is the one an AvailableNow stream reaches
    * on the same corpus: an alarm exists only if
    * last_ms + gap ≤ max(ms) − delay.
    *
    * 100 TB shape: one per-user window pass (the shuffle any
    * sessionization pays) + a |runs|-bounded aggregate; the 1-row
    * watermark broadcast is the only non-equi join.
    */
  def inactivityAlarms(spark: SparkSession, dir: String): DataFrame = {
    val gap = 86400000L
    val delay = 3600000L
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_id").as("id"),
        expr("ts div 1000000").as("ms"),
        (col("event_type") === "purchase").as("terminal"))
    val wmF = ev.agg((max("ms") - lit(delay)).as("wm"))
    val w = Window.partitionBy("user_id").orderBy("ms", "id")
    val marked = ev
      .withColumn("next_ms", lead(col("ms"), 1).over(w))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_run",
        when(col("prev_ms").isNull
          || col("ms") - col("prev_ms") > gap, 1L).otherwise(0L))
      .withColumn("run_id", sum("new_run").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = marked.groupBy("user_id", "run_id")
      .agg(count(lit(1)).as("n_run"))
    marked
      .filter(col("next_ms").isNull || col("next_ms") - col("ms") > gap)
      .filter(!col("terminal"))
      .crossJoin(broadcast(wmF))
      .filter(col("ms") + gap <= col("wm"))
      .join(runs, Seq("user_id", "run_id"))
      .select(col("user_id"), col("ms").as("last_ms"), col("n_run"))
      .orderBy("user_id", "last_ms")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_piecewise_trend" -> piecewiseTrend _,
    "eval_bradley_terry" -> bradleyTerry _,
    "mm_span_iou" -> spanIou _,
    "tok_wordpiece_score" -> wordpieceScore _,
    "ev_inactivity_alarms" -> inactivityAlarms _,
  )

  val oracle: Map[String, String] = Map(
    "ts_piecewise_trend" ->
      """WITH d AS (
        |  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS day,
        |    CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1
        |), f AS (
        |  SELECT CAST(day AS BIGINT) AS x1,
        |    CAST(GREATEST(day - 15, 0) AS BIGINT) AS x2, y
        |  FROM d
        |), m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x1) AS BIGINT) AS s1,
        |    CAST(SUM(x2) AS BIGINT) AS s2,
        |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
        |    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
        |    CAST(SUM(y) AS BIGINT) AS t0,
        |    CAST(SUM(x1 * y) AS BIGINT) AS t1,
        |    CAST(SUM(x2 * y) AS BIGINT) AS t2
        |  FROM f
        |), dets AS (
        |  SELECT n,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2)
        |      + s2 * (t1 * s12 - s11 * t2) AS det0,
        |    n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * t2 - t1 * s2) AS det1,
        |    n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2)
        |      + t0 * (s1 * s12 - s11 * s2) AS det2
        |  FROM m)
        |SELECT n AS n_days, CAST(15 AS BIGINT) AS knot,
        |  CAST(round(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) * 1e6)
        |    AS BIGINT) AS b0_micro,
        |  CAST(round(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) * 1e6)
        |    AS BIGINT) AS b1_micro,
        |  CAST(round(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) * 1e6)
        |    AS BIGINT) AS b2_micro
        |FROM dets""".stripMargin,
    "eval_bradley_terry" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, event_type AS ta,
        |    CAST(round(value * 1000) AS BIGINT) AS va,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS tb,
        |    LEAD(CAST(round(value * 1000) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY event_id) AS vb
        |  FROM events
        |), duels AS (
        |  SELECT LEAST(ta, tb) AS a, GREATEST(ta, tb) AS b,
        |    CASE WHEN va > vb THEN ta ELSE tb END AS winner
        |  FROM seq
        |  WHERE tb IS NOT NULL AND ta <> tb AND va <> vb
        |), pairs AS (
        |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab,
        |    CAST(SUM(CASE WHEN winner = a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS wins_a
        |  FROM duels GROUP BY a, b
        |), totals AS (
        |  SELECT event_type, CAST(SUM(n_ab) AS BIGINT) AS n_games,
        |    CAST(SUM(w) AS BIGINT) AS n_wins,
        |    (2 * CAST(SUM(w) AS BIGINT) * 1000000)
        |      // CAST(SUM(n_ab) AS BIGINT) AS p1_micro
        |  FROM (
        |    SELECT a AS event_type, n_ab, wins_a AS w FROM pairs
        |    UNION ALL
        |    SELECT b AS event_type, n_ab, n_ab - wins_a AS w
        |    FROM pairs)
        |  GROUP BY event_type
        |), denom AS (
        |  SELECT event_type, CAST(SUM(contrib) AS BIGINT) AS d
        |  FROM (
        |    SELECT p.a AS event_type,
        |      (p.n_ab * 1000000000000)
        |        // GREATEST(ta.p1_micro + tb.p1_micro, 1) AS contrib
        |    FROM pairs p
        |    JOIN totals ta ON ta.event_type = p.a
        |    JOIN totals tb ON tb.event_type = p.b
        |    UNION ALL
        |    SELECT p.b AS event_type,
        |      (p.n_ab * 1000000000000)
        |        // GREATEST(ta.p1_micro + tb.p1_micro, 1) AS contrib
        |    FROM pairs p
        |    JOIN totals ta ON ta.event_type = p.a
        |    JOIN totals tb ON tb.event_type = p.b)
        |  GROUP BY event_type)
        |SELECT t.event_type, t.n_games, t.n_wins, t.p1_micro,
        |  (t.n_wins * 1000000000000) // GREATEST(d.d, 1) AS p2_micro
        |FROM totals t JOIN denom d ON d.event_type = t.event_type
        |ORDER BY p2_micro DESC, t.event_type""".stripMargin,
    "mm_span_iou" ->
      (s"WITH shots AS (\n${Ext14Queries.oracle("mm_shot_boundaries")}" +
      s"\n), vads AS (\n${Ext13Queries.oracle("mm_vad_spans")}\n)" +
      """, cand AS (
        |  SELECT v.media_id, v.span_start, v.span_end,
        |    s.seg_no, s.start_frame, s.end_frame,
        |    (LEAST(v.span_end, s.end_frame)
        |      - GREATEST(v.span_start, s.start_frame)) // 2 + 1
        |      AS inter,
        |    s.n_frames AS n_shot, v.n_frames AS n_vad
        |  FROM vads v JOIN shots s ON s.media_id = v.media_id
        |  WHERE v.span_start <= s.end_frame
        |    AND v.span_end >= s.start_frame
        |), scored AS (
        |  SELECT media_id, span_start, span_end, seg_no,
        |    start_frame, end_frame,
        |    (inter * 1000000) // (n_shot + n_vad - inter) AS iou_micro,
        |    ROW_NUMBER() OVER (PARTITION BY media_id, span_start
        |      ORDER BY (inter * 1000000) // (n_shot + n_vad - inter)
        |        DESC, seg_no) AS rk
        |  FROM cand)
        |SELECT media_id, span_start, span_end, seg_no AS best_seg,
        |  start_frame AS seg_start, end_frame AS seg_end, iou_micro
        |FROM scored WHERE rk = 1
        |ORDER BY media_id, span_start""".stripMargin),
    "tok_wordpiece_score" ->
      """WITH ch AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]'))
        |    AS ch
        |  FROM documents
        |), cc AS (
        |  SELECT ch, CAST(COUNT(*) AS BIGINT) AS c FROM ch GROUP BY ch
        |), tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_chars FROM cc
        |), words AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
        |    AS w
        |  FROM documents
        |), bi AS (
        |  SELECT substring(w, CAST(i AS INT), 2) AS piece
        |  FROM words, UNNEST(range(1, strlen(w))) AS t(i)
        |), bc AS (
        |  SELECT piece, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM bi GROUP BY piece HAVING COUNT(*) >= 5
        |), scored AS (
        |  SELECT b.piece, b.c_ab, ca.c AS c_a, cb.c AS c_b,
        |    CAST(ROUND(ln(b.c_ab) * 1e6) AS BIGINT)
        |      + CAST(ROUND(ln(t.n_chars) * 1e6) AS BIGINT)
        |      - CAST(ROUND(ln(ca.c) * 1e6) AS BIGINT)
        |      - CAST(ROUND(ln(cb.c) * 1e6) AS BIGINT) AS wp_micro
        |  FROM bc b
        |  JOIN cc ca ON ca.ch = substring(b.piece, 1, 1)
        |  JOIN cc cb ON cb.ch = substring(b.piece, 2, 1)
        |  CROSS JOIN tot t
        |), ranked AS (
        |  SELECT piece, c_ab, c_a, c_b, wp_micro,
        |    CAST(ROW_NUMBER() OVER (ORDER BY wp_micro DESC, piece)
        |      AS INT) AS wp_rank,
        |    CAST(ROW_NUMBER() OVER (ORDER BY c_ab DESC, piece)
        |      AS INT) AS bpe_rank
        |  FROM scored)
        |SELECT piece, c_ab, c_a, c_b, wp_micro, wp_rank, bpe_rank
        |FROM ranked WHERE wp_rank <= 25
        |ORDER BY wp_rank""".stripMargin,
    "ev_inactivity_alarms" ->
      """WITH e AS (
        |  SELECT user_id, event_id AS id, epoch_us(ts) // 1000 AS ms,
        |    (event_type = 'purchase') AS terminal
        |  FROM events
        |), wmf AS (
        |  SELECT MAX(ms) - 3600000 AS wm FROM e
        |), m AS (
        |  SELECT user_id, id, ms, terminal,
        |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, id)
        |      AS next_ms,
        |    CASE WHEN LAG(ms) OVER (PARTITION BY user_id
        |        ORDER BY ms, id) IS NULL
        |      OR ms - LAG(ms) OVER (PARTITION BY user_id
        |        ORDER BY ms, id) > 86400000
        |      THEN 1 ELSE 0 END AS new_run
        |  FROM e
        |), r AS (
        |  SELECT *, SUM(new_run) OVER (PARTITION BY user_id
        |    ORDER BY ms, id ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM m
        |), runs AS (
        |  SELECT user_id, run_id, CAST(COUNT(*) AS BIGINT) AS n_run
        |  FROM r GROUP BY user_id, run_id)
        |SELECT r.user_id, r.ms AS last_ms, runs.n_run
        |FROM r
        |CROSS JOIN wmf
        |JOIN runs ON runs.user_id = r.user_id
        |  AND runs.run_id = r.run_id
        |WHERE (r.next_ms IS NULL OR r.next_ms - r.ms > 86400000)
        |  AND NOT r.terminal AND r.ms + 86400000 <= wmf.wm
        |ORDER BY r.user_id, last_ms""".stripMargin,
  )
}
