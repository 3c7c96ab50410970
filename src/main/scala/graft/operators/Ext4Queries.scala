package graft.operators

import graft.Tables.{registerAll, t}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 batch 3: semantic dedup over embeddings (SemDedup shape),
  * RAG chunking, time-weighted event averages, int8 scalar
  * quantization of embeddings, shingle-containment near-dup pairs and
  * click->view as-of attribution. Each query is backed by a hash-exact
  * DuckDB oracle; scale notes inline per operator.
  */
object Ext4Queries {

  /** SemDedup (Abbas et al. 2023 shape): cluster the embedding space,
    * then within each cluster flag every vector whose cosine to some
    * LOWER-id member exceeds the threshold — the kept set is the
    * deterministic per-cluster prefix scan of "first occurrence wins".
    * Clusters here are SRP-LSH buckets (deterministic md5-parity
    * hyperplanes — the same portable family as sim_ann_lsh), so the
    * pair scan is an equi-join on bucket, never an all-pairs join;
    * per-bucket fan-out is the usual LSH collision bound. At 100 TB
    * swap buckets for fitted IVF cells (Similarity.fitCentroids) —
    * the operator shape (bucket equi-join + max-to-lower-id + keep
    * flag) is unchanged.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val withB = t(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .withColumn("bucket", Similarity.srpBucket(col("vec"), 4, 64))
      .withColumn("nrm", Similarity.norm(col("vec")))
    val hi = withB.select(col("id"), col("vec"), col("bucket"),
      col("nrm"))
    val lo = withB.select(col("id").as("id_lo"), col("vec").as("vec_lo"),
      col("bucket").as("bucket_lo"), col("nrm").as("nrm_lo"))
    val maxToLower = hi.join(lo,
        col("bucket") === col("bucket_lo") && col("id_lo") < col("id"))
      .withColumn("sim", round(
        Similarity.dot(col("vec"), col("vec_lo"))
          / (col("nrm") * col("nrm_lo")), 6))
      .groupBy(col("id"))
      .agg(max(col("sim")).as("max_sim_lower"))
    withB.select(col("id"), col("bucket"))
      .join(maxToLower, Seq("id"), "left")
      .withColumn("keep",
        col("max_sim_lower").isNull || col("max_sim_lower") < 0.35)
      .select("id", "bucket", "max_sim_lower", "keep")
      .orderBy("id")
  }

  /** RAG chunking: overlapping 64-token windows at stride 32 — the
    * retrieval-corpus building block. Pure narrow projection + explode
    * (no shuffle at all until the final presentation sort): chunk count
    * per doc is ceil(max(len-64,0)/32)+1, the trailing partial window
    * included. Chunks are emitted as (doc, chunk ordinal, token count,
    * md5 of the re-joined text) so the oracle check is content-exact
    * without hashing megabytes of repeated text.
    */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val win = 64
    val stride = 32
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
    docs
      .withColumn("n_chunks",
        (ceil(greatest(col("n") - win, lit(0)) / lit(stride.toDouble))
          + 1).cast("int"))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("chunk",
        slice(col("tk"), col("chunk_id") * stride + 1, lit(win)))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Time-weighted average of the event value per user: each reading
    * is weighted by its holding duration (micros to the next event of
    * the same user; the final reading has no duration and drops out) —
    * the standard irregular-time-series mean. All moments are exact
    * integers (milli-quantized value × micro duration), so the result
    * is partitioning-independent; one per-key window + one hash
    * aggregate, no global sort.
    */
  def timeWeighted(spark: SparkSession, dir: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(
      """WITH v AS (
        |  SELECT user_id, event_id, ts div 1000 AS us,
        |    CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events
        |), w AS (
        |  SELECT user_id, vm, us,
        |    LEAD(us) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id) AS nxt
        |  FROM v)
        |SELECT user_id,
        |  COUNT(*) AS n_spans,
        |  CAST(SUM(vm * (nxt - us)) AS BIGINT) AS wsum_micro,
        |  CAST(SUM(nxt - us) AS BIGINT) AS dur_us,
        |  CAST(SUM(vm * (nxt - us)) AS DOUBLE) / SUM(nxt - us) / 1000.0
        |    AS tw_avg
        |FROM w WHERE nxt IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)
  }

  /** Int8 scalar quantization of the embedding corpus (the storage/
    * bandwidth path ANN indexes ship at scale): per-dimension min/max
    * over the corpus -> code = round((x-mn)/(mx-mn)*255). The stats
    * side is 64 rows (one per dimension) and broadcasts; the corpus
    * pays one narrow explode + one broadcast join + one per-vector
    * aggregate. Codes and the micro-unit reconstruction error are
    * exact integers — deterministic under any partitioning.
    */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xd", col("x").cast("double"))
    val stats = e.groupBy(col("dim"))
      .agg(min(col("xd")).as("mn"), max(col("xd")).as("mx"))
    val coded = e.join(broadcast(stats), "dim")
      .withColumn("code",
        when(col("mx") > col("mn"),
          round((col("xd") - col("mn")) / (col("mx") - col("mn")) * 255))
          .otherwise(0.0).cast("long"))
      .withColumn("recon",
        col("mn") + col("code").cast("double") / 255.0
          * (col("mx") - col("mn")))
      .withColumn("err_micro",
        round(abs(col("recon") - col("xd")) * 1e6).cast("long"))
    coded.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("code")).as("code_sum"),
        min(col("code")).as("code_min"),
        max(col("code")).as("code_max"),
        sum(col("err_micro")).as("err_micro_sum"))
      .orderBy("vec_id")
  }

  /** Shingle-containment near-dup pairs: common/min(|A|,|B|) >= 0.5 —
    * catches near-SUBSET duplication (a doc embedded inside a larger
    * one) that symmetric Jaccard under-scores. Same inverted-index
    * self-join shape as jaccardPairs, but the PPJoin size prune does
    * not apply (containment has no size-ratio bound by design: that is
    * exactly the asymmetry it exists to detect).
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(t(spark, dir, "documents"), "doc_id", "text")
    val sized = sh
      .join(sh.groupBy(col("id")).agg(count(lit(1)).as("sz")), "id")
      .cache()
    sized.as("a").join(sized.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"),
        max(col("a.sz")).as("sz_a"), max(col("b.sz")).as("sz_b"))
      .withColumn("containment", col("common").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= 0.5)
      .select("id_a", "id_b", "common", "containment")
      .orderBy("id_a", "id_b")
  }

  /** Click->view as-of attribution over the event stream: every click
    * is attributed to the user's most recent view at-or-before it,
    * provided it falls inside a 10-minute lookback. The carry-forward
    * is an IGNORE NULLS last_value window — one per-key window pass,
    * no range join, no per-click probe: the scale shape for stream
    * attribution.
    */
  def clickAttrib(spark: SparkSession, dir: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts div 1000 AS us
        |  FROM events WHERE event_type IN ('view', 'click')
        |), lv AS (
        |  SELECT user_id, event_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'view' THEN us END)
        |      IGNORE NULLS
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS view_us
        |  FROM e)
        |SELECT user_id, event_id, us AS click_us, view_us,
        |  CASE WHEN view_us IS NOT NULL AND us - view_us <= 600000000
        |       THEN 1 ELSE 0 END AS attributed
        |FROM lv WHERE event_type = 'click'
        |ORDER BY user_id, event_id""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_semdedup" -> semDedup _,
    "text_chunk_windows" -> chunkWindows _,
    "ev_time_weighted" -> timeWeighted _,
    "embed_int8_quantize" -> int8Quantize _,
    "dedup_containment" -> containmentPairs _,
    "ev_click_attrib" -> clickAttrib _)

  val oracle: Map[String, String] = Map(
    "sim_semdedup" ->
      """WITH ee AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |), contrib AS (
        |  SELECT vec_id, p,
        |    SUM(x * CASE WHEN substr(md5(p || ',' || (i - 1)), 1, 1)
        |      IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END)
        |      AS c
        |  FROM ee, UNNEST(range(0, 4)) AS pl(p)
        |  GROUP BY vec_id, p
        |), buckets AS (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN c >= 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY p) AS bucket
        |  FROM contrib GROUP BY vec_id
        |), norms AS (
        |  SELECT vec_id, sqrt(SUM(x * x)) AS nrm FROM ee GROUP BY vec_id
        |), sims AS (
        |  SELECT a.vec_id AS id, ROUND(SUM(a.x * b.x)
        |      / (na.nrm * nb.nrm), 6) AS sim
        |  FROM ee a JOIN ee b ON a.i = b.i AND b.vec_id < a.vec_id
        |  JOIN buckets ba ON ba.vec_id = a.vec_id
        |  JOIN buckets bb ON bb.vec_id = b.vec_id
        |    AND bb.bucket = ba.bucket
        |  JOIN norms na ON na.vec_id = a.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
        |), mx AS (
        |  SELECT id, MAX(sim) AS max_sim_lower FROM sims GROUP BY id)
        |SELECT b.vec_id AS id, b.bucket, mx.max_sim_lower,
        |  (mx.max_sim_lower IS NULL OR mx.max_sim_lower < 0.35) AS keep
        |FROM buckets b LEFT JOIN mx ON mx.id = b.vec_id
        |ORDER BY id""".stripMargin,
    "text_chunk_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents
        |), spans AS (
        |  SELECT doc_id, tk,
        |    CAST(ceil(greatest(len(tk) - 64, 0) / 32.0) AS INT) + 1
        |      AS n_chunks
        |  FROM toks
        |), ch AS (
        |  SELECT doc_id, tk, CAST(c AS BIGINT) AS chunk_id,
        |    list_slice(tk, c * 32 + 1,
        |      least(c * 32 + 64, len(tk))) AS chunk
        |  FROM spans, UNNEST(range(0, n_chunks)) AS r(c))
        |SELECT doc_id, chunk_id,
        |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM ch
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "ev_time_weighted" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 1000) AS BIGINT) AS vm
        |  FROM events
        |), w AS (
        |  SELECT user_id, vm, us,
        |    LEAD(us) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id) AS nxt
        |  FROM v)
        |SELECT user_id,
        |  COUNT(*) AS n_spans,
        |  CAST(SUM(vm * (nxt - us)) AS BIGINT) AS wsum_micro,
        |  CAST(SUM(nxt - us) AS BIGINT) AS dur_us,
        |  CAST(SUM(vm * (nxt - us)) AS DOUBLE) / SUM(nxt - us) / 1000.0
        |    AS tw_avg
        |FROM w WHERE nxt IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "embed_int8_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS xd
        |  FROM embeddings
        |), stats AS (
        |  SELECT dim, MIN(xd) AS mn, MAX(xd) AS mx FROM e GROUP BY dim
        |), coded AS (
        |  SELECT e.vec_id,
        |    CASE WHEN s.mx > s.mn
        |      THEN CAST(round((e.xd - s.mn) / (s.mx - s.mn) * 255)
        |        AS BIGINT)
        |      ELSE 0 END AS code,
        |    e.xd, s.mn, s.mx
        |  FROM e JOIN stats s ON s.dim = e.dim
        |), errs AS (
        |  SELECT vec_id, code,
        |    CAST(round(abs(mn + CAST(code AS DOUBLE) / 255.0 * (mx - mn)
        |      - xd) * 1e6) AS BIGINT) AS err_micro
        |  FROM coded)
        |SELECT vec_id, COUNT(*) AS n_dims,
        |  CAST(SUM(code) AS BIGINT) AS code_sum,
        |  MIN(code) AS code_min,
        |  MAX(code) AS code_max,
        |  CAST(SUM(err_micro) AS BIGINT) AS err_micro_sum
        |FROM errs GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,
    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id AS id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 1))) AS r(i)
        |), sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
        |common AS (
        |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.id < b.id
        |  GROUP BY a.id, b.id)
        |SELECT c.id_a, c.id_b, c.common,
        |  CAST(c.common AS DOUBLE)
        |    / CAST(least(sa.sz, sb.sz) AS DOUBLE) AS containment
        |FROM common c
        |JOIN sizes sa ON sa.id = c.id_a
        |JOIN sizes sb ON sb.id = c.id_b
        |WHERE CAST(c.common AS DOUBLE)
        |    / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= 0.5
        |ORDER BY c.id_a, c.id_b""".stripMargin,
    "ev_click_attrib" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('view', 'click')
        |), lv AS (
        |  SELECT user_id, event_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'view' THEN us END
        |      IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS view_us
        |  FROM e)
        |SELECT user_id, event_id, us AS click_us, view_us,
        |  CASE WHEN view_us IS NOT NULL AND us - view_us <= 600000000
        |       THEN 1 ELSE 0 END AS attributed
        |FROM lv WHERE event_type = 'click'
        |ORDER BY user_id, event_id""".stripMargin)
}
