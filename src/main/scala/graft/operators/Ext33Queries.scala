package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 batch 7: embedding spectrum, graph rich-club, and
  * cross-media shared content.
  *
  *  - `embed_dim_energy`: the per-dimension energy spectrum of the
  *    embedding corpus — mean squared mass per coordinate plus the
  *    cumulative energy share over the dimension prefix. This is the
  *    report that sizes a matryoshka truncation or PCA budget (which
  *    prefix keeps X% of the mass). Exactness: each element is
  *    rounded onto the milli lattice FIRST (one narrow map), all
  *    sums are exact BIGINT — no float summation anywhere.
  *  - `graph_rich_club`: rich-club connectivity of the supplier
  *    co-customer graph — for each degree threshold k in {1,2,4,8,16}
  *    the edge density among nodes of degree > k. The classic "do
  *    hubs talk to hubs" structure audit; one pass over the edge
  *    list with a bounded 5-row threshold spine.
  *  - `mm_shared_frames`: frames whose content hash appears in more
  *    than one media object — cross-media shared-content detection
  *    (intro/outro/watermark finding), the media analog of paragraph
  *    dedup. Reuses the mm_frames frame table; one hash aggregate.
  *
  * 100 TB shapes: dim energy is a narrow explode + |dims| aggregate
  * (map-side combined); rich-club joins the degree table (node-sized)
  * twice into the edge list and collapses to 5 rows; shared frames
  * shuffle on frame hash — frame rows, bounded by media bytes / 64.
  */
object Ext33Queries {

  // ---------------------------------------------------------------
  // embed_dim_energy
  // ---------------------------------------------------------------

  def dimEnergy(spark: SparkSession, dir: String): DataFrame = {
    val el = t(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"),
        expr("cast(round(x * 1000) as bigint)").as("xm"))
    val per = el.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xm") * col("xm")).as("sum_sq_milli2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("dim")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    per
      .withColumn("cum_sq", sum("sum_sq_milli2").over(w))
      .withColumn("total_sq", sum("sum_sq_milli2").over(wAll))
      .select(col("dim"), col("n"), col("sum_sq_milli2"),
        expr("sum_sq_milli2 * 1000 div n").as("mean_sq_micro2"),
        expr("cum_sq * 1000000 div total_sq")
          .as("cum_energy_share_micro"))
      .orderBy("dim")
  }

  // ---------------------------------------------------------------
  // graph_rich_club
  // ---------------------------------------------------------------

  def richClub(spark: SparkSession, dir: String): DataFrame = {
    // supplier co-customer projection edges (the
    // graph_bipartite_project universe, cap 25)
    val cs = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(spark, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
      .distinct()
    val keep = cs.groupBy("cust").agg(count(lit(1)).as("cdeg"))
      .filter(col("cdeg") <= 25).select("cust")
    val cs2 = cs.join(keep, "cust")
    val pairs = cs2.as("a").join(cs2.as("b"),
        col("a.cust") === col("b.cust") &&
          col("a.supp") < col("b.supp"))
      .select(col("a.supp").as("sa"), col("b.supp").as("sb"))
      .distinct()
      .cache()
    val deg = pairs.select(col("sa").as("node"))
      .unionAll(pairs.select(col("sb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    val ks = Seq(1L, 2L, 4L, 8L, 16L)
    // hinted at the cross joins only: it is also a left join's left side
    val spine = spark.range(1)
      .select(explode(array(ks.map(lit): _*)).as("k"))
    val nodesK = deg.crossJoin(broadcast(spine)).filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_rich"))
    val edgesK = pairs
      .join(deg.select(col("node").as("sa"), col("deg").as("da")), "sa")
      .join(deg.select(col("node").as("sb"), col("deg").as("db")), "sb")
      .crossJoin(broadcast(spine))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_rich"))
    // spine-anchored so an EMPTY club still reports its row (the
    // k=16 club is empty at the smallest fixture SF)
    spine.join(nodesK, Seq("k"), "left").join(edgesK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_rich"), lit(0L)).as("n_rich"),
        coalesce(col("e_rich"), lit(0L)).as("e_rich"))
      .withColumn("phi_micro",
        // phi(k) = 2*E / (N*(N-1)) on the micro lattice
        when(col("n_rich") < 2, lit(null).cast("long"))
          .otherwise(expr(
            "e_rich * 2000000 div (n_rich * (n_rich - 1))")))
      .orderBy("k")
  }

  // ---------------------------------------------------------------
  // mm_shared_frames
  // ---------------------------------------------------------------

  def sharedFrames(spark: SparkSession, dir: String): DataFrame = {
    // the mm_frames frame table: 64-byte frames at stride 2
    val frames = t(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), col("text"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .select(col("media_id"), col("text"),
        explode(sequence(lit(0L),
          greatest(ceil(col("n_bytes") / 64.0).cast("long"), lit(1L))
            - 1, lit(2L))).as("frame_no"))
      .select(col("media_id"), col("frame_no"),
        md5(expr("substring(text, cast(frame_no * 64 + 1 as int), 64)"))
          .as("frame_md5"))
    frames.groupBy("frame_md5")
      .agg(countDistinct("media_id").as("n_media"),
        count(lit(1)).as("n_frames"),
        min("media_id").as("first_media"))
      .filter(col("n_media") >= 2)
      .orderBy(col("n_media").desc, col("frame_md5"))
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_dim_energy" -> dimEnergy _,
    "graph_rich_club" -> richClub _,
    "mm_shared_frames" -> sharedFrames _,
  )

  val oracle: Map[String, String] = Map(
    "embed_dim_energy" ->
      """WITH el AS (
        |  SELECT generate_subscripts(embedding, 1) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
        |      AS BIGINT) AS xm
        |  FROM embeddings
        |), per AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xm * xm) AS BIGINT) AS sum_sq_milli2
        |  FROM el GROUP BY dim
        |), c AS (
        |  SELECT *,
        |    CAST(sum(sum_sq_milli2) OVER (ORDER BY dim
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_sq,
        |    CAST(sum(sum_sq_milli2) OVER () AS BIGINT) AS total_sq
        |  FROM per)
        |SELECT CAST(dim AS BIGINT) AS dim, n, sum_sq_milli2,
        |  CAST(sum_sq_milli2 * 1000 // n AS BIGINT) AS mean_sq_micro2,
        |  CAST(cum_sq * 1000000 // total_sq AS BIGINT)
        |    AS cum_energy_share_micro
        |FROM c ORDER BY dim""".stripMargin,
    "graph_rich_club" ->
      """WITH cs AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |), keep AS (
        |  SELECT cust FROM cs GROUP BY cust HAVING count(*) <= 25
        |), cs2 AS (SELECT cs.cust, cs.supp FROM cs JOIN keep USING (cust)
        |), pairs AS (
        |  SELECT DISTINCT a.supp AS sa, b.supp AS sb
        |  FROM cs2 a JOIN cs2 b ON a.cust = b.cust AND a.supp < b.supp
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT sa AS node FROM pairs
        |    UNION ALL SELECT sb FROM pairs) u GROUP BY node
        |), spine AS (SELECT unnest([1, 2, 4, 8, 16]) AS k
        |), nk AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_rich
        |  FROM deg, spine WHERE deg > k GROUP BY k
        |), ek AS (
        |  SELECT s.k, CAST(count(*) AS BIGINT) AS e_rich
        |  FROM pairs p
        |  JOIN deg da ON da.node = p.sa
        |  JOIN deg db ON db.node = p.sb
        |  CROSS JOIN spine s
        |  WHERE da.deg > s.k AND db.deg > s.k
        |  GROUP BY s.k)
        |SELECT CAST(s.k AS BIGINT) AS k,
        |  CAST(COALESCE(nk.n_rich, 0) AS BIGINT) AS n_rich,
        |  CAST(COALESCE(ek.e_rich, 0) AS BIGINT) AS e_rich,
        |  CASE WHEN COALESCE(nk.n_rich, 0) < 2 THEN NULL ELSE
        |    CAST(COALESCE(ek.e_rich, 0) * 2000000
        |      // (nk.n_rich * (nk.n_rich - 1)) AS BIGINT) END
        |    AS phi_micro
        |FROM spine s
        |LEFT JOIN nk ON s.k = nk.k
        |LEFT JOIN ek ON s.k = ek.k
        |ORDER BY k""".stripMargin,
    "mm_shared_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents
        |), f AS (
        |  SELECT media_id, text,
        |    unnest(range(0, greatest(
        |      CAST(ceil(n_bytes / 64.0) AS BIGINT), 1), 2)) AS frame_no
        |  FROM m
        |), fr AS (
        |  SELECT media_id,
        |    md5(substring(text, CAST(frame_no * 64 + 1 AS BIGINT), 64))
        |      AS frame_md5
        |  FROM f)
        |SELECT frame_md5,
        |  CAST(count(DISTINCT media_id) AS BIGINT) AS n_media,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(min(media_id) AS BIGINT) AS first_media
        |FROM fr GROUP BY frame_md5
        |HAVING count(DISTINCT media_id) >= 2
        |ORDER BY n_media DESC, frame_md5 LIMIT 50""".stripMargin,
  )
}
