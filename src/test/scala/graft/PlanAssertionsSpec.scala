package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checked physical-plan properties: the scale story is not
  * prose — filters reach the parquet scan, projections prune columns,
  * small dimensions broadcast, grouped top-k never window-sorts, and
  * the LWW merge shuffles exactly once on the key.
  */
class PlanAssertionsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  def formatted(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution
      .ExplainMode.fromString("formatted"))
  }

  test("q2 filter+projection push into the parquet scan") {
    val f = formatted(graft.operators.Relational
      .queries("q2_filter_project")(spark, dir))
    assert(f.contains("PushedFilters: ["), f)
    assert(f.contains("GreaterThan") || f.contains("IsNotNull"), f)
    // projection pruning: lineitem has 16 columns; the ReadSchema must
    // carry only the handful the query touches
    val read = f.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(read.split(",").length <= 6, read)
  }

  test("q56 NOT IN plans as a null-aware anti join and respects the " +
      "poisoned-list semantics") {
    val df = graft.operators.MiscQueries
      .queries("q56_null_aware_anti_join")(spark, dir)
    // the planner must mark the anti join null-aware: a plain anti
    // join would return rows even when the IN-list contains a NULL.
    // BroadcastHashJoinExec prints the isNullAwareAntiJoin flag as the
    // trailing boolean on its plan line.
    val p = plan(df)
    assert(p.contains("LeftAnti, BuildRight, true"), p)
    assert(df.count() > 0)
    // behaviour pin: one NULL in the list empties a NOT IN result
    import spark.implicits._
    Seq(Some(1L), None).toDF("v").createOrReplaceTempView("poisoned")
    Seq(5L, 6L).toDF("x").createOrReplaceTempView("probe_vals")
    assert(spark.sql(
      "SELECT x FROM probe_vals WHERE x NOT IN (SELECT v FROM poisoned)")
      .count() === 0L)
  }

  test("q39 lateral top-n decorrelates to a bounded group limit") {
    val p = plan(graft.operators.Ext3Queries.lateralTopN(spark, dir))
    // Catalyst rewrites the correlated LIMIT to WindowGroupLimit with
    // a Partial pass BEFORE the shuffle — a map-side per-group top-k
    // prune, never a global sort of the customer table
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q40 histogram partial-aggregates map-side, single exchange") {
    val p = plan(graft.operators.Ext3Queries.priceHistogram(spark, dir))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial+final
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, p)
  }

  test("embed_mean_pool: explode then partial integer aggregation") {
    val p = plan(graft.operators.Ext3Queries.meanPool(spark, dir))
    assert(p.contains("Generate posexplode"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ev_funnel: per-key aggregates + hash joins, no cartesian") {
    val p = plan(graft.operators.Ext3Queries.funnel(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("join hints steer the physical strategy (SHUFFLE_HASH, MERGE)") {
    graft.Tables.registerAll(spark, dir)
    def planOf(hint: String) = spark.sql(
      s"""SELECT /*+ $hint(n) */ c.c_custkey, n.n_name
         |FROM customer c JOIN nation n
         |  ON n.n_nationkey = c.c_nationkey""".stripMargin)
      .queryExecution.executedPlan.toString
    // nation is broadcast-sized, so only an honored hint produces
    // these non-default join operators
    assert(planOf("SHUFFLE_HASH").contains("ShuffledHashJoin"))
    assert(planOf("MERGE").contains("SortMergeJoin"))
  }

  test("q4 joins the dimension tables via broadcast, not shuffle") {
    val p = plan(graft.operators.Relational
      .queries("q4_broadcast_join")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_pmi_collocations top-25 plans as TakeOrdered, not a " +
      "global sort") {
    val p = plan(graft.operators.Ext12Queries
      .queries("text_pmi_collocations")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ev_active_users_7d partial-aggregates the distinct count " +
      "map-side") {
    val f = formatted(graft.operators.Ext12Queries
      .queries("ev_active_users_7d")(spark, dir))
    // exact distinct = two-phase aggregate (partial_count(distinct ..))
    assert(f.contains("partial_count"), f)
    assert(!f.contains("CartesianProduct"), f)
  }

  test("q26 grouped top-k has no Window sort (bounded-heap aggregate)") {
    val p = plan(graft.operators.MiscQueries
      .queries("q26_topk_per_key")(spark, dir))
    assert(!p.contains("Window"), p)
    assert(p.contains("topk_by") || p.contains("TopKBy"), p)
  }

  test("LWW dedup shuffles once on the key") {
    import org.apache.spark.sql.functions._
    val typed = graft.operators.CdcParse.parseEnvelope(
      graft.sources.Changelog.readBatch(spark, {
        val d = tempDir("plan-clog")
        graft.sources.Changelog.writeFromEvents(spark,
          s"$dir/events.parquet", d, numFiles = 1)
        d
      }), "value", graft.operators.CdcParse.CdcSchema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("value_milli",
            org.apache.spark.sql.types.LongType))), Seq("user_id")))
      .filter(col("op") =!= graft.operators.CdcParse.OpDrop)
    val lww = graft.operators.KeyedMerge.lww(typed, Seq("user_id"), "seq")
    val exchanges = "Exchange".r.findAllIn(plan(lww)).length
    assert(exchanges === 1, s"expected exactly 1 shuffle, plan:\n" +
      plan(lww).linesIterator.filter(_.contains("Exchange"))
        .mkString("\n"))
  }

  test("IVF cell assignment is a narrow projection (no corpus shuffle)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.operators.Similarity.ivfTopK(emb,
      emb.filter(col("vec_id") < 4), "vec_id", "embedding",
      k = 5, nCells = 8, kmeansIters = 1, fitSampleMod = 2)
    val p = plan(df)
    // the only hash shuffle is the per-query window rank; the corpus
    // gets its cell from a projection over driver-held centroids and
    // joins a broadcast query side
    assert(!p.contains("hashpartitioning(n_id"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, p)
  }

  test("decontamination joins the benchmark shingles as broadcast semi") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.Dedup.contaminationFlags(docs, "doc_id",
      "text", docs.filter(col("doc_id") < 10), n = 5)
    val p = plan(df)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("cosine top-k broadcasts the query side; corpus never shuffles " +
      "before the rank") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Similarity.cosineTopK(emb,
      emb.filter(col("vec_id") < 4), "vec_id", "embedding", 5)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("bloom decontamination looks bits up via broadcast joins only") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.Dedup.bloomContaminationFlags(docs,
      "doc_id", "text", docs.filter(col("doc_id") < 10), n = 5)
    val p = plan(df)
    // the corpus side must never hash-shuffle on the bit position —
    // the bit table is the broadcast side of every lookup
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("hashpartitioning(bp0"), p)
    assert(!p.contains("hashpartitioning(bp1"), p)
  }

  test("range-frame window runs as a single window over one shuffle") {
    val df = graft.operators.Ext2Queries
      .queries("q33_range_frame")(spark, dir)
    val p = plan(df)
    assert(p.contains("Window"), p)
    // one shuffle for the window partition, one for the final sort
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, p)
  }

  test("tfidf: corpus count arrives via broadcast, not a shuffle join") {
    val df = graft.operators.Ext2Queries
      .queries("text_tfidf")(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("q55 top-supplier: date filter pushes to scan; winner equals " +
      "an exhaustive driver recount on exact decimals") {
    val df = graft.operators.MiscQueries
      .topSupplierView(spark, dir)
    val f = formatted(df)
    assert(f.contains("PushedFilters") &&
      f.contains("l_shipdate"), "ship-date filter not pushed")
    val got = df.collect()
    assert(got.nonEmpty)
    import org.apache.spark.sql.functions._
    val rev = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(round(col("l_extendedprice").cast("decimal(18,2)")
        * (lit(1).cast("decimal(18,4)")
          - col("l_discount").cast("decimal(18,4)")), 2)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val mx = rev.values.max
    assert(got.map(_.getLong(0)).toSet ===
      rev.filter(_._2 == mx).keySet)
    got.foreach(r =>
      assert(math.abs(r.getDouble(2) - mx.doubleValue) < 1e-9))
  }
}
