package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 scaling-probe data generator: replicates the driver's sf0.1
  * tables `reps` times (default 10×) with disjoint key ranges per
  * replica, so every join relationship survives (foreign keys shift by
  * the same stride as their dimension) while volume grows linearly.
  *
  * Content perturbation keeps the SCALING SHAPE honest — 10 identical
  * copies of a corpus would make every document a 10-way exact dup and
  * every embedding a 10-way near-dup, exploding LSH/SRP candidate
  * pairs ~45× instead of 10× (100 TB of production data is not ten
  * copies of the same corpus):
  *   - documents: replica r > 0 suffixes every token with `_r`, so
  *     shingle/band spaces are disjoint across replicas and near-dup
  *     structure is preserved per replica;
  *   - embeddings: replica r > 0 multiplies dimension j by a ±1 md5
  *     parity pattern, decorrelating replicas (near-orthogonal) while
  *     preserving norms and per-replica neighbour structure.
  *
  * The output is for the bench's sf1 probe only (no DuckDB oracle runs
  * there); `events.ts` is written as raw int64 nanos, which the repo's
  * readers (nanosAsLong) treat identically.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "sf1data"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local("graft-scalegen")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] wrote $t")
    }
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L
    def rep(make: Int => DataFrame): DataFrame =
      (0 until reps).map(make).reduce(_ unionByName _)

    // tiny dims stay as-is: real scale grows facts, not region/nation
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val cust = rd("customer"); val custS = stride(cust, "c_custkey")
    wr(rep(r => cust.select((col("c_custkey") + r * custS)
        .as("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))), "customer")

    val supp = rd("supplier"); val suppS = stride(supp, "s_suppkey")
    wr(rep(r => supp.select((col("s_suppkey") + r * suppS)
        .as("s_suppkey"), col("s_name"), col("s_nationkey"),
      col("s_acctbal"))), "supplier")

    val part = rd("part"); val partS = stride(part, "p_partkey")
    wr(rep(r => part.select((col("p_partkey") + r * partS)
        .as("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice"))), "part")

    val ord = rd("orders"); val ordS = stride(ord, "o_orderkey")
    wr(rep(r => ord.select((col("o_orderkey") + r * ordS)
        .as("o_orderkey"), (col("o_custkey") + r * custS)
        .as("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"))), "orders")

    val li = rd("lineitem")
    wr(rep(r => li.select((col("l_orderkey") + r * ordS)
        .as("l_orderkey"), (col("l_partkey") + r * partS)
        .as("l_partkey"), (col("l_suppkey") + r * suppS)
        .as("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))),
      "lineitem")

    val ev = rd("events")
    val evS = stride(ev, "event_id"); val usrS = stride(ev, "user_id")
    // event_id must stay < 2^26 for the OHLC injective order key
    require(evS * reps < (1L << 26),
      s"event_id range ${evS * reps} overflows the 2^26 OHLC key budget")
    wr(rep(r => ev.select((col("event_id") + r * evS).as("event_id"),
      col("ts"), (col("user_id") + r * usrS).as("user_id"),
      col("event_type"), col("value"), col("props"))), "events")

    val docs = rd("documents"); val docS = stride(docs, "doc_id")
    wr(rep { r =>
      val text =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1_$r")
      docs.select((col("doc_id") + r * docS).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }, "documents")

    val emb = rd("embeddings"); val vecS = stride(emb, "vec_id")
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    wr(rep { r =>
      val shifted = (col("vec_id") + r * vecS).as("vec_id")
      if (r == 0)
        emb.select(shifted, col("embedding"), col("label"))
      else {
        // ±1 per (replica, dim) from md5 parity — deterministic,
        // norm-preserving, decorrelates replicas
        val signs = Array.tabulate(dims) { j =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s"sg:$r,$j".getBytes("UTF-8"))
          if (((d(0) >> 4) & 1) == 0) 1.0f else -1.0f
        }
        emb.select(shifted,
          zip_with(col("embedding"), lit(signs),
            (x, s) => (x * s).cast("float")).as("embedding"),
          col("label"))
      }
    }, "embeddings")

    println(s"[scalegen] done: $out (${reps}x $src)")
    spark.stop()
  }
}
