package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end proof of the z-order layout claim (layout_zorder is the
  * deterministic audit; this writes REAL parquet files and measures
  * their per-file bounding boxes): range-partition + sort by the
  * Morton code, and every produced file stays narrow in BOTH
  * dimensions, whereas a single-column sort leaves the second
  * dimension spanning its whole range in every file — so only the
  * z-layout lets min/max stats prune scans filtered on either column.
  */
class ZorderWriteSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def perFileSpans(path: String, dim: String): Seq[Long] =
    spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max(col(dim)) - min(col(dim))).cast("long").as("span"))
      .collect().map(_.getAs[Long]("span")).toSeq

  test("z-ordered write keeps per-file min/max tight in both dimensions") {
    val day = "datediff(o_orderdate, date'1992-01-01')"
    val orders = Tables.t(spark, TestSpark.sfDir, "orders")
      .withColumn("day", expr(day).cast("long"))
      .select("o_orderkey", "o_custkey", "day")
    val globalCust = orders.agg(
      (max("o_custkey") - min("o_custkey")).cast("long"),
      (max("day") - min("day")).cast("long")).head()
    val (custSpan, daySpan) = (globalCust.getLong(0), globalCust.getLong(1))

    // interleave equi-depth RANKS, not raw values: with mismatched
    // bit-widths (8-bit custkey vs 11-bit day here) the wider dim's
    // high bits dominate the code and the narrow dim degenerates —
    // rank-normalizing both to the same 0..255 scale is the standard
    // fix (measured: raw interleave left cust spanning 99% per file)
    val zDir = tempDir("zorder") + "/t"
    orders
      .withColumn("cust_r",
        (percent_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("o_custkey")) * 255).cast("long"))
      .withColumn("day_r",
        (percent_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("day")) * 255).cast("long"))
      .withColumn("z", GraftFunctions.morton(col("cust_r"),
        col("day_r")))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions("z")
      .write.parquet(zDir)

    val sortDir = tempDir("custsort") + "/t"
    orders
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.parquet(sortDir)

    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    val zCust = avg(perFileSpans(zDir, "o_custkey"))
    val zDay = avg(perFileSpans(zDir, "day"))
    val sCust = avg(perFileSpans(sortDir, "o_custkey"))
    val sDay = avg(perFileSpans(sortDir, "day"))
    // single-column sort: first dim tight, second dim spans everything
    assert(sCust < custSpan / 4.0)
    assert(sDay > daySpan * 0.8)
    // z-order with 16 equi-frequency z-ranges: a file's z-interval is
    // ~2^12 of the 2^16 code space, constraining the top two rank
    // bits of EACH dim to at most two adjacent blocks — both dims
    // land near half their global span (vs 100% for the unsorted dim
    // of a single-column layout)
    assert(zCust < custSpan * 0.6,
      s"z cust span $zCust vs global $custSpan")
    assert(zDay < daySpan * 0.6,
      s"z day span $zDay vs global $daySpan")
    // and the layout must beat the single-column sort on its weak dim
    assert(zDay < sDay / 2.0, s"z day $zDay vs cust-sorted day $sDay")
  }

  test("hilbert-ordered write keeps per-file boxes tight in both " +
      "dimensions too") {
    val day = "datediff(o_orderdate, date'1992-01-01')"
    val orders = Tables.t(spark, TestSpark.sfDir, "orders")
      .withColumn("day", expr(day).cast("long"))
      .select("o_orderkey", "o_custkey", "day")
    val g = orders.agg(
      (max("o_custkey") - min("o_custkey")).cast("long"),
      (max("day") - min("day")).cast("long")).head()
    val (custSpan, daySpan) = (g.getLong(0), g.getLong(1))
    val hDir = tempDir("hilbert") + "/t"
    orders
      .withColumn("cust_r",
        (percent_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("o_custkey")) * 255).cast("long"))
      .withColumn("day_r",
        (percent_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("day")) * 255).cast("long"))
      // ranks are 8-bit; shift into the high bits of the 16-bit
      // hilbert domain so the curve order matches the rank scale
      .withColumn("h", GraftFunctions.hilbert(
        shiftleft(col("cust_r"), 8), shiftleft(col("day_r"), 8)))
      .repartitionByRange(16, col("h"))
      .sortWithinPartitions("h")
      .write.parquet(hDir)
    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    val hCust = avg(perFileSpans(hDir, "o_custkey"))
    val hDay = avg(perFileSpans(hDir, "day"))
    // same contract as the z-layout: both dimensions stay bounded, so
    // min/max stats prune on either filter column
    assert(hCust < custSpan * 0.6,
      s"hilbert cust span $hCust vs global $custSpan")
    assert(hDay < daySpan * 0.6,
      s"hilbert day span $hDay vs global $daySpan")
  }
}
