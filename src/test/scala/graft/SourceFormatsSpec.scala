package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-format source/sink breadth (SURVEY §2.3 lists these as absent
  * from the reference — the rebuild provides them via spark.read/write):
  * CSV and JSON round-trips must reproduce the parquet source.
  */
class SourceFormatsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)"))
      .collect().map(_.toString).sorted

  test("csv and json round-trips equal the parquet source") {
    val o = Tables.t(spark, TestSpark.sfDir, "orders")
    val base = canon(o)
    val csvDir = tempDir("fmt-csv")
    o.write.mode("overwrite").option("header", "true").csv(csvDir)
    val fromCsv = spark.read.option("header", "true")
      .schema(o.schema).csv(csvDir)
    assert(canon(fromCsv) === base)
    val jsonDir = tempDir("fmt-json")
    o.write.mode("overwrite").json(jsonDir)
    val fromJson = spark.read.schema(o.schema).json(jsonDir)
    assert(canon(fromJson) === base)
  }

  test("orc round-trip equals the parquet source; filter pushes down") {
    val o = Tables.t(spark, TestSpark.sfDir, "orders")
    val orcDir = tempDir("fmt-orc")
    o.write.mode("overwrite").orc(orcDir)
    val fromOrc = spark.read.schema(o.schema).orc(orcDir)
    assert(canon(fromOrc) === canon(o))
    val f = fromOrc.filter(col("o_orderkey") === 1)
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_orderkey"), plan)
  }

  test("partitioned parquet write prunes on read") {
    val dir = tempDir("fmt-part")
    Tables.t(spark, TestSpark.sfDir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val one = spark.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition pruning missing:\n$plan")
    assert(one.count() ===
      Tables.t(spark, TestSpark.sfDir, "orders")
        .filter(col("o_orderstatus") === "F").count())
  }
}
