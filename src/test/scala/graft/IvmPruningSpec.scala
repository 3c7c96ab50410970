package graft

import graft.operators.KeyedMerge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checks the cdc_ivm_* 100 TB claim: when the maintained
  * per-key state lives in a bucket-partitioned table, the
  * touched-keys semi-join reaches the scan as a DYNAMIC PARTITION
  * PRUNING filter — the incremental step reads only the touched
  * buckets' files, so recompute cost follows the delta, not the
  * table.
  */
class IvmPruningSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("touched-key semi-join against bucket-partitioned state " +
      "carries a dynamic pruning filter and matches the unpruned read") {
    val ev = Tables.t(spark, TestSpark.sfDir, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1000).cast("long").as("vm"),
      (col("event_id") % 7 === 0).as("del"))
    val dir = tempDir("ivm-state")
    // persisted state: full LWW, bucketed on the key (the delta
    // below touches a USER slice so the touched-bucket set is a
    // strict subset at every SF — event-sliced deltas touch every
    // user once events-per-user exceeds the modulus)
    KeyedMerge.lww(ev, Seq("user_id"), "event_id")
      .withColumn("bucket", pmod(col("user_id"), lit(16L)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/state")
    val state = spark.read.parquet(s"$dir/state")
    val touched = ev.filter(col("user_id") % 5 === 4)
      .select(col("user_id"))
      .distinct()
      .withColumn("bucket", pmod(col("user_id"), lit(16L)))
    val pruned = state.join(touched, Seq("bucket", "user_id"),
      "left_semi")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(2000))
    // pruning must not change the answer
    val full = state.join(
      touched.select("user_id").distinct(), Seq("user_id"), "left_semi")
    assert(pruned.drop("bucket").collect().toSet ===
      full.drop("bucket").collect().toSet)
    // and the delta genuinely touches a strict subset of buckets'
    // keys (otherwise the prune is vacuous at this SF)
    assert(pruned.count() > 0)
    assert(pruned.count() < state.count())
  }
}
