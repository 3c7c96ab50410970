package graft

/** Dev-only single-query timer: `runMain graft.QBench <sfDir> <query>...`
  * — same session shape as Bench, prints per-query cold + warm seconds
  * and the warm run's jobs, stages and tasks (`Measure`).
  * `SPARK_GRAFT_JOBLOG=1` adds each job's seconds, `SPARK_GRAFT_EXPLAIN=1`
  * the formatted physical plan.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local("graft-qbench")
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    // plan dumps stay whole in explain mode
    if (explain)
      spark.conf.set("spark.sql.maxPlanStringLength", "2147483632")
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      // cold means cold: no plan cache or memoized fit from a
      // previous query in the same process
      spark.catalog.clearCache()
      graft.operators.Ext9Queries.clearFitCache()
      def once() = Measure(spark)(fn(spark, sfDir).count()).orThrow
      val cold = once()
      val warm = once()
      println(f"[qbench] $name cold=${cold.sec}%.2fs warm=${warm.sec}%.2fs " +
        s"jobs=${warm.jobs} stages=${warm.stages} tasks=${warm.tasks}")
      if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1"))
        println(s"[qbench-jobs] $name: " + (cold.jobSec ++ warm.jobSec)
          .map { case (id, s) => f"job $id $s%.2fs" }.mkString(" | "))
      if (explain)
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")))
    }
    spark.stop()
  }
}
