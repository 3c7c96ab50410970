package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the entry points (app/Main, Bench,
  * QBench, Verify, ScaleGen, ChangelogGen): the CDC processor runs with
  * the engine settings the bench times and the oracle verifies. A JVM
  * option `-Dspark.<key>=<value>` wins over any setting below, which is
  * how a conf is tried out without recompiling.
  */
object Sessions {
  def local(appName: String): SparkSession = {
    // local worker threads, and as many shuffle partitions
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val settings = Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      // events.ts is parquet TIMESTAMP(NANOS), which Spark cannot read
      // natively; read it as nanos-since-epoch long (Tables.t)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // StaticSQLConf (first session of the JVM only): the codegen
      // class cache is a 100-entry LRU by default, which a 400+-query
      // catalog cycles between a query's warmup and its timed run, so
      // every timing paid janino recompilation (the r8 suite read
      // 436 s vs 237 s on identical plans). Sized to hold the catalog.
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      // AQE renders the FULL plan string for every listener event even
      // with the UI off; on graph_kcore's nested cached plans that was
      // ~1 MB and ~0.8 s of every warm run (2.5-2.9 s -> 1.8 s). A
      // runtime conf: QBench lifts it in explain mode.
      "spark.sql.maxPlanStringLength" -> "32768",
      // let AQE coalesce shuffle partitions inside cached-plan
      // materialization too: the iterative operators cache every round,
      // and each exchange under a cache otherwise runs at the static
      // partition count (graph_2hop_reach 260 -> 12 tasks, warm 1.57 ->
      // 0.42 s). Result-invariant by the oracle at sf0.01 and sf0.001.
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    val spark = settings.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, sys.props.getOrElse(k, v))
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
