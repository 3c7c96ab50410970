package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name subset (dev loop)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
      // natively; read as nanos-since-epoch long (Tables.eventsTs
      // converts to TimestampType)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf: hold every catalog plan's codegen classes (the
      // default 100-entry LRU recompiles each of the 400+ queries)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // same engine conf as Bench (round 13): AQE partition coalescing
      // applies inside cached-plan materialization. Set HERE too so
      // the driver's correctness gate runs the exact session shape the
      // bench times — the oracle compare is the proof the conf is
      // result-invariant.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // bound storage memory across the 150+ queries: plan-keyed
      // cache() blocks (LSH/graph/DSIR intermediates) are only useful
      // within one query's job here
      spark.catalog.clearCache()
    }
    // jsonStr escapes every control char: a tab or CR in an oracle's
    // SQL would otherwise make the file invalid JSON
    import graft.streaming.CdcPipeline.jsonStr
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
