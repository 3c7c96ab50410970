package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload cdc_bulk|cdc_tail --seed N --seconds S
  *   --trace 0|1 [--cores C] [--work DIR] [--deadline SECONDS]
  *   [--only-traced]
  * }}}
  *
  * Prints a `{"detail": ...}` line (sample counts, failures with their
  * class and message, per-phase figures) and then, as the last line,
  * `{"correct", "attempted", "failed", "metrics"}`. Exits 1 when the
  * sink state differs from the model.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: Path, deadlineS: Double,
      onlyTraced: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt,
      Paths.get(m.getOrElse("work", ".bench_build/work")).toAbsolutePath,
      m.getOrElse("deadline", "160").toDouble,
      argv.contains("--only-traced"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val spark = session(a.cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val run = new Run(spark, a, jvmStartMs, sessionS)
    try a.workload match {
      case "cdc_bulk" => Bulk.run(run)
      case "cdc_tail" => Tail.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    println(run.detailJson)
    println(run.resultJson)
    System.out.flush()
    sys.exit(if (run.correct) 0 else 1)
  }
}

/** State of one benchmark run: deadline, outcome counters, metrics. */
final class Run(val spark: SparkSession, val args: Main.Args,
    jvmStartMs: Long, val sessionS: Double) {
  val deadlineMs: Long = jvmStartMs + (args.deadlineS * 1000).toLong
  def msLeft: Long = deadlineMs - System.currentTimeMillis()

  var correct = true
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  val failures = ArrayBuffer.empty[String]
  val e2e = new Metrics
  val layer = new Metrics
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def mismatch(what: String, diffs: Seq[String]): Unit = if (diffs.nonEmpty) {
    correct = false
    problems ++= diffs.map(d => s"$what: $d")
  }

  def attempt(n: Long): Unit = synchronized { attempted += n }

  def fail(op: String, e: Throwable): Unit = synchronized {
    failed += 1
    if (failures.length < 20)
      failures += s"$op: ${e.getClass.getName}: ${e.getMessage}"
        .linesIterator.take(2).mkString(" | ")
  }

  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def detailJson: String = {
    val d = detail.map { case (k, v) => s"${str(k)}:$v" } ++ Seq(
      s""""problems":${problems.map(str).mkString("[", ",", "]")}""",
      s""""failures":${failures.map(str).mkString("[", ",", "]")}""")
    s"""{"detail":{"workload":${str(args.workload)},"seed":${args.seed},""" +
      s""""cores":${args.cores},"trace":${args.trace},""" +
      d.mkString(",") + "}}"
  }

  def resultJson: String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${(if (args.trace) layer else e2e).json}}"""
}
