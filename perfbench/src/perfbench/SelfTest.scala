package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** The benchmark's own checks:
  *  1. the same seed gives a byte-identical changelog, another seed a
  *     different one;
  *  2. a drained sink matches the model, and the model check catches a
  *     deliberately corrupted row and a deleted row.
  * Exits 0 when every check holds.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val base = Main.parse(Array("--workload", "self", "--seed", "0",
      "--seconds", "0") ++ argv).work
    Files.createDirectories(base)
    val work = Files.createTempDirectory(base, "selftest-")
    var failures = List.empty[String]
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures ::= what
    }
    def bytes(dir: Path): Seq[Array[Byte]] = {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq.sortBy(_.toString).map(Files.readAllBytes)
      finally s.close()
    }
    def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]) =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        java.util.Arrays.equals(x, y) }

    Gen.writeLog(work.resolve("a"), 42, 20000, 2000, 5000)
    Gen.writeLog(work.resolve("b"), 42, 20000, 2000, 5000)
    Gen.writeLog(work.resolve("c"), 43, 20000, 2000, 5000)
    check(same(bytes(work.resolve("a")), bytes(work.resolve("b"))),
      "same seed gives a byte-identical changelog")
    check(!same(bytes(work.resolve("a")), bytes(work.resolve("c"))),
      "another seed gives another changelog")

    val spark = Main.session(2, work)
    try {
      val args = Main.Args("self", 42, 0, trace = false, cores = 2,
        work = work, deadlineS = 600, onlyTraced = false)
      val r = new Run(spark, args,
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime, 0)
      val model = new Model(2000)
      Gen.writeLog(work.resolve("log"), 42, 20000, 2000, 5000)
        .foreach(model.apply)
      val sink = Cdc.sink(spark, work.resolve("sink"))
      val d = Cdc.drain(r, Cdc.pipeline(work.resolve("log").toString,
        work.resolve("ckpt"), sink, 2), None)
      check(d.ok && d.rows == 20000, "the drain commits all 20000 envelopes")
      def diffs = model.diff(sink.load()
        .select("user_id", "event_type", "value_milli")
        .toLocalIterator().asScala)
      check(diffs.isEmpty, s"drained sink matches the model ${diffs.take(1)}")

      val victim = sink.load().filter(col("value_milli").isNotNull)
        .orderBy("user_id").head()
      val key = victim.getLong(0)
      sink.apply(sink.load().filter(col("user_id") === key)
        .withColumn("value_milli", col("value_milli") + 1)
        .withColumn("op", lit(graft.operators.CdcParse.OpUpdate)), "upsertInto")
      check(diffs.exists(_.contains(s"key $key")),
        s"a corrupted value in row $key is caught")
      sink.apply(sink.load().filter(col("user_id") === key)
        .withColumn("op", lit(graft.operators.CdcParse.OpErase)), "upsertInto")
      check(diffs.exists(_.contains("rows")), s"a deleted row $key is caught")
    } finally spark.stop()
    Cdc.deleteTree(work)
    if (failures.nonEmpty) {
      println(s"${failures.length} self-test check(s) failed")
      sys.exit(1)
    }
    println("all self-test checks passed")
  }
}
