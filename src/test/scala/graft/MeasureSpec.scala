package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness timer: counts a run's scheduler work and hands a failure
  * back to the caller instead of throwing it.
  */
class MeasureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Measure counts jobs and tasks, and returns a failure with its " +
      "class and message") {
    val ok = Measure(spark)(spark.range(0, 100, 1, 4).count())
    assert(ok.ok && ok.secOr(-1.0) === ok.sec && ok.sec >= 0)
    assert(ok.jobs >= 1 && ok.tasks >= 4 && ok.jobSec.nonEmpty, ok)
    val failed = Measure(spark)(throw new IllegalStateException("boom"))
    assert(failed.secOr(-1.0) === -1.0)
    assert(failed.failure ===
      Some("java.lang.IllegalStateException: boom"))
    assertThrows[IllegalStateException](failed.orThrow)
  }
}
