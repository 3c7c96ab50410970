package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions plugin path: a session built with
  * GraftExtensions resolves the graft functions from plain SQL with no
  * imperative register() call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions session resolves unwrap/vec_dot/rolling_hash") {
    val base = TestSpark.spark // ensures the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try
      SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
    assert(s2 ne base) // a genuinely new session, extensions applied

    val r = s2.sql(
      """SELECT unwrap(123L) AS u,
        |  vec_dot(CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>),
        |          CAST(array(4.0, 5.0, 6.0) AS ARRAY<FLOAT>)) AS d,
        |  rolling_hash('ab') AS h""".stripMargin).head()
    assert(r.getAs[Long]("u") === 123L)
    assert(r.getAs[Double]("d") === 32.0)
    // 'a'·257 + 'b' — the documented Karp-Rabin base-257 contract
    assert(r.getAs[Long]("h") === 97L * 257L + 98L)

    // unwrap keeps its hard-fail-on-NULL semantics through this path
    val err = intercept[Exception] {
      s2.sql("SELECT unwrap(CAST(NULL AS INT)) AS u").collect()
    }
    assert(err.getMessage.toLowerCase.contains("unwrap"))

    // morton resolves through the plugin too:
    // 3 = 0b11 -> even bits 0b101 = 5; 5 = 0b101 -> odd bits
    // 0b100010 = 34; z = 39
    assert(s2.sql("SELECT morton(3, 5) AS z").head().getLong(0) === 39L)

    // the PLANNER strategy is injected by the plugin as well: an
    // AsOfJoinNode constructed directly (no PlanBridge.install
    // call) must plan and execute on this session
    import s2.implicits._
    val l = Seq((1L, 10L, "l")).toDF("k", "t", "tag")
    val r2 = Seq((1L, 5L, "p")).toDF("k", "rt", "pv")
    val node = graft.plans.AsOfJoinNode(
      org.apache.spark.sql.graftbridge.PlanBridge.analyzed(l),
      org.apache.spark.sql.graftbridge.PlanBridge.analyzed(r2),
      Seq("k"), "t", "rt", Seq("pv"))
    val out = org.apache.spark.sql.graftbridge.PlanBridge
      .ofRows(s2, node).select("tag", "pv").head()
    assert(out.getString(0) === "l" && out.getString(1) === "p")
  }
}
