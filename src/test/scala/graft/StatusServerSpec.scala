package graft

import graft.app.StatusServer
import graft.streaming.CdcPipeline
import org.scalatest.funsuite.AnyFunSuite

/** O14 monitoring surface: dashboard page + JSON endpoints, including
  * valid JSON while a retry-status embeds quotes/newlines.
  */
class StatusServerSpec extends AnyFunSuite {

  def get(port: Int, path: String): String = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try scala.io.Source.fromInputStream(c.getInputStream, "UTF-8").mkString
    finally c.disconnect()
  }

  test("dashboard serves HTML; /status stays valid JSON under " +
      "quote/newline exception messages") {
    val st = CdcPipeline.statuses.computeIfAbsent("spec-server",
      new CdcPipeline.Status(_))
    st.status = "RETRYING(2): boom \"quoted\"\nnext line \\ backslash"
    st.ok = false
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    // validate() warnings embed Spark error messages, which span lines
    val warning = "warn \"w\"\n  at line 2\tcol 3"
    val srv = new StatusServer(port, Seq(warning),
      Seq("spec-server"), () => ())
    srv.start()
    try {
      val html = get(port, "/")
      assert(html.contains("<html>") && html.contains("/status"))
      val status = get(port, "/status")
      // must parse as JSON despite the hostile status string (jackson
      // is on Spark's classpath)
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val tree = json.readTree(status)
      val row = (0 until tree.size).map(tree.get)
        .find(_.get("id").asText == "spec-server").get
      assert(row.get("status").asText.contains("\"quoted\""))
      assert(!row.get("ok").asBoolean)
      val config = json.readTree(get(port, "/config"))
      assert(config.get("warnings").get(0).asText === warning)
      assert(config.get("readers").get(0).asText === "spec-server")
    } finally {
      srv.stop()
      CdcPipeline.statuses.remove("spec-server")
    }
  }
}
