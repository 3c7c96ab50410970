package graft.app

import graft.streaming.CdcPipeline
import java.net.InetSocketAddress

/** Monitoring/control HTTP surface (SURVEY.md §2 O14, mirrors
  * WebController.java:25-83): `GET /status` per-reader JSON,
  * `GET /config` warnings + consumer ids, `POST /stop` graceful stop.
  * Zero-dependency (JDK HttpServer).
  */
class StatusServer(port: Int, warnings: Seq[String],
    consumers: Seq[String], onStop: () => Unit) {

  private val server =
    com.sun.net.httpserver.HttpServer.create(new InetSocketAddress(port), 0)

  private def respond(ex: com.sun.net.httpserver.HttpExchange,
      code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** 1 Hz-polling dashboard (reference `static/index.html`): per-reader
    * ok/status plus last-read/last-written freshness, rendered from
    * /status. Zero dependencies, inline page.
    */
  private val dashboardHtml =
    """<!DOCTYPE html>
      |<html><head><title>graft CDC status</title><style>
      |body{font-family:sans-serif;margin:2em}
      |table{border-collapse:collapse}
      |td,th{border:1px solid #999;padding:4px 10px;text-align:left}
      |.ok{color:#070}.bad{color:#b00;font-weight:bold}
      |#warn{color:#b60}
      |</style></head><body>
      |<h2>graft CDC processor</h2>
      |<div id="warn"></div>
      |<table><thead><tr><th>consumer</th><th>ok</th><th>status</th>
      |<th>last read</th><th>last written</th><th>rows</th></tr></thead>
      |<tbody id="rows"></tbody></table>
      |<script>
      |function ts(ms){return ms? new Date(ms).toISOString() : "-";}
      |async function tick(){
      |  try{
      |    const st = await (await fetch('/status')).json();
      |    document.getElementById('rows').innerHTML = st.map(r =>
      |      `<tr><td>${r.id}</td>` +
      |      `<td class="${r.ok?'ok':'bad'}">${r.ok}</td>` +
      |      `<td>${r.status}</td><td>${ts(r.lastReaded)}</td>` +
      |      `<td>${ts(r.lastWrited)}</td><td>${r.rowsWritten}</td></tr>`
      |    ).join('');
      |    const cfg = await (await fetch('/config')).json();
      |    document.getElementById('warn').textContent =
      |      cfg.warnings.length ? 'warnings: '+cfg.warnings.join('; ') : '';
      |  }catch(e){
      |    document.getElementById('warn').textContent = 'poll failed: '+e;
      |  }
      |}
      |tick(); setInterval(tick, 1000);
      |</script></body></html>
      |""".stripMargin

  def start(): Unit = {
    server.createContext("/",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        respond(ex, 200, dashboardHtml, "text/html"))
    server.createContext("/status",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        respond(ex, 200, CdcPipeline.statusJson))
    server.createContext("/config",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        def arr(xs: Seq[String]) =
          xs.map(CdcPipeline.jsonStr).mkString("[", ",", "]")
        respond(ex, 200,
          s"""{"warnings":${arr(warnings)},"readers":${arr(consumers)}}""")
      })
    server.createContext("/stop",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        respond(ex, 200, """{"stopping":true}""")
        onStop()
      })
    server.setExecutor(null)
    server.start()
  }

  def stop(): Unit = server.stop(0)
}
