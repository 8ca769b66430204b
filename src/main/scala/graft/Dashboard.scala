package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.config.Configs

/** F11 — the interactive dashboard (reference `app.py:96-200`), re-expressed
  * as a zero-dependency JDK `HttpServer` instead of Streamlit (a Python UI
  * stack has no place in a Spark-native engine; the flow, not the widget
  * toolkit, is the behavior under test). Same three steps:
  *
  *  1. pick a data source — file uploads into a server-side uploads dir
  *     (`app.py:105-127`) or a website URL (`app.py:129-135`);
  *  2. run the pipeline through a GENERATED temp YAML config
  *     (`create_temp_pipeline_config`, `app.py:64-93` — fixed
  *     adaptive-chunker template, source block swapped in), loaded back
  *     through the real F3 config path;
  *  3. interactively search the populated sink — top-k (source, text)
  *     (`app.py:164-195`), refusing until a run has happened
  *     (`app.py:196-198`).
  *
  * The config from the last successful run is the session handle, exactly
  * as `st.session_state["sink_config"/"embedder_config"]` holds it
  * (`app.py:155-157`); it is held inside the one `Engine.Searcher` built
  * from it, so every search of a session reuses that searcher's sink
  * snapshot.
  *
  * Scale note: the server is a thin control plane — every data-touching
  * step (run, search) is the same distributed `Pipeline.run` /
  * `Engine.Searcher` plan the CLI drives; nothing corpus-sized passes
  * through the HTTP layer.
  */
final class Dashboard(spark: SparkSession, workDir: Path, port: Int = 0) {

  @volatile private var session: Option[Engine.Searcher] = None

  // /run serializes: concurrent runs share workDir/temp_pipeline.yaml (and
  // the sink/state paths), so an interleaved write->load could run the
  // OTHER request's config. Searches stay concurrent — only runs queue.
  private val runLock = new Object

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Ephemeral-port accessor for tests (`port = 0`). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    registerRoutes()
    // Without an executor the JDK server dispatches on ONE thread, so a
    // minutes-long /run would block the UI page and /search (review
    // finding); a cached pool keeps the control plane responsive. Spark
    // itself serializes concurrent runs safely.
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      r => { val t = new Thread(r, "graft-dashboard"); t.setDaemon(true); t }))
    server.start()
  }

  def stop(): Unit = server.stop(0)

  // -------------------------------------------------------------------- //

  private def registerRoutes(): Unit = {
    server.createContext("/", handler { ex =>
      if (ex.getRequestURI.getPath != "/") (404, "text/plain", "not found")
      else (200, "text/html; charset=utf-8", IndexHtml)
    })
    server.createContext("/upload", handler { ex =>
      val name = param(ex, "name").getOrElse("")
      if (foreignOrigin(ex)) ForeignOriginResponse
      else if (ex.getRequestMethod != "POST") (405, "text/plain", "POST only")
      else if (name.isEmpty || name.contains('/') || name.contains('\\')
        || name.contains("..")) (400, "text/plain", "bad file name")
      else {
        val dir = workDir.resolve("uploads")
        Files.createDirectories(dir)
        Files.write(dir.resolve(name), ex.getRequestBody.readAllBytes())
        (200, "application/json", s"""{"saved": ${jstr(name)}}""")
      }
    })
    server.createContext("/run", handler { ex =>
      if (foreignOrigin(ex)) ForeignOriginResponse
      else if (ex.getRequestMethod != "POST") (405, "text/plain", "POST only")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val form = parseQuery(body) ++ parseQuery(
          Option(ex.getRequestURI.getRawQuery).getOrElse(""))
        val sourceYaml = form.getOrElse("source_type", "local_files") match {
          case "web" =>
            val url = form.getOrElse("url",
              return400("web source needs url="))
            // The value lands inside a double-quoted YAML scalar: control
            // chars would break the scalar and quotes/backslashes would
            // inject YAML structure (review finding) — refuse the former,
            // escape the latter.
            if (url.exists(_ < ' '))
              return400("url must not contain control characters")
            val q = url.replace("\\", "\\\\").replace("\"", "\\\"")
            s"""source:
               |  type: web
               |  config:
               |    url: "$q"""".stripMargin
          case _ =>
            s"""source:
               |  type: local_files
               |  config:
               |    directory: ${workDir.resolve("uploads")}
               |    glob: "*"""".stripMargin
        }
        runLock.synchronized {
          val cfgPath = writeTempConfig(sourceYaml)
          val cfg = Configs.load(cfgPath.toString)
          val report = Pipeline.run(spark, cfg)
          // Session handle set ONLY after a successful run (app.py:152-157:
          // session_state is assigned inside the success path) — a failed
          // run must leave /search refusing, not 500ing on a stale sink.
          session = Some(Engine.Searcher(cfg))
          (200, "application/json",
            s"""{"config": ${jstr(cfgPath.toString)},
               | "documents_loaded": ${report.documentsLoaded},
               | "documents_changed": ${report.documentsChanged},
               | "chunks_written": ${report.chunksWritten},
               | "sources_processed": ${report.sourcesProcessed}}""".stripMargin)
        }
      }
    })
    server.createContext("/search", handler { ex =>
      session match {
        case None =>
          (409, "application/json",
            """{"error": "Please run a pipeline first."}""") // app.py:198
        case Some(searcher) =>
          val q = param(ex, "q").getOrElse("")
          if (q.isEmpty) (400, "text/plain", "search needs q=")
          else {
            val k = param(ex, "k") match { // app.py:53 default k=3
              case None => 3
              case Some(s) => s.toIntOption.filter(_ >= 1)
                .getOrElse(return400("k must be a positive integer"))
            }
            val rows = searcher.search(spark, q, k).collect()
            val items = rows.zipWithIndex.map { case (r, i) =>
              // score is NULL for zero-norm vectors (cosine contract) —
              // emit JSON null, never NPE on the unbox.
              val score = Option(r.getAs[java.lang.Double]("score"))
                .map(_.toString).getOrElse("null")
              s"""{"rank": ${i + 1}, "source": ${jstr(r.getAs[String]("source"))},
                 | "text": ${jstr(r.getAs[String]("text"))},
                 | "score": $score}""".stripMargin
            }
            (200, "application/json", items.mkString("[", ",\n", "]"))
          }
      }
    })
  }

  /** The `create_temp_pipeline_config` analog (`app.py:64-93`): the fixed
    * chunker/embedder/sink template with the chosen source block swapped
    * in, written under the work dir and loaded back through F3.
    */
  private def writeTempConfig(sourceYaml: String): Path = {
    val yaml =
      s"""$sourceYaml
         |chunker:
         |  type: adaptive
         |  config:
         |    chunk_size: 500
         |    chunk_overlap: 50
         |embedder:
         |  type: sentence_transformer
         |  config:
         |    dim: 384
         |sink:
         |  type: lancedb
         |  config:
         |    uri: ${workDir.resolve("sink")}
         |state_manager:
         |  type: json
         |  config:
         |    path: ${workDir.resolve("state.json")}
         |""".stripMargin
    Files.createDirectories(workDir)
    val p = workDir.resolve("temp_pipeline.yaml")
    Files.writeString(p, yaml)
    p
  }

  // ----------------------------- plumbing ----------------------------- //

  /** CSRF / DNS-rebinding guard for the state-changing routes: binding
    * 127.0.0.1 does not stop a malicious page in the OPERATOR'S browser
    * from firing simple cross-origin POSTs at the loopback port (writing
    * attacker files into uploads/, triggering runs that fetch
    * attacker-chosen URLs — drive-by SSRF). Browsers attach `Origin` to
    * every cross-origin POST and `Host` to every request, so rejecting a
    * non-loopback value of either closes both vectors; non-browser
    * clients (curl, the e2e spec) send no Origin and a loopback Host and
    * pass untouched.
    */
  private[graft] def foreignOrigin(ex: HttpExchange): Boolean = {
    def isLoopback(h: String): Boolean =
      h == "localhost" || h == "127.0.0.1" || h == "::1"
    def hostOf(hostPort: String): String = {
      val s = hostPort.trim
      if (s.startsWith("[")) s.drop(1).takeWhile(_ != ']')
      else s.takeWhile(_ != ':')
    }
    val hostOk = Option(ex.getRequestHeaders.getFirst("Host"))
      .forall(h => isLoopback(hostOf(h)))
    val originOk = Option(ex.getRequestHeaders.getFirst("Origin")).forall {
      o =>
        try {
          val h = java.net.URI.create(o.trim).getHost
          h != null && isLoopback(h)
        } catch { case _: IllegalArgumentException => false }
    }
    // Belt-and-suspenders (r11 advice): the header checks above rest on
    // the browser invariant that Host/Origin are attached; the SOCKET
    // peer address is the server's own ground truth and costs nothing.
    // The server binds loopback, so a non-loopback peer is either a
    // misconfiguration (rebound to 0.0.0.0) or a forwarded request —
    // reject state changes either way. Null-safe: a missing address
    // (exotic transports) falls back to the header-only decision.
    val peerOk = Option(ex.getRemoteAddress)
      .flatMap(a => Option(a.getAddress))
      .forall(_.isLoopbackAddress)
    !(hostOk && originOk && peerOk)
  }

  private val ForeignOriginResponse: (Int, String, String) =
    (403, "application/json",
      """{"error": "cross-origin request rejected: dashboard accepts state-changing requests from localhost pages only"}""")

  private def handler(f: HttpExchange => (Int, String, String)) =
    new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, ctype, body) =
          try f(ex)
          catch {
            case Return400(msg) => (400, "text/plain", msg)
            case e: Exception =>
              (500, "application/json", s"""{"error": ${jstr(e.toString)}}""")
          }
        val bytes = body.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", ctype)
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    }

  private final case class Return400(msg: String)
    extends RuntimeException(msg)

  private def return400(msg: String): Nothing = throw Return400(msg)

  private def param(ex: HttpExchange, key: String): Option[String] =
    parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse("")).get(key)

  private def parseQuery(q: String): Map[String, String] =
    q.split('&').toSeq.filter(_.contains('='))
      .map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.take(i), UTF_8) ->
          java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap

  private def jstr(s: String): String =
    "\"" + graft.functions.RemoteEmbedder.jsonEscape(Option(s).getOrElse("")) + "\""

  /** The single-page UI: the three `app.py` sections as plain fetch()
    * calls against the routes above.
    */
  private val IndexHtml: String =
    """<!doctype html><html><head><meta charset="utf-8">
      |<title>graft dashboard</title>
      |<style>body{font-family:sans-serif;max-width:46rem;margin:2rem auto}
      |section{margin-bottom:1.5rem}textarea{width:100%}pre{background:#f4f4f4;
      |padding:.5rem;white-space:pre-wrap}</style></head><body>
      |<h1>graft: data pipeline dashboard</h1>
      |<section><h2>1. Select data source</h2>
      |<label><input type="radio" name="st" value="local_files" checked> Upload text</label>
      |<label><input type="radio" name="st" value="web"> Website URL</label>
      |<div id="up"><input id="fname" placeholder="file name, e.g. notes.txt">
      |<textarea id="fbody" rows="4" placeholder="file contents"></textarea>
      |<button onclick="upload()">Upload</button></div>
      |<div><input id="url" placeholder="https://..." size="50"></div></section>
      |<section><h2>2. Run pipeline</h2>
      |<button onclick="run()">Run pipeline</button></section>
      |<section><h2>3. Search test</h2>
      |<input id="q" placeholder="Ask a question" size="40">
      |<button onclick="search()">Search</button></section>
      |<pre id="out">ready</pre>
      |<script>
      |const out = m => document.getElementById('out').textContent =
      |  typeof m === 'string' ? m : JSON.stringify(m, null, 2);
      |const v = id => document.getElementById(id).value;
      |async function upload(){
      |  const r = await fetch('/upload?name=' + encodeURIComponent(v('fname')),
      |    {method: 'POST', body: v('fbody')});
      |  out(await r.json());}
      |async function run(){
      |  const st = document.querySelector('input[name=st]:checked').value;
      |  const body = 'source_type=' + st +
      |    (st === 'web' ? '&url=' + encodeURIComponent(v('url')) : '');
      |  out('pipeline running...');
      |  const r = await fetch('/run', {method: 'POST', body});
      |  out(await r.json());}
      |async function search(){
      |  const r = await fetch('/search?q=' + encodeURIComponent(v('q')));
      |  out(await r.json());}
      |</script></body></html>""".stripMargin
}

object Dashboard {
  /** CLI entry (`Cli` verb `dashboard`): serve on `port` (Streamlit's
    * default 8501 by homage) over `workDir` (the reference's `temp_ui/`),
    * blocking until killed.
    */
  def serve(spark: SparkSession, workDir: Path, port: Int): Dashboard = {
    val d = new Dashboard(spark, workDir, port)
    d.start()
    d
  }
}
