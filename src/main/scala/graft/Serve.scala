package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.etl.{Dims, LlmHttp, Pipeline}
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Thin HTTP serving shell — the engine-side mirror of the reference's
  * FastAPI app (`app.py:1-13`, `text_processing.py:143-177`). DRIVER
  * SHELL, not engine scope (SURVEY §2.11): the endpoints just parse the
  * request and call [[graft.etl.Pipeline]]; all semantics live in the
  * library.
  *
  * - `GET /` → liveness message (`app.py:7-9`)
  * - `POST /process` → full pipeline over the JSON body (array of
  *   records or bare object), response `{"rows": [{"report": ...}]}` —
  *   the reference returns ONLY the report column
  *   (`text_processing.py:174`); errors → 500 `{"detail": msg}`
  *   (`text_processing.py:176-177`)
  *
  * Every request runs in one [[requestSession]], a child of the caller's
  * session with request-sized SQL settings; the caller's session (the
  * batch and catalog paths) keeps its own. Dims come from
  * `GRAFT_DIMS_DIR` parquet when set (the engine's stand-in for the
  * reference's MongoDB connection env), read once at start-up and held
  * driver-local ([[graft.etl.Dims.local]]), and are synthesized from the
  * request otherwise, exactly like `db_to_dataframe.py:56-58`'s fallback
  * rule. The LLM client is env-selected ([[graft.etl.LlmHttp.fromEnv]])
  * — no key → offline mock.
  */
object Serve {

  private val mapper = new ObjectMapper()

  /** The session requests run in: `spark`'s child with adaptive execution
    * off and one shuffle partition. A request is driver-sized by contract
    * (its report is collected into the HTTP body), so AQE's query-stage
    * jobs and a multi-partition shuffle only add fixed cost per job; the
    * settings are per session, so `spark` itself is left as it is. */
  private[graft] def requestSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }

  /** Start the server on `port` (0 = ephemeral, for tests) and return it
    * running; the caller owns stop(). */
  def startServer(spark: SparkSession, port: Int): HttpServer = {
    val session = requestSession(spark)
    val dims = Conf.Env.dimsDir.map(Dims.fromParquet(session, _).local)
    val client = LlmHttp.fromEnv()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    def respond(ex: HttpExchange, status: Int, json: String): Unit = {
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    server.createContext("/", (ex: HttpExchange) =>
      // com.sun.net.httpserver treats "/" as a catch-all prefix; the
      // reference FastAPI app 404s unknown paths, so match only the
      // exact root and mirror FastAPI's {"detail": "Not Found"} otherwise
      if (ex.getRequestURI.getPath == "/")
        respond(ex, 200,
          """{"message": "Text Processing Pipeline Demo API is running"}""")
      else respond(ex, 404, """{"detail": "Not Found"}"""))

    server.createContext("/process", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      try {
        // FastAPI rejects an unparseable body before the handler runs;
        // the engine's from_json would instead degrade it to zero rows,
        // so the shell validates eagerly to keep the reference's
        // error-vs-empty distinction
        mapper.readTree(body)
        val reports = Pipeline.run(session, body, dims, client).collect()
        val root = mapper.createObjectNode()
        val rows = root.putArray("rows")
        reports.foreach(r => rows.addObject().put("report", r.getString(1)))
        respond(ex, 200, mapper.writeValueAsString(root))
      } catch {
        case e: Throwable =>
          val root = mapper.createObjectNode()
          root.put("detail", Option(e.getMessage).getOrElse(e.getClass.getName))
          respond(ex, 500, mapper.writeValueAsString(root))
      }
    })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(Conf.Env.servePort)
    val spark = Conf.localSession(
      Conf.Env.cpus(Runtime.getRuntime.availableProcessors()))
    val server = startServer(spark, port)
    println(s"graft serving on http://127.0.0.1:${server.getAddress.getPort}")
    Thread.currentThread().join()
  }
}
