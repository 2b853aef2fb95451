package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graft.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger
import scala.io.Source

/** Smoke test for the driver-shell HTTP surface (`graft.Serve` mirrors
  * `app.py` + `text_processing.py:143-177`): liveness, a real /process
  * round-trip over the sample request, and the 500 error envelope; and
  * the request path's plan: its job budget, and its reports against the
  * caller's session. */
class ServeSpec extends AnyFunSuite {
  import PipelinePropertiesSpec.{randomBody, summaryDims, triples}

  private val mapper = new ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  private def withShell[A](f: String => A): A = {
    val server = graft.Serve.startServer(TestSpark.session, 0)
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def get(url: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(url: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET / reports liveness like the reference root endpoint") {
    withShell { base =>
      val r = get(s"$base/")
      assert(r.statusCode() == 200)
      assert(mapper.readTree(r.body()).get("message").asText
        == "Text Processing Pipeline Demo API is running")
    }
  }

  test("POST /process runs the full pipeline and returns report rows") {
    withShell { base =>
      val r = post(s"$base/process", Pipeline.SampleRequest)
      assert(r.statusCode() == 200)
      val rows = mapper.readTree(r.body()).get("rows")
      assert(rows.size == 1)
      val report = rows.get(0).get("report").asText
      assert(report.contains("範例分類") && report.contains("本項無補充說明"))
    }
  }

  test("POST /process returns the 500 error envelope on a bad body") {
    withShell { base =>
      val r = post(s"$base/process", "this is not json")
      assert(r.statusCode() == 500)
      assert(mapper.readTree(r.body()).has("detail"))
    }
  }

  private def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The rich fixture's dims, read in `s` as they would be from storage. */
  private def richDims(s: SparkSession): Dims = {
    def jsonl(name: String): DataFrame = s.read.json(s.createDataset(
      resource(s"/rich_dims_$name.jsonl").split('\n').toSeq.filter(_.nonEmpty))(Encoders.STRING))
    Dims(jsonl("item_meta"), jsonl("item_group_map"), jsonl("diag_tbl"), jsonl("summary_tbl"))
  }

  private val marker = new Llm.RewriteClient {
    def rewrite(langNo: String, text: String): String = s"[RW:$langNo]$text"
  }

  test("a warm request on the request session runs at most 11 Spark jobs") {
    val rs = graft.Serve.requestSession(TestSpark.session)
    val dims = Some(richDims(rs).local)
    val body = resource("/rich_request.json")
    Pipeline.run(rs, body, dims, marker) // warm-up
    val sc = rs.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // the listener bus is async: drain what earlier work posted before
    // listening, and what this request posted before reading the count
    TestListenerBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      // collecting the returned local frame runs no job of its own
      assert(Pipeline.run(rs, body, dims, marker).collect().nonEmpty)
      TestListenerBus.waitUntilEmpty(sc)
      assert(jobs.get() <= 11, s"a warm request ran ${jobs.get()} Spark jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("request-session reports equal the caller session's with non-local dims") {
    val base = TestSpark.session
    val rs = graft.Serve.requestSession(base)
    val rich = resource("/rich_request.json")
    assert(triples(Pipeline.run(rs, rich, Some(richDims(rs).local), marker))
      == triples(Pipeline.run(base, rich, Some(richDims(base)), marker)),
      "rich fixture: the request session changed the reports")
    Seq(7L, 23L).foreach { seed =>
      val body = randomBody(seed, nRecords = 6)
      def runIn(s: SparkSession, local: Boolean) = {
        val dims = summaryDims(Ingest.parseBody(s, body))
        triples(Pipeline.run(s, body, Some(if (local) dims.local else dims), marker))
      }
      val expected = runIn(base, local = false)
      assert(expected.nonEmpty, s"seed $seed produced no reports")
      assert(runIn(rs, local = true) == expected,
        s"seed $seed: the request session changed the reports")
    }
  }
}
