package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.HttpExchange
import graft.{Conf, Serve}
import graft.etl._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import scala.collection.mutable.ArrayBuffer

/** The benchmark's engine process. One mode per workload family:
  *
  *  - `serve`: [[graft.Serve.startServer]] plus `/perfbench/...` control
  *    endpoints (counters, heap, direct and traced pipeline runs); the
  *    client loop lives in `run.py`;
  *  - `batch`: JSONL bodies → `Pipeline.runDistributed` → JSONL sink,
  *    pass after pass;
  *  - `curation`: near-dup dedup → quality filter → split → parquet.
  *
  * Arguments are `key=value`. Batch and curation print `SETUP_DONE` when
  * their first (cold) pass has committed, then write a result JSON to
  * `result=`.
  */
object Engine {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.tail.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val spark = Conf.configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", a("tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    try args.head match {
      case "serve" => serve(spark, counters, a)
      case "batch" => batch(spark, counters, a)
      case "curation" => curation(spark, counters, a)
    } finally spark.stop()
  }

  /** Heap in use after full GCs. The pause between them lets Spark's
    * ContextCleaner drop the broadcasts and shuffles the first GC made
    * unreachable. */
  private def heapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def reportsJson(rows: Array[Row]): ArrayNode = {
    val arr = mapper.createArrayNode()
    rows.foreach(r => arr.add(r.getAs[String]("report")))
    arr
  }

  private def spansJson(spans: Iterable[Span]): ArrayNode = {
    val arr = mapper.createArrayNode()
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("name", s.name).put("ms", s.ms).put("rows_in", s.rowsIn).put("rows_out", s.rowsOut)
      s.counters.put(n)
    }
    arr
  }

  private def statsJson(n: ObjectNode, c: Snap, gc: Boolean): ObjectNode = {
    c.put(n)
    if (gc) n.put("heap_mb", heapMb())
    n
  }

  // ---------------------------------------------------------------- serve

  private def serve(spark: SparkSession, counters: Counters, a: Map[String, String]): Unit = {
    val server = Serve.startServer(spark, 0)
    val dims = Conf.Env.dimsDir.map(Dims.fromParquet(spark, _))
    val client = LlmHttp.fromEnv()
    val tracer = new Tracer(spark.sparkContext, counters)
    val done = new CountDownLatch(1)
    var op = 0

    def endpoint(path: String)(f: String => ObjectNode): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val (status, out) =
          try (200, mapper.writeValueAsBytes(f(body)))
          catch { case e: Throwable =>
            (500, mapper.writeValueAsBytes(mapper.createObjectNode().put("detail", e.toString)))
          }
        ex.sendResponseHeaders(status, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      })

    endpoint("/perfbench/stats") { q =>
      statsJson(mapper.createObjectNode(), counters.snap(spark.sparkContext), q == "gc")
    }
    endpoint("/perfbench/direct") { body =>
      val t = System.nanoTime()
      val rows = Pipeline.run(spark, body, dims, client).collect()
      val n = mapper.createObjectNode().put("ms", ms(t))
      n.set[ArrayNode]("reports", reportsJson(rows))
      n
    }
    endpoint("/perfbench/trace") { body =>
      op += 1
      val out = Layers.etl(tracer, op, () => Ingest.parseBody(spark, body), dims, client,
        Localize, None)
      val n = mapper.createObjectNode()
      n.set[ArrayNode]("reports", reportsJson(out.reports.collect()))
      llmCounts(n, out.rewrite)
      n.set[ArrayNode]("spans", spansJson(tracer.spans.filter(_.op == op)))
      n
    }
    // answers first: the latch releases shutdown only after the reply is out
    server.createContext("/perfbench/quit", (ex: HttpExchange) => {
      tracer.write(a("spans"))
      ex.sendResponseHeaders(200, -1)
      ex.close()
      done.countDown()
    })
    println(s"PORT ${server.getAddress.getPort}")
    System.out.flush()
    done.await()
    server.stop(0)
  }

  /** `llm.calls`: distinct (lang, summary) pairs handed to the client;
    * `llm.default_bypass`: default sentences mapped without a call. */
  private def llmCounts(n: ObjectNode, rewrite: DataFrame): Unit = {
    val (bypass, calls) = rewrite.collect()
      .partition(r => Schemas.LANG_DEFAULT_TEXTS.contains(r.getString(1)))
    n.put("llm_calls", calls.length).put("llm_bypass", bypass.length)
  }

  // -------------------------------------------------- batch and curation

  /** Run `pass` once cold (set-up) and once untimed to warm the JIT, then
    * until `seconds` have passed with at least `passes` measured passes;
    * returns pass times, the counter delta over the measured passes and
    * their wall time. The first pass after the cold one was the slowest of
    * a run, so it is not measured. */
  private def passes(spark: SparkSession, counters: Counters, a: Map[String, String])
                    (pass: Int => Unit): (Seq[Double], Snap, Double) = {
    pass(0)
    println("SETUP_DONE")
    System.out.flush()
    pass(1)
    val budgetNs = (a("seconds").toDouble * 1e9).toLong
    val times = ArrayBuffer[Double]()
    val c0 = counters.snap(spark.sparkContext)
    val start = System.nanoTime()
    var i = 2
    while (times.length < a("passes").toInt || System.nanoTime() - start < budgetNs) {
      val t = System.nanoTime()
      pass(i)
      times += ms(t)
      i += 1
    }
    val wall = ms(start)
    (times.toSeq, counters.snap(spark.sparkContext) - c0, wall)
  }

  private def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rmrf(c.getPath)))
    f.delete()
  }

  private def dirStats(path: String): (Long, Long) = {
    val files = Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    (files.map(_.length).sum, files.length.toLong)
  }

  private def writeResult(a: Map[String, String], n: ObjectNode): Unit =
    Files.write(Paths.get(a("result")), mapper.writeValueAsBytes(n))

  private def batch(spark: SparkSession, counters: Counters, a: Map[String, String]): Unit = {
    import spark.implicits._
    val dims = Dims.fromParquet(spark, a("dims"))
    val outRoot = a("out")
    def records(): DataFrame = Ingest.parseBodies(spark.read.text(a("input")).as[String])
    def outDir(i: Int) = s"$outRoot/pass-$i"

    val (times, delta, wall) = passes(spark, counters, a) { i =>
      Sinks.writeReportJsonl(Pipeline.runDistributed(records(), Some(dims)), outDir(i))
      if (i > 0) rmrf(outDir(i - 1))
    }
    val last = outDir(times.length + 1)
    val res = mapper.createObjectNode()
    res.set[ArrayNode]("pass_ms", mapper.valueToTree(times.toArray))
    res.put("wall_ms", wall)
    statsJson(res.putObject("counters"), delta, gc = false)

    // correctness gate
    val gate = res.putObject("gate")
    val out = Sinks.readReportJsonl(spark, last)
    val counts = out.agg(count(lit(1)), countDistinct(col("record_id"))).head()
    gate.put("reports", counts.getLong(0)).put("distinct_ids", counts.getLong(1))
    def triples(df: DataFrame) = df.select("record_id", "report", "request").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    // the golden request is one line of the input, so every pass replays it
    val golden = triples(spark.read.json(s"${a("fixtures")}/rich_golden.jsonl"))
    gate.put("golden_ok", triples(out.filter(col("record_id").isin(golden.map(_._1): _*))) == golden)

    val sample = new String(Files.readAllBytes(Paths.get(a("sample"))), StandardCharsets.UTF_8)
    val sampleTree = mapper.readTree(sample)
    val sampleIds = (0 until sampleTree.size).map(sampleTree.get(_).get("RECORD_ID").asText())
    val fromBatch = triples(out.filter(col("record_id").isin(sampleIds: _*)))
    val direct = triples(Pipeline.run(spark, sample, Some(dims)))
    val mismatched = fromBatch.zipAll(direct, null, null).filter { case (x, y) => x != y }
    mismatched.foreach { case (x, y) =>
      System.err.println(s"sample mismatch:\n  batch:  $x\n  direct: $y")
    }
    gate.put("sample_records", sampleIds.length)
    gate.put("sample_failed", mismatched.length)

    if (a("trace") == "1") {
      val tracer = new Tracer(spark.sparkContext, counters)
      val traced = mapper.createArrayNode()
      for (op <- 1 to a("traced").toInt) {
        val mat = new Persist
        val path = s"$outRoot/traced-$op"
        val t = System.nanoTime()
        val o = Layers.etl(tracer, op, () => records(), Some(dims), Llm.MockClient, mat, Some(path))
        val n = traced.addObject().put("ms", ms(t))
        llmCounts(n, o.rewrite)
        val (bytes, files) = dirStats(path)
        n.put("sink_bytes", bytes).put("sink_files", files)
        n.put("reports_match", triples(Sinks.readReportJsonl(spark, path)) == triples(out))
        n.set[ArrayNode]("spans", spansJson(tracer.spans.filter(_.op == op)))
        mat.release()
        rmrf(path)
      }
      res.set[ArrayNode]("traced", traced)
      // the curation operators, traced here too so this workload's traced
      // run covers ops/; one untimed pass first compiles their plans
      a.get("docs").foreach { docs =>
        Layers.curate(spark.read.parquet(docs), s"$outRoot/curation-warm")
        res.set[ObjectNode]("curation", tracedCuration(tracer, traced.size + 1,
          () => spark.read.parquet(docs), s"$outRoot/curation"))
      }
      tracer.write(a("spans"))
    }
    val (bytes, files) = dirStats(last)
    res.put("sink_bytes", bytes).put("sink_files", files)
    res.put("heap_mb", heapMb())
    writeResult(a, res)
  }

  /** One traced curation pass; its output stays at `path` for the gate. */
  private def tracedCuration(tracer: Tracer, op: Int, docs: () => DataFrame,
                             path: String): ObjectNode = {
    val mat = new Persist
    val t = System.nanoTime()
    val pairs = Layers.curateTraced(tracer, op, docs, mat, path)
    val n = mapper.createObjectNode().put("ms", ms(t)).put("output", path)
    n.put("components", graft.ops.Clusters.connectedComponents(pairs, "doc_a", "doc_b")
      .select("cluster_id").distinct().count())
    val (bytes, files) = dirStats(path)
    n.put("sink_bytes", bytes).put("sink_files", files)
    n.set[ArrayNode]("spans", spansJson(tracer.spans.filter(_.op == op)))
    mat.release()
    n
  }

  private def curation(spark: SparkSession, counters: Counters, a: Map[String, String]): Unit = {
    val outRoot = a("out")
    def docs(): DataFrame = spark.read.parquet(a("input"))
    def outDir(i: Int) = s"$outRoot/pass-$i"

    val (times, delta, wall) = passes(spark, counters, a) { i =>
      Layers.curate(docs(), outDir(i))
      if (i > 0) rmrf(outDir(i - 1))
    }
    val res = mapper.createObjectNode()
    res.set[ArrayNode]("pass_ms", mapper.valueToTree(times.toArray))
    res.put("wall_ms", wall)
    res.put("output", outDir(times.length + 1))
    statsJson(res.putObject("counters"), delta, gc = false)

    if (a("trace") == "1") {
      val tracer = new Tracer(spark.sparkContext, counters)
      val traced = mapper.createArrayNode()
      for (op <- 1 to a("traced").toInt)
        traced.add(tracedCuration(tracer, op, () => docs(), s"$outRoot/traced-$op"))
      res.set[ArrayNode]("traced", traced)
      tracer.write(a("spans"))
    }
    val (bytes, files) = dirStats(outDir(times.length + 1))
    res.put("sink_bytes", bytes).put("sink_files", files)
    res.put("heap_mb", heapMb())
    writeResult(a, res)
  }
}
