package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Partition-invariance of the FULL pipeline on randomized structured
  * requests (SURVEY.md §7.2: the `_rid` ingest ordinal must make every
  * order-dependent operator deterministic for arbitrary inputs, not
  * just the golden fixtures). */
class PipelinePropertiesSpec extends AnyFunSuite {
  import PipelinePropertiesSpec._
  lazy val spark: SparkSession = TestSpark.session

  test("rewrite map path ≡ broadcast-join path on random requests") {
    // a client whose output is distinguishable per (lang, text), so a
    // join-key mismatch can't hide behind identity rewrites
    val marker = new Llm.RewriteClient {
      def rewrite(langNo: String, text: String): String = s"[RW:$langNo]$text"
    }
    val identity = new Llm.RewriteClient {
      def rewrite(langNo: String, text: String): String = text
    }
    val summaryIndent = " " * 12
    val langOf = "\"LANG_NO\": \"([^\"]*)\"".r
    Seq(7L, 23L, 99L).foreach { seed =>
      val records = Ingest.parseBody(spark, randomBody(seed, nRecords = 6))
      val dims = Some(summaryDims(records))
      // broadcast-join path: the pipeline with the marker client
      val viaJoin = triples(Pipeline.runRecords(records, dims, marker))
      val plain = triples(Pipeline.runRecords(records, dims, identity))
      assert(viaJoin.map(t => (t._1, t._3)) == plain.map(t => (t._1, t._3)),
        s"seed $seed: record order or request echo changed with the client")
      // map path: a driver-side (lang, summary) → rewrite map, built from
      // the non-default summary lines of the unrewritten reports and
      // applied to them line by line
      def summaryOf(lang: String, line: String): Option[String] =
        Some(line.stripPrefix(summaryIndent)).filter(t =>
          line.startsWith(summaryIndent) && t != Schemas.LANG_DEFAULT_SUMMARY(lang))
      val withLang = plain.map { case (id, p, req) =>
        (id, langOf.findFirstMatchIn(req).get.group(1), p) }
      val rewriteMap: Map[(String, String), String] = withLang.flatMap { case (_, lang, p) =>
        p.split("\n", -1).flatMap(summaryOf(lang, _)).map(t => (lang, t) -> marker.rewrite(lang, t))
      }.toMap
      assert(rewriteMap.nonEmpty, s"seed $seed: no rewrite exercised")
      val viaMap = withLang.map { case (id, lang, p) =>
        id -> p.split("\n", -1).map(l =>
          summaryOf(lang, l).fold(l)(t => summaryIndent + rewriteMap((lang, t)))).mkString("\n")
      }
      viaJoin.map(t => (t._1, t._2)).zip(viaMap).foreach { case ((id, j), (_, m)) =>
        val (jLines, mLines) = (j.split("\n", -1).toSeq, m.split("\n", -1).toSeq)
        assert(jLines.length == mLines.length, s"seed $seed $id: line count differs")
        jLines.zip(mLines).foreach { case (jl, ml) =>
          assert(jl == ml, s"seed $seed $id: joined path diverged from map path")
        }
      }
    }
  }

  test("fanned-out rows (duplicate dim key) order by content at any shuffle-partition count") {
    // a duplicate diag_tbl key fans each finding out into rows sharing one
    // _rid: D1 into two summaries (two report blocks), D2 into two comment
    // translations under one summary (a keep-first tie). With adaptive
    // execution off the shuffles really use the configured partition
    // count, so arrival order differs between the runs below.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val records = Ingest.parseBody(s2, randomBody(61L, nRecords = 200))
    val d0 = summaryDims(records)
    val extra = s2.createDataFrame(Seq(
      ("D1", "DX", "fan en", "fan jp", "fan sc"),
      ("D2", "D2", "alt en", "alt jp", "alt sc")))
      .toDF("DIAG_CODE", "SUMMARY_CODE", "ENNAME_COMMENT", "JPNAME_COMMENT", "SCNAME_COMMENT")
    val extraSummary = s2.createDataFrame(Seq(("DX", "扇出", "扇出simp", "Fan", "ファン")))
      .toDF("SUMMARY_CODE", "TCNAME_SUMMARY", "SCNAME_SUMMARY", "ENNAME_SUMMARY", "JPNAME_SUMMARY")
    val dims = Some(d0.copy(
      diagTbl = d0.diagTbl.unionByName(extra),
      summaryTbl = d0.summaryTbl.unionByName(extraSummary)))
    def runAt(n: Int, run: (DataFrame, Option[Dims]) => DataFrame) = {
      s2.conf.set("spark.sql.shuffle.partitions", n.toString)
      triples(run(records, dims)).sortBy(_._1)
    }
    val base = runAt(1, Pipeline.runRecords(_, _))
    assert(base.nonEmpty)
    assert(base.exists(_._2.contains("扇出")) && base.exists(_._2.contains("Fan")),
      "the duplicate key must fan out into the reports")
    Seq(4, 7, 13).foreach { n =>
      val out = runAt(n, Pipeline.runRecords(_, _))
      val changed = out.zip(base).count { case (a, b) => a != b }
      assert(changed == 0, s"shuffle.partitions=$n changed $changed of ${base.length} reports")
    }
    assert(runAt(4, Pipeline.runDistributed(_, _)) == base,
      "runDistributed disagreed with runRecords at shuffle.partitions=4")
  }

  test("runRecords leaves no cached RDDs behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    // DELTA assertion, not absolute emptiness: the shared test session
    // legitimately carries session-scoped memo tables (the ops
    // catalog's shared pair/component/canonical maps are
    // localCheckpointed BY DESIGN and owned by the session, not by
    // this pipeline). The contract under test is that the PIPELINE
    // adds nothing — its own intermediates unpersist once the report
    // materializes.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val records = Ingest.parseBodies(spark.createDataset(Seq(randomBody(5L, 4))))
    val out = Pipeline.runRecords(records)
    assert(out.count() > 0)
    val added = spark.sparkContext.getPersistentRDDs -- before
    assert(added.isEmpty,
      "pipeline intermediates must unpersist once the report materializes; " +
        s"left behind: $added")
  }

  test("runDistributed ≡ runRecords on random requests (marker client)") {
    import spark.implicits._
    val marker = new Llm.RewriteClient {
      def rewrite(langNo: String, text: String): String = s"[RW:$langNo]$text"
    }
    Seq(11L, 29L).foreach { seed =>
      val records = Ingest.parseBodies(
        spark.createDataset(Seq(randomBody(seed, nRecords = 5))))
      val eager = Pipeline.runRecords(records, client = marker).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      val lazyOut = Pipeline.runDistributed(records, client = marker).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      assert(eager.nonEmpty, s"seed $seed produced empty output")
      assert(lazyOut == eager, s"seed $seed: runDistributed diverged from runRecords")
    }
  }

  test("runDistributed composes without running any Spark job (fully lazy)") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        descs.add(js.stageInfos.map(si => si.name + "@" + si.details.linesIterator
          .take(3).mkString("|")).mkString(" / "))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async: job events from earlier tests may still be
    // draining. Drain it fully (not a wall-clock quiet period, which can
    // flake on a loaded machine) before reading the counter.
    def settle(): Int = {
      org.apache.spark.graft.TestListenerBus.waitUntilEmpty(spark.sparkContext)
      jobs.get()
    }
    try {
      // a sentinel query's job count is not 1 under AQE (each query stage
      // is its own job) — measure it instead of assuming
      val cInit = settle()
      spark.range(1).count()
      val cA = settle()
      val sentinelCost = cA - cInit
      assert(sentinelCost > 0, "sentinel must run at least one job")
      // delta-based for the same reason as the cached-RDD test above:
      // session-scoped memo tables from other components are not this
      // pipeline's cache
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val records = Ingest.parseBodies(spark.createDataset(Seq(randomBody(1L, 3))))
      val out = Pipeline.runDistributed(records)
      // force full analysis — still no execution may happen
      out.queryExecution.optimizedPlan
      spark.range(1).count() // post-composition sentinel
      val cB = settle()
      assert(cB - cA == sentinelCost,
        s"expected only the sentinel's $sentinelCost job(s); composition ran " +
          s"${cB - cA - sentinelCost} extra: " + descs.toArray.mkString("[", "; ", "]"))
      val cachedAdded = spark.sparkContext.getPersistentRDDs -- cachedBefore
      assert(cachedAdded.isEmpty,
        s"runDistributed must not cache anything; added: $cachedAdded")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("runDistributed orders once: one range exchange, the final _rec_ord sort") {
    // adaptive execution off so the executed plan is the whole static plan
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val records = Ingest.parseBody(s2, randomBody(19L, nRecords = 4))
    val dims = summaryDims(records)
    val plan = Pipeline.runDistributed(records, Some(dims)).queryExecution.executedPlan
    val ranges = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning => r }
    assert(ranges.length == 1, s"expected one range exchange, found ${ranges.length}:\n$plan")
    assert(ranges.head.ordering.flatMap(_.references.map(_.name)) == Seq("_rec_ord"))

    // driver-local item dims are not restricted: same frames, no semi-join
    val local = dims.local
    val restricted = local.restrictedTo(Ingest.flatten(records))
    assert(restricted.itemMeta eq local.itemMeta)
    assert(restricted.itemGroupMap eq local.itemGroupMap)
    Seq(restricted.itemMeta, restricted.itemGroupMap).foreach { df =>
      assert(!df.queryExecution.optimizedPlan.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      }, s"semi-join in a local dim's plan:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("runDistributed is partition-count invariant on random requests") {
    import spark.implicits._
    Seq(13L, 37L).foreach { seed =>
      val records = Ingest.parseBodies(spark.createDataset(Seq(randomBody(seed, 6))))
      val base = Pipeline.runDistributed(records).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      assert(base.nonEmpty, s"seed $seed produced an empty pipeline output")
      Seq(1, 5).foreach { n =>
        val rep = Pipeline.runDistributed(records.repartition(n)).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
        assert(rep == base, s"seed $seed: output changed under repartition($n)")
      }
    }
  }

  test("full pipeline is partition-count invariant on random requests") {
    import spark.implicits._
    Seq(3L, 17L, 42L).foreach { seed =>
      val body = randomBody(seed, nRecords = 6)
      val records = Ingest.parseBodies(spark.createDataset(Seq(body)))
      val base = Pipeline.runRecords(records).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      assert(base.nonEmpty, s"seed $seed produced an empty pipeline output")
      Seq(1, 5).foreach { n =>
        val rep = Pipeline.runRecords(records.repartition(n)).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
        assert(rep == base, s"seed $seed: output changed under repartition($n)")
      }
    }
  }
}

/** Request generators and report triples shared with `ServeSpec`. */
object PipelinePropertiesSpec {

  def triples(df: DataFrame): Seq[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

  /** Seeded random request body: multi-record, all languages, shared
    * diag codes (summary sharing), duplicate findings, empty/whitespace
    * comments, full-width punctuation. */
  def randomBody(seed: Long, nRecords: Int): String = {
    val rnd = new Random(seed)
    def pick(vs: String*) = vs(rnd.nextInt(vs.length))
    val comments = Seq("正常（範圍內） 值", "需要\r\n追蹤", "ok value", "  ", "",
      "５０％ 以上！", "テスト結果", "简体 说明")
    val records = (0 until nRecords).map { r =>
      val items = (0 until 1 + rnd.nextInt(3)).map { i =>
        val findings = (0 until 1 + rnd.nextInt(3)).map { _ =>
          s"""{"DIAG_CODE": "D${rnd.nextInt(5)}", "COMMENT": ${escape(pick(comments: _*))}, "SUMMARY_CODE": "X"}"""
        }
        s"""{"ITEM_CODE": "I${rnd.nextInt(4)}", "FINDINGS": [${findings.mkString(", ")}]}"""
      }
      s"""{"RECORD_ID": "R$r", "LANG_NO": "${1 + rnd.nextInt(4)}", "ORG_ID": "O${rnd.nextInt(2)}", "ITEMS": [${items.mkString(", ")}]}"""
    }
    s"[${records.mkString(", ")}]"
  }
  private def escape(s: String): String =
    "\"" + s.flatMap {
      case '\r' => "\\r"; case '\n' => "\\n"; case '"' => "\\\""
      case c => c.toString
    } + "\""

  /** Fallback dims for `records`, with real summary texts: fallback
    * summaries are empty, so Clean would fill the per-language DEFAULTS,
    * which bypass the LLM. */
  def summaryDims(records: DataFrame): Dims = {
    val d0 = Dims.fallback(Ingest.flatten(records))
    d0.copy(summaryTbl = d0.summaryTbl.select(
      col("SUMMARY_CODE"),
      concat(lit("摘要 "), col("SUMMARY_CODE")).as("TCNAME_SUMMARY"),
      concat(lit("摘要simp "), col("SUMMARY_CODE")).as("SCNAME_SUMMARY"),
      concat(lit("Sum "), col("SUMMARY_CODE")).as("ENNAME_SUMMARY"),
      concat(lit("要約 "), col("SUMMARY_CODE")).as("JPNAME_SUMMARY")))
  }
}
