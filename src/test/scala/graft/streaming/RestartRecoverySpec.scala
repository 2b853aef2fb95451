package graft.streaming

import graft.etl.TestSpark
import graft.ops.{Events, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}

/** Kill-and-resume recovery: a stateful stream stopped after processing
  * half its input and RESTARTED from the same file checkpoint must end
  * in exactly the state an uninterrupted run reaches. The exactly-once
  * claim of the streaming family otherwise rests on watermark semantics
  * alone (WatermarkSpec); this spec exercises the state-store
  * round-trip itself — offsets, aggregation state, and
  * flatMapGroupsWithState user state all come back from disk.
  *
  * Harness: the raw events land in a watched directory in two tranches
  * split by event_id PARITY (not time — a time split would let the
  * second half recompute every key's answer from its own rows alone,
  * proving nothing about recovered state). Run 1 sees only tranche A,
  * terminates (the simulated kill — AvailableNow stops the query, the
  * JVM-level equivalent of a driver loss with a durable checkpoint);
  * tranche B then lands and a NEW query starts from the same
  * checkpoint dir. */
class RestartRecoverySpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  /** Stage one tranche into `watch` as a single parquet file (the
    * FileStreamSource picks up new files between runs). */
  private def stageTranche(df: DataFrame, watch: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_tranche")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    // Files.list holds a directory handle until closed
    val listing = Files.list(tmp)
    val part =
      try listing.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.copy(part, watch.resolve(s"$name.parquet"))
  }

  private def tranches(): (DataFrame, DataFrame) = {
    // ts staged as a raw nanos int64 (the session writer would emit
    // INT96 for TimestampType, which the stream's LongType read-schema
    // rejects); rawTsDivisor probes plain INT64 as nanos and recovers µs
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    (ev.filter(pmod(col("event_id"), lit(2)) === 0),
      ev.filter(pmod(col("event_id"), lit(2)) === 1))
  }

  test("anomaly hourly cube: restart from checkpoint resumes, final cube equals uninterrupted") {
    val watch = Files.createTempDirectory("graft_restart_anom")
    val ckpt = Files.createTempDirectory("graft_ckpt_anom").toString
    val (t1, t2) = tranches()

    def runOnce(sink: String): DataFrame = {
      val q = Events.hourlyCounts(
          EventStream.readEvents(spark, watch.toString, "*.parquet"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      spark.table(sink)
    }

    stageTranche(t1, watch, "t1")
    val firstRun = runOnce("anom_restart_r1")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    stageTranche(t2, watch, "t2")
    val resumed = runOnce("anom_restart_r2")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    val full = Events.hourlyCounts(Tables.events(spark, sf))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(resumed == full,
      "post-restart complete-mode cube must equal the uninterrupted batch cube")
    // the restart genuinely had to RESUME: run 1's partial cube differs,
    // so run 2's correctness required tranche-A counts recovered from
    // the state store, not recomputable from tranche B alone
    assert(firstRun != full, "split produced no partial first run")
  }

  test("sliding HLL registers: sketch state survives restart bit-identically") {
    val watch = Files.createTempDirectory("graft_restart_hll")
    val ckpt = Files.createTempDirectory("graft_ckpt_hll").toString
    val (t1, t2) = tranches()

    def runOnce(sink: String): Map[(Long, Long), Long] = {
      val q = graft.ops.Sketches.hourlyHllRegisters(
          EventStream.readEvents(spark, watch.toString, "*.parquet"),
          "ts", "user_id")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          r.getAs[Number](2).longValue).toMap
    }

    stageTranche(t1, watch, "t1")
    val firstRun = runOnce("hll_restart_r1")
    stageTranche(t2, watch, "t2")
    val resumed = runOnce("hll_restart_r2")

    // register-level bit-identity: max(rho) per (hour, bucket) must
    // come back from the recovered state store exactly — and the
    // estimate read out of those registers then agrees for free
    val batchRegs = graft.ops.Sketches
      .hourlyHllRegisters(Tables.events(spark, sf), "ts", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Number](2).longValue).toMap
    assert(resumed == batchRegs,
      "post-restart registers must equal the uninterrupted batch sketch")
    assert(firstRun != batchRegs, "split produced no partial first run")
    val streamEst = graft.ops.Sketches.hllSlidingReadout(
        spark.table("hll_restart_r2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batchEst = graft.ops.Sketches.queries("x12_hll_sliding")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamEst == batchEst,
      "x12 readout over recovered registers must equal the batch readout")
  }

  test("AMS atoms: join-size sketch state survives restart bit-identically") {
    val watch = Files.createTempDirectory("graft_restart_ams")
    val ckpt = Files.createTempDirectory("graft_ckpt_ams").toString
    val (t1, t2) = tranches()
    val r = graft.ops.Sketches.AmsR

    def runOnce(sink: String): Seq[Long] = {
      val q = graft.ops.Sketches.amsZ(
          EventStream.readEvents(spark, watch.toString, "*.parquet"),
          "user_id")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      val row = spark.table(sink).collect().head
      (0 until r).map(row.getLong)
    }

    stageTranche(t1, watch, "t1")
    val firstRun = runOnce("ams_restart_r1")
    stageTranche(t2, watch, "t2")
    val resumed = runOnce("ams_restart_r2")

    val batch = graft.ops.Sketches.amsZ(Tables.events(spark, sf), "user_id")
      .collect().head
    val batchZ = (0 until r).map(batch.getLong)
    assert(resumed == batchZ,
      "post-restart AMS atoms must equal the uninterrupted batch sketch")
    assert(firstRun != batchZ, "split produced no partial first run")
  }

  test("histogram registers: quantile-sketch state survives restart bit-identically") {
    val watch = Files.createTempDirectory("graft_restart_hist")
    val ckpt = Files.createTempDirectory("graft_ckpt_hist").toString
    val (t1, t2) = tranches()
    val width = 10.0

    def runOnce(sink: String): Map[Long, Long] = {
      val q = graft.ops.Sketches.histRegisters(
          EventStream.readEvents(spark, watch.toString, "*.parquet"),
          "value", width)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      spark.table(sink).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    stageTranche(t1, watch, "t1")
    val firstRun = runOnce("hist_restart_r1")
    stageTranche(t2, watch, "t2")
    val resumed = runOnce("hist_restart_r2")

    val batchRegs = graft.ops.Sketches
      .histRegisters(Tables.events(spark, sf), "value", width)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == batchRegs,
      "post-restart histogram registers must equal the batch sketch")
    assert(firstRun != batchRegs, "split produced no partial first run")
    // the quantile readout over the recovered snapshot agrees too
    def q(df: DataFrame) = graft.ops.Sketches
      .histQuantiles(df, width, Seq(0.5 -> "p50", 0.9 -> "p90"))
      .collect().head
    val sq = q(spark.table("hist_restart_r2"))
    val bq = q(graft.ops.Sketches.histRegisters(
      Tables.events(spark, sf), "value", width))
    assert(sq.getDouble(0) == bq.getDouble(0) &&
      sq.getDouble(1) == bq.getDouble(1))
  }

  test("trending spend: aggregate state survives restart, rank readout agrees") {
    val watch = Files.createTempDirectory("graft_restart_trend")
    val ckpt = Files.createTempDirectory("graft_ckpt_trend").toString
    val (t1, t2) = tranches()

    def runOnce(sink: String): DataFrame = {
      val q = Events.dailySpend(
          EventStream.readEvents(spark, watch.toString, "*.parquet"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      spark.table(sink)
    }

    def norm(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    stageTranche(t1, watch, "t1")
    val firstRun = norm(runOnce("trend_restart_r1"))
    stageTranche(t2, watch, "t2")
    val resumedDf = runOnce("trend_restart_r2")
    val resumed = norm(resumedDf)

    val batchAgg = Events.dailySpend(Tables.events(spark, sf))
    assert(resumed == norm(batchAgg),
      "post-restart spend aggregate must equal the uninterrupted batch aggregate")
    assert(firstRun != resumed, "split produced no partial first run")
    // the dashboard readout over the recovered snapshot ranks the same
    // rows the batch trending query ranks
    assert(norm(Events.rankTopK(resumedDf, 3)) ==
      norm(Events.rankTopK(batchAgg, 3)),
      "top-k rank over recovered state must equal the batch readout")
  }

  test("cdc compaction: flatMapGroupsWithState user state survives restart") {
    val watch = Files.createTempDirectory("graft_restart_cdc")
    val ckpt = Files.createTempDirectory("graft_ckpt_cdc").toString
    val (t1, t2) = tranches()

    def runOnce(): Map[Long, (Long, Long, Double)] = {
      // foreachBatch, not the memory sink: update-mode memory sinks
      // refuse checkpoint recovery, and surviving recovery is the
      // entire point here
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(Long, (Long, Long, Double))]
      val q = CdcStream.compact(
          EventStream.readEvents(spark, watch.toString, "*.parquet"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[CdcRow],
                         _: Long) =>
          buf.synchronized {
            buf ++= batch.collect().map(c =>
              (c.user_id, (c.last_event_id, c.last_us, c.last_value)))
          }
          ()
        }
        .start()
      q.awaitTermination()
      // latest emitted row per key: the fold is monotone in
      // (last_us, last_event_id), so max picks the newest batch's row
      buf.groupBy(_._1)
        .map { case (k, rs) =>
          k -> rs.map(_._2).maxBy(t => (t._2, t._1)) }
    }

    stageTranche(t1, watch, "t1")
    val run1 = runOnce()
    stageTranche(t2, watch, "t2")
    val run2 = runOnce()
    // materialized view after the restart: run 2's updates supersede
    // run 1's; keys untouched by tranche B keep their run-1 row
    val combined = run1 ++ run2

    val batch = CdcStream.compact(Tables.events(spark, sf))
      .collect()
      .map(c => c.user_id -> ((c.last_event_id, c.last_us, c.last_value)))
      .toMap
    batch.foreach { case (k, expect) =>
      assert(combined.get(k).contains(expect),
        s"user $k: restarted materialization ${combined.get(k)} != uninterrupted $expect")
    }
    // recovery sensitivity: some key's WINNING event is in tranche A
    // (even id) while the key also has tranche-B events — run 2 could
    // only answer it correctly by folding against state recovered from
    // the checkpoint
    val t2users = t2.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val crossKeys = batch.filter { case (k, (eid, _, _)) =>
      eid % 2 == 0 && t2users.contains(k) && run2.contains(k)
    }
    assert(crossKeys.nonEmpty,
      "no key exercised cross-tranche state recovery — split is insensitive")
  }

  test("PSI monitor: bin-count state survives restart bit-identically, " +
    "verdict readout agrees with batch v13/v14") {
    val watch = Files.createTempDirectory("graft_restart_psi")
    val ckpt = Files.createTempDirectory("graft_ckpt_psi").toString
    val events = Tables.events(spark, sf)
    val isRef = col("user_id") % 2 === 0
    val refCounts = graft.ops.Profile.psiBinCounts(events.filter(isRef), "value")
    // current-population tranches split by event_id PARITY (the same
    // cross-tranche doctrine as above: every bin draws from both
    // tranches, so run 2's counts are only right if tranche A's came
    // back from the state store), staged as value-only files — all the
    // monitor's schema carries
    val cur = events.filter(!isRef)
    val t1 = cur.filter(pmod(col("event_id"), lit(2)) === 0).select(col("value"))
    val t2 = cur.filter(pmod(col("event_id"), lit(2)) === 1).select(col("value"))

    def runOnce(sink: String): Map[Long, Long] = {
      val q = DriftStream.binCountsStream(Drain.read(spark,
          watch.toString, DriftStream.rawSchema, "*.parquet"))
        .writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      spark.table(sink).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    stageTranche(t1, watch, "t1")
    val firstRun = runOnce("psi_restart_r1")
    stageTranche(t2, watch, "t2")
    val resumed = runOnce("psi_restart_r2")

    val batchCounts = graft.ops.Profile.psiBinCounts(cur, "value")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == batchCounts,
      "post-restart bin counts must equal the uninterrupted batch counts")
    assert(firstRun != batchCounts, "split produced no partial first run")
    // the deployed readouts over the recovered snapshot: per-bin PSI
    // equals the one-pass batch v13, and the alert row equals v14
    def binRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(binRows(graft.ops.Profile.driftPsiFrom(
        refCounts, spark.table("psi_restart_r2"))) ==
      binRows(graft.ops.Profile.driftPsi(events, "value", isRef)),
      "per-bin readout over recovered state must equal batch v13")
    val verdict = graft.ops.Profile.driftPsiVerdictFrom(
      refCounts, spark.table("psi_restart_r2")).collect().head
    val batchVerdict = graft.ops.Profile.driftPsiVerdict(
      events, "value", isRef).collect().head
    assert((verdict.getLong(0), verdict.getString(1)) ==
      (batchVerdict.getLong(0), batchVerdict.getString(1)),
      "alert row over recovered state must equal batch v14")
  }

  test("CJK stream edge: restart from checkpoint processes only the " +
    "unseen tranche, appended union equals the one-shot serve") {
    // The CJK serve is stateless foreachBatch, so the recovery contract
    // is the SOURCE's: file offsets come back from the checkpoint and
    // tranche A must not re-append after the kill — exactly-once on the
    // pair sink. (d21's frozen-cap batch-independence is what makes
    // per-tranche serves compose to the one-shot at all.)
    val watch = Files.createTempDirectory("graft_restart_cjk")
    val ckpt = Files.createTempDirectory("graft_ckpt_cjk").toString
    def cjk(f: org.apache.spark.sql.Column) =
      Tables.documents(spark, sf).filter(f).select(col("doc_id"),
        graft.ops.TextOps.cjkFixture(col("text")).as("text"))
    val idxDir = Files.createTempDirectory("graft_cjk_restart_idx").toString
    graft.ops.Dedup.cjkPublishIndex(cjk(col("doc_id") % 2 === 0),
      "doc_id", "text", idxDir)
    val out = Files.createTempDirectory("graft_cjk_restart_out").toString +
      "/pairs"
    // delta tranches: raw document rows (the runner's read schema), the
    // fixture translate injected via textOf as in deployment
    val docs = Tables.documents(spark, sf)
    stageTranche(docs.filter(col("doc_id") % 4 === 1), watch, "docsA")
    def runOnce(): Unit =
      IncrementalDedupStream.runAvailableNowCjk(spark, watch.toString,
        idxDir, out, deltaFilter = col("doc_id") % 2 =!= 0,
        textOf = graft.ops.TextOps.cjkFixture(col("text")),
        checkpointDir = Some(ckpt), glob = "*.parquet")
    runOnce() // run 1 sees tranche A only, then "dies"
    def pairs() = Drain.readSink(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val afterA = pairs()
    stageTranche(docs.filter(col("doc_id") % 4 === 3), watch, "docsB")
    runOnce() // restart from the same checkpoint
    val resumed = pairs()
    val oneShot = graft.ops.Dedup.cjkServeDelta(spark,
        cjk(col("doc_id") % 2 =!= 0), "doc_id", "text", 0.6, idxDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    assert(oneShot.nonEmpty, "fixture must contain cross-set CJK near-dups")
    assert(resumed == oneShot,
      "restart must append exactly the unseen tranche's pairs — no " +
        "duplicates, no gaps")
    // tranche A's pairs must be a STRICT subset of the resumed total:
    // run 1 appended a genuine partial (⊆) and tranche B contributed
    // pairs of its own (<) — a plain != would pass vacuously if the
    // doc_id%4==3 tranche ever contributed zero pairs
    assert(afterA.toSet.subsetOf(resumed.toSet),
      "run 1 must only contain pairs the one-shot serve also emits")
    assert(afterA.size < resumed.size,
      "tranche B must add pairs of its own, or the split tests nothing")
  }

  test("decontamination stream edge: restart from checkpoint scores " +
    "only the unseen tranche, appended union equals one-shot d25") {
    // d27 is stateless foreachBatch against a standing broadcast
    // benchmark, so the recovery contract is purely the SOURCE's:
    // file offsets come back from the checkpoint and tranche A's
    // verdicts must not re-append after the kill — exactly-once on
    // the audit sink.
    val watch = Files.createTempDirectory("graft_restart_decon")
    val ckpt = Files.createTempDirectory("graft_ckpt_decon").toString
    val out = Files.createTempDirectory("graft_decon_restart_out")
      .toString + "/flags"
    val emb = graft.ops.Tables.embeddings(spark, sf)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    // 0.35: both parity tranches contribute rows at sf0.001 (the
    // DeconStreamSpec threshold note)
    val threshold = 0.35

    stageTranche(corpus.filter(col("vec_id") % 2 === 0), watch, "vecsA")
    def runOnce(): Unit =
      DeconStream.runAvailableNow(spark, watch.toString, bench, out,
        threshold, checkpointDir = Some(ckpt), glob = "*.parquet")
    runOnce() // run 1 sees tranche A only, then "dies"
    def flags() = Drain.readSink(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val afterA = flags()
    stageTranche(corpus.filter(col("vec_id") % 2 =!= 0), watch, "vecsB")
    runOnce() // restart from the same checkpoint
    val resumed = flags()
    val oneShot = graft.ops.Dedup.semanticDecontaminate(
        corpus, bench, "vec_id", "embedding", threshold)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(oneShot.nonEmpty, "fixture must contain contamination hits")
    assert(resumed == oneShot,
      "restart must append exactly the unseen tranche's verdicts — no " +
        "duplicates, no gaps")
    assert(afterA.toSet.subsetOf(resumed.toSet) &&
      afterA.size < resumed.size,
      "run 1 must be a genuine strict partial of the one-shot result")
  }

  test("tombstone stream: restart from checkpoint appends only the " +
    "unseen delete tranche, and the recovered set serves the exact " +
    "static-set ranking") {
    // the set sink is batchId-keyed (Drain.appendBatch), so the kill/
    // resume must neither double tranche A's ids nor drop tranche B's
    val docs = graft.ops.Tables.documents(spark, sf)
    val idxDir = Files.createTempDirectory("graft_ts_restart_idx").toString
    val (p, l, st) = graft.ops.Search.bm25BuildIndex(docs, "doc_id", "text")
    graft.ops.Search.bm25WriteIndex(p, l, st, idxDir)
    val watch = Files.createTempDirectory("graft_restart_ts")
    val ckpt = Files.createTempDirectory("graft_ckpt_ts").toString
    val setDir = Files.createTempDirectory("graft_ts_restart_set")
      .toString + "/set"
    def runOnce(): Unit =
      TombstoneStream.runAvailableNow(spark, watch.toString,
        Drain.DocumentsSchema, "doc_id", setDir,
        deltaFilter = col("doc_id") % 5 === 2,
        checkpointDir = Some(ckpt), glob = "*.parquet")
    stageTranche(docs.filter(col("doc_id") % 10 === 2), watch, "delA")
    runOnce() // run 1 sees tranche A only, then "dies"
    val afterA = Drain.readSink(spark, setDir).count()
    stageTranche(docs.filter(col("doc_id") % 10 === 7), watch, "delB")
    runOnce() // restart from the same checkpoint
    val set = Drain.readSink(spark, setDir)
    assert(set.count() ==
      afterA + docs.filter(col("doc_id") % 10 === 7).count(),
      "resume must append exactly the unseen tranche's ids — no " +
        "duplicates, no gaps")
    val (lp, ll, ls) = graft.ops.Search.bm25LoadIndexWs(spark, idxDir)
    def ranking(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ranking(graft.ops.Search.bm25QueryIndexTombstoned(
        lp, ll, ls, set)) ==
      ranking(graft.ops.Search.bm25QueryIndexTombstoned(lp, ll, ls,
        graft.ops.Search.harnessTombstones(docs))),
      "the recovered set must serve the static-set ranking exactly")
  }
}
