package graft.streaming

import graft.etl.TestSpark
import graft.ops.{Profile, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Stream-edge drift monitoring ≡ the one-shot batch PSI (v13): the
  * current population's bin counts accumulate in streaming state, the
  * reference counts are frozen, and the composed readout matches the
  * single-scan batch readout row for row. */
class DriftStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).sortBy(_._1).toSeq

  test("streamed current bins + frozen reference bins equal the batch " +
    "v13 readout") {
    val events = Tables.events(spark, sf)
    val isRef = col("user_id") % 2 === 0
    // the frozen published baseline: reference bin counts (10 rows)
    val refCounts = Profile.psiBinCounts(events.filter(isRef), "value")

    // the arriving current population streams in as bare metric values
    val watch = Files.createTempDirectory("graft_drift_watch")
    events.filter(!isRef).select(col("value"))
      .coalesce(1).write.mode("overwrite").parquet(watch.toString)
    val q = DriftStream.binCountsStream(Drain.read(spark, watch.toString,
        DriftStream.rawSchema, "*.parquet"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("complete")
      .format("memory")
      .queryName("drift_cur_bins")
      .start()
    q.awaitTermination()
    val streamedCounts = spark.table("drift_cur_bins")

    val composed = rows(Profile.driftPsiFrom(refCounts, streamedCounts))
    val batch = rows(Profile.driftPsi(events, "value", isRef))
    assert(batch.nonEmpty)
    assert(composed == batch,
      "monitor readout over streamed state must equal the batch PSI")
  }

  test("runAvailableNowVerdict appends the v14 alert row, equal to the " +
    "batch verdict, with a banded value") {
    val events = Tables.events(spark, sf)
    val isRef = col("user_id") % 2 === 0
    val refCounts = Profile.psiBinCounts(events.filter(isRef), "value")
    val watch = Files.createTempDirectory("graft_drift_v14_watch")
    events.filter(!isRef).select(col("value"))
      .coalesce(1).write.mode("overwrite").parquet(watch.toString)
    val out = Files.createTempDirectory("graft_drift_v14_out").toString +
      "/verdicts"
    DriftStream.runAvailableNowVerdict(spark, watch.toString, refCounts, out)
    val alerts = Drain.readSink(spark, out).collect()
    assert(alerts.length == 1, "one trigger must append exactly one alert row")
    val a = (alerts.head.getLong(0), alerts.head.getString(1))
    val batch = Profile.driftPsiVerdict(events, "value", isRef).collect().head
    assert(a == (batch.getLong(0), batch.getString(1)),
      "streamed alert row must equal the batch v14 verdict")
    assert(Set("stable", "shifting", "drifted").contains(a._2))
    // the band is the integer compare it claims to be
    val expectBand =
      if (a._1 < Profile.PsiStableQ6) "stable"
      else if (a._1 <= Profile.PsiDriftedQ6) "shifting"
      else "drifted"
    assert(a._2 == expectBand)
  }

  test("a replayed verdict trigger (crash after the sink write, before " +
    "the commit) overwrites its alert row instead of appending a second") {
    val events = Tables.events(spark, sf)
    val isRef = col("user_id") % 2 === 0
    val refCounts = Profile.psiBinCounts(events.filter(isRef), "value")
    val watch = Files.createTempDirectory("graft_drift_replay_watch")
    events.filter(!isRef).select(col("value"))
      .coalesce(1).write.mode("overwrite").parquet(watch.toString)
    val ckpt = Files.createTempDirectory("graft_drift_replay_ckpt")
    val out = Files.createTempDirectory("graft_drift_replay_out").toString +
      "/verdicts"
    def runOnce(): Unit = DriftStream.runAvailableNowVerdict(spark,
      watch.toString, refCounts, out, checkpointDir = Some(ckpt.toString))
    runOnce()
    assert(Drain.readSink(spark, out).count() == 1)
    // simulate the crash: batch 0's rows are in the sink, but its commit
    // never landed, so the restart replays batch 0
    Seq("0", ".0.crc").foreach(f =>
      Files.deleteIfExists(ckpt.resolve("commits").resolve(f)))
    runOnce()
    assert(Drain.readSink(spark, out).count() == 1,
      "the replayed trigger must not double the alert history")
  }

  test("driftPsiFrom over materialized counts equals the one-pass " +
    "driftPsi on any split") {
    val events = Tables.events(spark, sf)
    // a different split than the catalog's, so the identity is not an
    // artifact of one partitioning of the data
    val isRef = col("event_type") =!= "purchase"
    val fromCounts = rows(Profile.driftPsiFrom(
      Profile.psiBinCounts(events.filter(isRef), "value"),
      Profile.psiBinCounts(events.filter(!isRef), "value")))
    assert(fromCounts == rows(Profile.driftPsi(events, "value", isRef)))
  }
}
