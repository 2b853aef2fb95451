package graft.streaming

import graft.etl.TestSpark
import graft.ops.{IndexMeta, Search, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The two r18-ADVICE seams on the exactly-once sink contract:
  *
  *  - batchIds are unique only PER CHECKPOINT, so a drain under a new
  *    or recreated checkpoint restarts at b0 and [[Drain.appendBatch]]'s
  *    overwrite would silently REPLACE a standing sink's b0 subdir —
  *    [[Drain.guardSinks]] fails that drain loudly up front, while a
  *    genuine crash-replay (same checkpoint, offsets present) passes.
  *
  *  - a torn append can only be COMPLETED under the engine version it
  *    was running under: the `_PENDING_VERSION` marker written at the
  *    appender's unstamp is the witness the restamp verifies, so a
  *    crash-restart across an analyzer change fails loudly instead of
  *    minting a current stamp over old-analyzer segments. */
class DrainGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def stage(df: DataFrame, watch: java.nio.file.Path,
                    name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_dg_tr")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.copy(part, watch.resolve(s"$name.parquet"))
    ()
  }

  test("a recreated checkpoint (and a missing one) cannot silently " +
    "overwrite a standing batchId-keyed sink; the original " +
    "checkpoint still extends it") {
    val docs = Tables.documents(spark, sf)
    val watch = Files.createTempDirectory("graft_dg_watch")
    val ckptA = Files.createTempDirectory("graft_dg_ckA").toString
    val setDir = Files.createTempDirectory("graft_dg_set").toString + "/set"
    stage(docs.filter(col("doc_id") % 5 === 2), watch, "del0")
    TombstoneStream.runAvailableNow(spark, watch.toString,
      Drain.DocumentsSchema, "doc_id", setDir,
      deltaFilter = lit(true), checkpointDir = Some(ckptA),
      glob = "*.parquet")
    val n0 = Drain.readSink(spark, setDir).count()
    assert(n0 > 0)
    // a RECREATED checkpoint restarts batchIds at 0 — its b0 would
    // replace the standing b0; the guard must refuse before any write
    val ckptB = Files.createTempDirectory("graft_dg_ckB").toString
    val eFresh = intercept[IllegalStateException] {
      TombstoneStream.runAvailableNow(spark, watch.toString,
        Drain.DocumentsSchema, "doc_id", setDir,
        deltaFilter = lit(true), checkpointDir = Some(ckptB),
        glob = "*.parquet")
    }
    assert(eFresh.getMessage.contains("OVERWRITE"))
    // ...and so would an uncheckpointed re-run
    val eNone = intercept[IllegalStateException] {
      TombstoneStream.runAvailableNow(spark, watch.toString,
        Drain.DocumentsSchema, "doc_id", setDir,
        deltaFilter = lit(true), checkpointDir = None,
        glob = "*.parquet")
    }
    assert(eNone.getMessage.contains("OVERWRITE"))
    assert(Drain.readSink(spark, setDir).count() == n0,
      "a refused drain must leave the sink byte-identical")
    // the ORIGINAL checkpoint keeps working: new arrivals append under
    // monotonically increasing batchIds, nothing is replaced
    stage(docs.filter(col("doc_id") % 5 === 4).limit(7), watch, "del1")
    TombstoneStream.runAvailableNow(spark, watch.toString,
      Drain.DocumentsSchema, "doc_id", setDir,
      deltaFilter = lit(true), checkpointDir = Some(ckptA),
      glob = "*.parquet")
    assert(Drain.readSink(spark, setDir).count() == n0 + 7)
  }

  test("torn-append completion verifies the _PENDING_VERSION witness: " +
    "a moved engine version refuses the restamp, the recorded one " +
    "completes and clears the marker") {
    val docs = Tables.documents(spark, sf)
    val watch = Files.createTempDirectory("graft_dg_w2")
    val ckpt = Files.createTempDirectory("graft_dg_ck2").toString
    val segDir = Files.createTempDirectory("graft_dg_seg").toString + "/seg"
    stage(docs.filter(col("doc_id") < 50), watch, "batch0")
    IndexStream.runAvailableNow(spark, watch.toString, segDir,
      checkpointDir = Some(ckpt), glob = "*.parquet")
    assert(IndexMeta.isStamped(segDir))
    // simulate a crash between the drain's last append and the
    // restamp: stamp absent, pending marker present — but recorded
    // under a DIFFERENT analyzer definition than the engine now runs
    IndexMeta.unstamp(segDir)
    IndexMeta.notePending(segDir, "graft-bm25-ws-0")
    val e = intercept[IllegalArgumentException] {
      IndexStream.runAvailableNow(spark, watch.toString, segDir,
        checkpointDir = Some(ckpt), glob = "*.parquet")
    }
    assert(e.getMessage.contains("graft-bm25-ws-0") &&
      e.getMessage.contains(Search.WsVersion))
    assert(!IndexMeta.isStamped(segDir),
      "a refused completion must not mint a stamp")
    // the genuine crash: pending matches the live version — the
    // checkpointed restart completes the append and clears the marker
    IndexMeta.notePending(segDir, Search.WsVersion)
    IndexStream.runAvailableNow(spark, watch.toString, segDir,
      checkpointDir = Some(ckpt), glob = "*.parquet")
    assert(IndexMeta.isStamped(segDir))
    assert(IndexMeta.pendingVersion(segDir).isEmpty,
      "a successful restamp must clear the pending marker")
    // and the completed store serves
    val (p, l, st) = IndexStream.mergedIndexWs(spark, segDir)
    assert(Search.bm25QueryIndex(p, l, st).count() > 0)
  }
}
