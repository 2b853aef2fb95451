package graft.streaming

import graft.etl.TestSpark
import graft.ops.{Multimodal, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The media seam's stream edge ≡ its batch twins:
  *  - streamed fingerprint-at-ingest appends exactly the one-shot
  *    frame table (fingerprinting is a pure per-row function);
  *  - streamed cross readout vs the frozen store equals the one-shot
  *    m11 operator, and stays equal under a two-way batch split
  *    (the frozen df cap is what makes it batch-independent);
  *  - store ∪ streamed-appended signatures serve the full m08 pair
  *    set — the p08 composition: what the stream writes is exactly
  *    what the nightly pass reads.
  */
class MediaStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def frameRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("doc_id", "frame_idx", "frame_bytes", "frame_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

  private def pairRows(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
    df.select("doc_a", "doc_b", "inter", "union_sz", "jac_q6")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sorted.toSeq

  test("streamed signature ingest equals the one-shot fingerprint run") {
    val store = Files.createTempDirectory("graft_mstream").toString + "/frames"
    MediaStream.runAvailableNowIngest(spark, sf, store,
      deltaFilter = col("doc_id") % 2 =!= 0)
    val streamed = frameRows(Drain.readSink(spark, store))
    val oneShot = frameRows(Multimodal.framesOf(
      Tables.documents(spark, sf).filter(col("doc_id") % 2 =!= 0)))
    assert(oneShot.nonEmpty)
    assert(streamed == oneShot)
  }

  test("an existing empty store dir ingests like a fresh path, with " +
    "or without a checkpoint") {
    val fresh = Files.createTempDirectory("graft_mstream_f").toString + "/frames"
    MediaStream.runAvailableNowIngest(spark, sf, fresh,
      deltaFilter = col("doc_id") % 2 =!= 0)
    val expected = frameRows(Multimodal.frameLoadStore(spark, fresh))
    val empty = Files.createTempDirectory("graft_mstream_e").toString
    MediaStream.runAvailableNowIngest(spark, sf, empty,
      deltaFilter = col("doc_id") % 2 =!= 0)
    assert(frameRows(Multimodal.frameLoadStore(spark, empty)) == expected)
    val emptyCk = Files.createTempDirectory("graft_mstream_ec").toString
    MediaStream.runAvailableNowIngest(spark, sf, emptyCk,
      deltaFilter = col("doc_id") % 2 =!= 0,
      checkpointDir = Some(
        Files.createTempDirectory("graft_mstream_eck").toString))
    assert(frameRows(Multimodal.frameLoadStore(spark, emptyCk)) == expected)
  }

  test("streamed cross readout vs frozen store equals one-shot, " +
    "under any batch split") {
    val evens = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
    val idx = Files.createTempDirectory("graft_mstream_idx").toString
    Multimodal.frameWriteStore(Multimodal.framesOf(evens), idx)
    val oneShot = pairRows(Multimodal.crossNearDupVsStore(
      Multimodal.frameLoadStore(spark, idx),
      Multimodal.framesOf(
        Tables.documents(spark, sf).filter(col("doc_id") % 2 =!= 0))))
    assert(oneShot.nonEmpty, "fixture must contain cross-set near-dups")

    // single drain over the whole delta
    val out1 = Files.createTempDirectory("graft_mstream_o1").toString + "/p"
    MediaStream.runAvailableNowIndexed(spark, sf, idx, out1,
      deltaFilter = col("doc_id") % 2 =!= 0)
    assert(pairRows(Drain.readSink(spark, out1)) == oneShot)

    // the delta staged as two files behind ONE checkpoint, drained
    // into ONE sink — a real micro-batch boundary with distinct
    // batchIds (shared sinks require the checkpoint under the
    // idempotent batchId-keyed append; the frozen store is what makes
    // the union identical to the single drain)
    val watch = Files.createTempDirectory("graft_mstream_watch")
    val ckpt = Files.createTempDirectory("graft_mstream_ckpt").toString
    def stage(df: DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_mstream_tr")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      Files.copy(part, watch.resolve(s"$name.parquet"))
      ()
    }
    val out2 = Files.createTempDirectory("graft_mstream_o2").toString + "/p"
    val odds = Tables.documents(spark, sf).filter(col("doc_id") % 2 =!= 0)
    def runOnce(): Unit =
      MediaStream.runAvailableNowIndexed(spark, watch.toString, idx, out2,
        deltaFilter = lit(true), checkpointDir = Some(ckpt),
        glob = "*.parquet")
    stage(odds.filter(col("doc_id") % 4 === 1), "one")
    runOnce()
    stage(odds.filter(col("doc_id") % 4 === 3), "three")
    runOnce()
    assert(pairRows(Drain.readSink(spark, out2)) == oneShot,
      "a batch boundary must not change any delta item's pairs")
  }

  test("store plus streamed-appended signatures serve the full m08 " +
    "pair set (the p08 composition)") {
    val evens = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
    val store = Files.createTempDirectory("graft_mstream_s").toString + "/frames"
    Multimodal.frameWriteStore(Multimodal.framesOf(evens), store)
    // the stream appends the delta's signatures to the SAME store
    MediaStream.runAvailableNowIngest(spark, sf, store,
      deltaFilter = col("doc_id") % 2 =!= 0)
    val served = pairRows(
      Multimodal.videoNearDupPairs(Multimodal.frameLoadStore(spark, store)))
    val oneShot = pairRows(
      Multimodal.videoNearDupPairs(Multimodal.mediaFrames(spark, sf)))
    assert(oneShot.nonEmpty)
    assert(served == oneShot,
      "the nightly pass over store ∪ streamed appends must equal one-shot m08")
  }
}
