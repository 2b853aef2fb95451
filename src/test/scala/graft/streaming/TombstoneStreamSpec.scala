package graft.streaming

import graft.etl.TestSpark
import graft.ops.{Search, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Deletes as a stream (r16): the standing tombstone set grows with
  * each micro-batch, every serve issued after a drain reflects all
  * deletes delivered so far, and the accumulated set under any batch
  * split equals the static delete table — so stream-fed serves equal
  * static-set serves identically. */
class TombstoneStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def stage(df: DataFrame, watch: java.nio.file.Path,
                    name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_ts_tr")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.copy(part, watch.resolve(s"$name.parquet"))
    ()
  }

  private def ranking(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("a streamed delete feed grows the standing set per batch, each " +
    "serve reflects the deletes so far, and the final serve equals " +
    "the static-set serve") {
    val docs = Tables.documents(spark, sf)
    val idxDir = Files.createTempDirectory("graft_ts_idx").toString
    val (p, l, st) = Search.bm25BuildIndex(docs, "doc_id", "text")
    Search.bm25WriteIndex(p, l, st, idxDir)
    val (lp, ll, ls) = Search.bm25LoadIndexWs(spark, idxDir)

    val watch = Files.createTempDirectory("graft_ts_watch")
    val ckpt = Files.createTempDirectory("graft_ts_ckpt").toString
    val setDir = Files.createTempDirectory("graft_ts_set").toString + "/set"
    def drain(): Unit =
      TombstoneStream.runAvailableNow(spark, watch.toString,
        Drain.DocumentsSchema, "doc_id", setDir,
        deltaFilter = lit(true), checkpointDir = Some(ckpt),
        glob = "*.parquet")
    // the full delete set (≡ 2 mod 5) arrives as two tranches:
    // ≡ 2 mod 10 first, ≡ 7 mod 10 later
    val trancheA = docs.filter(col("doc_id") % 10 === 2)
    val trancheB = docs.filter(col("doc_id") % 10 === 7)
    assert(trancheA.count() > 0 && trancheB.count() > 0,
      "both tranches must carry deletes or the split tests nothing")

    stage(trancheA, watch, "delA")
    drain()
    val setAfterA = Drain.readSink(spark, setDir)
    assert(setAfterA.count() == trancheA.count(),
      "after one batch the set must hold exactly that batch's ids")
    // a serve between the drains reflects the deletes SO FAR: equal to
    // the static serve over tranche A's ids
    assert(ranking(Search.bm25QueryIndexTombstoned(lp, ll, ls, setAfterA))
      == ranking(Search.bm25QueryIndexTombstoned(lp, ll, ls,
        trancheA.select(col("doc_id")))),
      "a mid-stream serve must reflect exactly the deletes so far")

    stage(trancheB, watch, "delB")
    drain()
    val setFull = Drain.readSink(spark, setDir)
    assert(setFull.count() == trancheA.count() + trancheB.count(),
      "the restarted drain must append exactly the unseen tranche")
    val streamed = ranking(
      Search.bm25QueryIndexTombstoned(lp, ll, ls, setFull))
    val static = ranking(Search.bm25QueryIndexTombstoned(lp, ll, ls,
      Search.harnessTombstones(docs)))
    assert(streamed == static,
      "the accumulated stream set must serve exactly the static set's " +
        "ranking")
  }
}
