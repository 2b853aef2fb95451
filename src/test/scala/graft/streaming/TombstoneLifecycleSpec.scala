package graft.streaming

import graft.etl.TestSpark
import graft.ops.{Clusters, Dedup, IndexMeta, IndexPaths, StoreSwap, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The FULL delete lifecycle on one store, end to end: deletes stream
  * in ([[TombstoneStream]]), serves correct against the accumulated
  * set (d29), the deletes-ratio merge policy decides when the rebuild
  * pays ([[graft.ops.StoreSwap.compactIfNeeded]]), compaction expunges
  * the rows (d33), and the tombstone set retires — every phase's
  * output pinned against its batch twin. */
class TombstoneLifecycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def stage(df: DataFrame, watch: java.nio.file.Path,
                    name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_lc_tr")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.copy(part, watch.resolve(s"$name.parquet"))
    ()
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("stream deletes → tombstone serve → ratio-triggered compaction " +
    "→ clean serve, with the set retiring only after the expunge") {
    val docs = Tables.documents(spark, sf)
    def toks(f: org.apache.spark.sql.Column) =
      Clusters.sharedCjkTokens(spark, sf).filter(f)
        .select(col("doc_id"), col("toks"))
    val even = toks(col("doc_id") % 2 === 0)
    val odd = toks(col("doc_id") % 2 =!= 0)
    val dir = IndexPaths.dir("lc_store", sf)
    Dedup.cjkPublishIndexTokens(even, dir)
    val nStanding = spark.read.parquet(s"$dir/signatures").count()

    // deletes arrive as a stream: a small first tranche (one standing
    // doc), then the rest of the ≡ 2 mod 5 standing set
    val watch = Files.createTempDirectory("graft_lc_watch")
    val ckpt = Files.createTempDirectory("graft_lc_ckpt").toString
    val setDir = Files.createTempDirectory("graft_lc_set").toString + "/set"
    def drain(): Unit =
      TombstoneStream.runAvailableNow(spark, watch.toString,
        Drain.DocumentsSchema, "doc_id", setDir,
        deltaFilter = lit(true), checkpointDir = Some(ckpt),
        glob = "*.parquet")
    val firstDead = docs.filter(col("doc_id") % 2 === 0 &&
      col("doc_id") % 5 === 2).limit(1)
    stage(firstDead, watch, "delA")
    drain()
    val setA = Drain.readSink(spark, setDir)

    // phase 1: one delete over a whole store — the ratio policy says
    // the serve-time anti-join is the cheaper deal, nothing compacts
    assert(nStanding > 20, "fixture store too small for a 10% threshold")
    assert(!StoreSwap.compactIfNeeded(spark, Dedup.cjkStore(dir), setA),
      "one delete must not trigger a store rebuild")
    assert(IndexMeta.isStamped(dir) &&
      spark.read.parquet(s"$dir/signatures").count() == nStanding,
      "a declined compaction must leave the store untouched")
    // ...and the tombstone serve corrects against the streamed set
    assert(rows(Dedup.cjkServeDeltaTombstonedTokens(spark, odd, 0.6, dir,
        setA)) ==
      rows(Dedup.cjkServeDeltaTombstonedTokens(spark, odd, 0.6, dir,
        firstDead.select(col("doc_id")))),
      "the mid-stream serve must reflect exactly the deletes so far")

    // phase 2: the rest of the set arrives; the ratio crosses and the
    // compaction pays for itself
    stage(docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 5 === 2)
      .join(firstDead.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      watch, "delB")
    drain()
    val setFull = Drain.readSink(spark, setDir)
    assert(StoreSwap.compactIfNeeded(spark, Dedup.cjkStore(dir), setFull),
      "the accumulated set must cross the ratio and trigger the expunge")

    // phase 3: the compacted store serves CLEAN — no tombstone logic —
    // and equals the tombstone serve over a fresh uncompacted store,
    // so the set can retire
    val ref = IndexPaths.dir("lc_ref", sf)
    Dedup.cjkPublishIndexTokens(even, ref)
    assert(rows(Dedup.cjkServeDeltaTokens(spark, odd, 0.6, dir)) ==
      rows(Dedup.cjkServeDeltaTombstonedTokens(spark, odd, 0.6, ref,
        setFull)),
      "the post-expunge clean serve must equal the tombstone serve")
    // retired: the set directory can be cleared; the store needs
    // nothing from it ever again
    graft.ops.StoreSwap.deleteTree(new java.io.File(setDir))
    assert(rows(Dedup.cjkServeDeltaTokens(spark, odd, 0.6, dir)).nonEmpty)
  }

  test("semantic family: stream deletes → d34 tombstone serve → " +
    "ratio-triggered bucket compaction → clean serve, with the set " +
    "retiring only after the expunge") {
    val vecs = Tables.embeddings(spark, sf)
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val probe = vecs.filter(col("vec_id") % 10 === 0)
    def serve(dir: String, ts: Option[DataFrame]) =
      Dedup.semanticDecontaminateFromStore(spark, dir, corpus, probe,
        "vec_id", "embedding", threshold = 0.45, tombstones = ts)
    val dir = IndexPaths.dir("lc_sem_store", sf)
    Dedup.semanticBucketsWrite(corpus, "vec_id", "embedding", dir)
    val nStanding = spark.read.parquet(s"$dir/buckets").count()

    // deletes arrive as a stream: one standing vector first, then the
    // rest of the ≡ 3 mod 7 set (the vector family's standard)
    val watch = Files.createTempDirectory("graft_lcs_watch")
    val ckpt = Files.createTempDirectory("graft_lcs_ckpt").toString
    val setDir = Files.createTempDirectory("graft_lcs_set").toString + "/set"
    def drain(): Unit =
      TombstoneStream.runAvailableNow(spark, watch.toString,
        Drain.EmbeddingsSchema, "vec_id", setDir,
        deltaFilter = lit(true), checkpointDir = Some(ckpt),
        glob = "*.parquet")
    val dead = vecs.filter(col("vec_id") % 7 === 3)
    val firstDead = dead.filter(col("vec_id") % 10 =!= 0)
      .orderBy(col("vec_id")).limit(1)
    stage(firstDead, watch, "delA")
    drain()
    val setA = Drain.readSink(spark, setDir)

    // phase 1: one delete over a whole store — the ratio policy says
    // the serve-time anti-join is the cheaper deal, nothing compacts
    assert(nStanding > 20, "fixture store too small for a 10% threshold")
    assert(!StoreSwap.compactIfNeeded(spark, Dedup.semanticBucketsStore(dir),
        setA),
      "one delete must not trigger a store rebuild")
    assert(IndexMeta.isStamped(dir) &&
      spark.read.parquet(s"$dir/buckets").count() == nStanding,
      "a declined compaction must leave the store untouched")
    // ...and the tombstone serve corrects against the streamed set
    assert(rows(serve(dir, Some(setA))) ==
      rows(serve(dir, Some(firstDead.select(col("vec_id"))))),
      "the mid-stream serve must reflect exactly the deletes so far")

    // phase 2: the rest of the set arrives; the ratio (~14% of the
    // store) crosses and the compaction pays for itself
    stage(dead.join(firstDead.select(col("vec_id")), Seq("vec_id"),
      "left_anti"), watch, "delB")
    drain()
    val setFull = Drain.readSink(spark, setDir)
    assert(StoreSwap.compactIfNeeded(spark, Dedup.semanticBucketsStore(dir),
        setFull),
      "the accumulated set must cross the ratio and trigger the expunge")

    // phase 3: the compacted store serves CLEAN — no tombstone logic —
    // and equals the tombstone serve over a fresh uncompacted store,
    // so the set can retire
    val ref = IndexPaths.dir("lc_sem_ref", sf)
    Dedup.semanticBucketsWrite(corpus, "vec_id", "embedding", ref)
    assert(rows(serve(dir, None)) == rows(serve(ref, Some(setFull))),
      "the post-expunge clean serve must equal the tombstone serve")
    // retired: the set directory can be cleared
    graft.ops.StoreSwap.deleteTree(new java.io.File(setDir))
    assert(rows(serve(dir, None)).nonEmpty)
  }
}
