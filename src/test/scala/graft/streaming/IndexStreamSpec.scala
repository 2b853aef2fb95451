package graft.streaming

import graft.etl.TestSpark
import graft.ops.{Search, Tables}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The streamed segment store, merged at read time, must serve the
  * EXACT one-shot r01 ranking — r07's integer merge theorem makes the
  * result independent of how the corpus was micro-batched into
  * segments. */
class IndexStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("availableNow segment stream serves the exact one-shot BM25 ranking") {
    val segDir = java.nio.file.Files
      .createTempDirectory("graft_index_stream").toString
    IndexStream.runAvailableNow(spark, sf, segDir)
    val (p, l, st) = IndexStream.mergedIndexWs(spark, segDir)
    // merged segments equal the one-shot index build bit-for-bit
    val full = Search.bm25BuildIndex(Tables.documents(spark, sf),
      "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(p) == rows(full._1), "segment postings must union exactly")
    assert(rows(l) == rows(full._2), "segment lexicons must re-sum exactly")
    assert(rows(st) == rows(full._3), "segment stats must re-sum exactly")
    // and the serve path lands on r01's ranking
    val served = Search.bm25QueryIndex(p, l, st).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = Search.bm25TopK(Tables.documents(spark, sf),
      "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct)
    // the word segment store is ws-stamped too: a torn append (stamp
    // absent) refuses the checked serve, exactly like the CJK store
    graft.ops.IndexMeta.unstamp(segDir)
    intercept[IllegalStateException] {
      IndexStream.mergedIndexWs(spark, segDir)
    }
    // compactWs refuses the torn store for the same reason
    intercept[IllegalStateException] {
      IndexStream.compactWs(spark, segDir)
    }
    // a healthy store compacts to one segment with the serve unchanged
    graft.ops.IndexMeta.stampVersion(segDir, Search.WsVersion)
    IndexStream.compactWs(spark, segDir)
    assert(IndexStream.segmentCount(spark, segDir) == 1)
    val (cp, cl, cst) = IndexStream.mergedIndexWs(spark, segDir)
    val compacted = Search.bm25QueryIndex(cp, cl, cst).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(compacted == direct,
      "word-store compaction must not change the served ranking")
  }

  test("CJK segment stream: two drained tranches merge to the one-shot " +
    "r09 build bit-for-bit and serve r08's exact ranking") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    // two tranches staged as separate files behind ONE checkpoint, so
    // the second drain processes only the unseen file — two real
    // segments in the store, not one batch re-split
    val watch = java.nio.file.Files.createTempDirectory("graft_cjk_watch")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cjk_seg_ckpt").toString
    val segDir = java.nio.file.Files
      .createTempDirectory("graft_cjk_seg").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cjk_tr")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part =
        try listing.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      java.nio.file.Files.copy(part, watch.resolve(s"$name.parquet"))
      ()
    }
    def runOnce(): Unit =
      IndexStream.runAvailableNowCjk(spark, watch.toString, segDir,
        textOf = graft.ops.TextOps.cjkFixture(col("text")),
        checkpointDir = Some(ckpt), glob = "*.parquet")
    stage(docs.filter(col("doc_id") % 2 === 0), "evens")
    runOnce()
    stage(docs.filter(col("doc_id") % 2 =!= 0), "odds")
    runOnce()
    assert(IndexStream.segmentCount(spark, segDir) == 2,
      "two drains over disjoint tranches must append two segments")
    val (p, l, st) = IndexStream.mergedIndexCjk(spark, segDir)
    val full = Search.bm25BuildIndexTokens(
      docs.select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms")),
      "doc_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(p) == rows(full._1), "segment postings must union exactly")
    assert(rows(l) == rows(full._2), "segment lexicons must re-sum exactly")
    assert(rows(st) == rows(full._3), "segment stats must re-sum exactly")
    // and the serve lands on r08's exact ranking (the shared oracle)
    val served = Search.bm25QueryIndex(p, l, st, terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = Search.bm25TopKTokens(
      docs.select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms")),
      "doc_id", "terms", terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct)
    // the CJK store is tokenizer-stamped: a stale stamp refuses to serve
    java.nio.file.Files.write(
      new java.io.File(segDir, "_ARTIFACT_VERSION").toPath,
      "tok-ffffffffffffffff".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      IndexStream.mergedIndexCjk(spark, segDir)
    }
  }

  test("compaction folds segments to one with the serve unchanged, " +
    "and with tombstones it expunges deletes: the compacted store " +
    "equals a fresh build over corpus-minus-tombstones") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    def terms(f: org.apache.spark.sql.Column) = docs.filter(f)
      .select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms"))
    def freshStore(): String = {
      val segDir = java.nio.file.Files
        .createTempDirectory("graft_compact_seg").toString
      Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 =!= 0).foreach { p =>
        IndexStream.appendSegment(segDir,
          Search.bm25BuildIndexTokens(terms(p), "doc_id", "terms"))
      }
      graft.ops.IndexMeta.stamp(segDir)
      segDir
    }
    def ranked(t: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =
      Search.bm25QueryIndex(t._1, t._2, t._3, terms = Search.CjkQuery)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // plain compaction: one segment, identical serve
    val seg1 = freshStore()
    val before = ranked(IndexStream.mergedIndexCjk(spark, seg1))
    IndexStream.compactCjk(spark, seg1)
    assert(IndexStream.segmentCount(spark, seg1) == 1,
      "compaction must fold the stats rows to one segment's")
    assert(ranked(IndexStream.mergedIndexCjk(spark, seg1)) == before,
      "compaction must not change the served ranking")
    // the compacted store still accepts appends (stamp round-tripped)
    graft.ops.IndexMeta.check(seg1)

    // expunge-deletes: compacted-with-tombstones ≡ fresh build over
    // the remaining corpus, table for table
    val dead = Search.harnessTombstones(docs)
    val seg2 = freshStore()
    IndexStream.compactCjk(spark, seg2, Some(dead))
    val got = IndexStream.mergedIndexCjk(spark, seg2)
    val want = Search.bm25BuildIndexTokens(
      terms(col("doc_id") % 5 =!= 2), "doc_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(got._1) == rows(want._1),
      "expunged postings must equal the remainder build's")
    assert(rows(got._2) == rows(want._2),
      "corrected lexicon dfs must equal the remainder build's")
    assert(rows(got._3) == rows(want._3),
      "corrected stats must equal the remainder build's")

    // dl-carrying tombstones (the zero-term-doc remedy, known at
    // delete time): identical compacted tables, no removed-postings
    // stats pass
    val dlTs = terms(col("doc_id") % 5 === 2)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("terms"))
          .cast("long").as("dl"))
    val seg3 = freshStore()
    IndexStream.compactCjk(spark, seg3, Some(dlTs))
    val got3 = IndexStream.mergedIndexCjk(spark, seg3)
    assert(rows(got3._1) == rows(want._1) && rows(got3._2) == rows(want._2)
      && rows(got3._3) == rows(want._3),
      "dl-carrying tombstones must compact to the identical store")
  }

  test("scheduled compaction: a long stream run under the maxSegments " +
    "merge policy ends at one segment with the serve unchanged " +
    "bit-for-bit") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val watch = java.nio.file.Files.createTempDirectory("graft_sched_watch")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sched_ckpt").toString
    val segDir = java.nio.file.Files
      .createTempDirectory("graft_sched_seg").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sched_tr")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part =
        try listing.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      java.nio.file.Files.copy(part, watch.resolve(s"$name.parquet"))
      ()
    }
    // five tranches drained one at a time under maxSegments = 3: the
    // store crosses the trigger mid-run (4 segments after the fourth
    // drain), compacts back to one, and can never end above the bound
    (0 until 5).foreach { i =>
      stage(docs.filter(col("doc_id") % 5 === i), s"t$i")
      IndexStream.runAvailableNowCjk(spark, watch.toString, segDir,
        textOf = graft.ops.TextOps.cjkFixture(col("text")),
        checkpointDir = Some(ckpt), glob = "*.parquet", maxSegments = 3)
    }
    assert(IndexStream.segmentCount(spark, segDir) <= 3,
      "the merge policy must keep the store at or under maxSegments")
    val (p, l, st) = IndexStream.mergedIndexCjk(spark, segDir)
    val served = Search.bm25QueryIndex(p, l, st, terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = Search.bm25TopKTokens(
      docs.select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms")),
      "doc_id", "terms", terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct,
      "compaction mid-run must not change the served ranking")
  }

  test("a drain that fails before touching the store leaves a healthy " +
    "stamped store servable (the lazy-unstamp contract)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val segDir = java.nio.file.Files
      .createTempDirectory("graft_lazy_seg").toString
    // a healthy standing store, one flat segment
    IndexStream.appendSegment(segDir, Search.bm25BuildIndexTokens(
      docs.select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms")),
      "doc_id", "terms"))
    graft.ops.IndexMeta.stamp(segDir)
    val before = Search.bm25QueryIndex(
      IndexStream.mergedIndexCjk(spark, segDir)._1,
      IndexStream.mergedIndexCjk(spark, segDir)._2,
      IndexStream.mergedIndexCjk(spark, segDir)._3,
      terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // a read-side failure: the source directory does not exist, so the
    // drain dies before any batch could mutate the store
    intercept[Throwable] {
      IndexStream.runAvailableNowCjk(spark,
        "/nonexistent/graft/source/dir", segDir,
        textOf = graft.ops.TextOps.cjkFixture(col("text")),
        glob = "*.parquet")
    }
    assert(graft.ops.IndexMeta.isStamped(segDir),
      "a pre-batch failure must not unstamp a healthy store")
    val after = Search.bm25QueryIndex(
      IndexStream.mergedIndexCjk(spark, segDir)._1,
      IndexStream.mergedIndexCjk(spark, segDir)._2,
      IndexStream.mergedIndexCjk(spark, segDir)._3,
      terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == before, "the store must keep serving unchanged")
  }

  test("torn-append recovery: a crashed (unstamped) segment store " +
    "refuses an uncheckpointed re-append, serves nothing, and a " +
    "checkpointed restart completes it to the exact one-shot") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val watch = java.nio.file.Files.createTempDirectory("graft_torn_watch")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_torn_ckpt").toString
    val segDir = java.nio.file.Files
      .createTempDirectory("graft_torn_seg").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_torn_tr")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part =
        try listing.filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      java.nio.file.Files.copy(part, watch.resolve(s"$name.parquet"))
      ()
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "evens")
    IndexStream.runAvailableNowCjk(spark, watch.toString, segDir,
      textOf = graft.ops.TextOps.cjkFixture(col("text")),
      checkpointDir = Some(ckpt), glob = "*.parquet")
    // simulate a crash mid-append: a real one dies between unstamp and
    // re-stamp, so the store state it leaves is exactly "data present,
    // stamp absent, pending-version marker present" (the appender
    // writes the marker BEFORE unstamping — r19's torn-append
    // version witness; DrainGuardSpec covers the mismatch refusal)
    graft.ops.IndexMeta.notePending(segDir,
      graft.ops.TextOps.tokenizerVersion)
    graft.ops.IndexMeta.unstamp(segDir)
    // torn store must not serve…
    intercept[IllegalStateException] {
      IndexStream.mergedIndexCjk(spark, segDir)
    }
    // …and must refuse an UNCHECKPOINTED re-append (it would replay
    // everything and double the standing postings)
    intercept[IllegalArgumentException] {
      IndexStream.runAvailableNowCjk(spark, watch.toString, segDir,
        textOf = graft.ops.TextOps.cjkFixture(col("text")),
        glob = "*.parquet")
    }
    // a restart from the ORIGINAL checkpoint replays only the unseen
    // tranche, completes the append, and re-stamps
    stage(docs.filter(col("doc_id") % 2 =!= 0), "odds")
    IndexStream.runAvailableNowCjk(spark, watch.toString, segDir,
      textOf = graft.ops.TextOps.cjkFixture(col("text")),
      checkpointDir = Some(ckpt), glob = "*.parquet")
    val (p, l, st) = IndexStream.mergedIndexCjk(spark, segDir)
    val served = Search.bm25QueryIndex(p, l, st, terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = Search.bm25TopKTokens(
      docs.select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms")),
      "doc_id", "terms", terms = Search.CjkQuery)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct,
      "the recovered store must serve the exact one-shot ranking")
  }
}
