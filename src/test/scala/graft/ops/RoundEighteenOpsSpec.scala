package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Round-18 additions: the torn-publish stamp closed over the WORD
  * BM25 store (the one seam round 17 skipped), duplicate-tolerant
  * dl-carrying tombstone stats, expunge-deletes compaction generalized
  * to the near-dup / media / ANN stores, and the persisted multi-probe
  * bucket store. */
class RoundEighteenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def ranking(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("the word BM25 store is stamped: a publish round-trips, a torn " +
    "publish (absent stamp) and a moved analyzer definition both fail " +
    "at load") {
    val docs = Tables.documents(spark, sf)
    val dir = IndexPaths.dir("r18_ws_stamp", sf)
    val (p, l, st) = Search.bm25BuildIndex(docs, "doc_id", "text")
    Search.bm25WriteIndex(p, l, st, dir)
    // fresh publish: loads and serves r01's ranking
    val (lp, ll, ls) = Search.bm25LoadIndexWs(spark, dir)
    assert(ranking(Search.bm25QueryIndex(lp, ll, ls)) ==
      ranking(Search.bm25TopK(docs, "doc_id", "text")))
    // torn publish: a crash between the subtable writes and the stamp
    // leaves exactly "data present, stamp absent" — the load refuses
    IndexMeta.unstamp(dir)
    val eTorn = intercept[IllegalStateException] {
      Search.bm25LoadIndexWs(spark, dir)
    }
    assert(eTorn.getMessage.contains(Search.WsVersion))
    // analyzer drift: a store published under some other analyzer
    // definition refuses too
    IndexMeta.stampVersion(dir, "graft-bm25-ws-0")
    intercept[IllegalStateException] { Search.bm25LoadIndexWs(spark, dir) }
    // re-publish heals
    Search.bm25WriteIndex(p, l, st, dir)
    Search.bm25LoadIndexWs(spark, dir)
    ()
  }

  test("dl-carrying tombstones tolerate duplicate delivery: replayed " +
    "ids (even with drifted dl) decrement the corpus stats exactly " +
    "once, matching the postings-derived serve") {
    val docs = Tables.documents(spark, sf)
    val dir = IndexPaths.dir("r18_dup_dl", sf)
    val (p, l, st) = Search.bm25BuildIndex(docs, "doc_id", "text")
    Search.bm25WriteIndex(p, l, st, dir)
    val (lp, ll, ls) = Search.bm25LoadIndexWs(spark, dir)
    val ids = Search.harnessTombstones(docs)
    // the true dl per tombstoned doc, off the corpus itself
    val dlTrue = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), x -> x <> ''))")
          .cast("long").as("dl"))
    // a replaying delete feed: every id delivered twice, the replay
    // carrying a DRIFTED dl (the max-collapse must prefer the larger,
    // so make the duplicate smaller — a distinct() would count both)
    val dlDup = dlTrue.unionByName(
      dlTrue.select(col("doc_id"), (col("dl") - lit(1L)).as("dl")))
    val viaDup = ranking(
      Search.bm25QueryIndexTombstoned(lp, ll, ls, dlDup))
    val viaPostings = ranking(
      Search.bm25QueryIndexTombstoned(lp, ll, ls, ids))
    assert(viaDup == viaPostings,
      "duplicate dl rows must not double-decrement n_docs/sum_dl")
  }

  test("compactCjk with a duplicate-delivering dl feed compacts to the " +
    "identical store as the clean feed") {
    val docs = Tables.documents(spark, sf)
    def terms(f: org.apache.spark.sql.Column) = docs.filter(f)
      .select(col("doc_id"), Search.cjkIndexTerms(
        graft.ops.TextOps.cjkFixture(col("text"))).as("terms"))
    def freshStore(): String = {
      val segDir = java.nio.file.Files
        .createTempDirectory("graft_r18_seg").toString
      graft.streaming.IndexStream.appendSegment(segDir,
        Search.bm25BuildIndexTokens(terms(lit(true)), "doc_id", "terms"))
      IndexMeta.stamp(segDir)
      segDir
    }
    val dlClean = terms(col("doc_id") % 5 === 2)
      .select(col("doc_id"), size(col("terms")).cast("long").as("dl"))
    val dlDup = dlClean.unionByName(
      dlClean.select(col("doc_id"), (col("dl") - lit(1L)).as("dl")))
    val segClean = freshStore()
    graft.streaming.IndexStream.compactCjk(spark, segClean, Some(dlClean))
    val segDup = freshStore()
    graft.streaming.IndexStream.compactCjk(spark, segDup, Some(dlDup))
    def rows(path: String) =
      spark.read.parquet(path).collect().map(_.toSeq).toSet
    Seq("postings", "lexicon", "stats").foreach { sub =>
      assert(rows(s"$segClean/$sub") == rows(s"$segDup/$sub"),
        s"$sub must be identical under duplicate dl delivery")
    }
  }

  private def cjkToks(f: org.apache.spark.sql.Column) =
    Clusters.sharedCjkTokens(spark, sf).filter(f)
      .select(col("doc_id"), col("toks"))

  private def dead = Tables.documents(spark, sf)
    .filter(col("doc_id") % 5 === 2).select(col("doc_id"))

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("near-dup store compaction expunges deletes: the compacted " +
    "store equals publish-over-remainder table for table, the serve " +
    "equals d29's tombstone serve, and a torn store refuses to " +
    "compact") {
    val even = cjkToks(col("doc_id") % 2 === 0)
    val odd = cjkToks(col("doc_id") % 2 =!= 0)
    // compacted store ≡ publish(standing minus tombstones), per table
    val dirA = IndexPaths.dir("r18_d33_a", sf)
    Dedup.cjkPublishIndexTokens(even, dirA)
    StoreSwap.compact(spark, Seq(Dedup.cjkStore(dirA)), dead)
    val dirB = IndexPaths.dir("r18_d33_b", sf)
    Dedup.cjkPublishIndexTokens(
      even.join(dead, Seq("doc_id"), "left_anti"), dirB)
    Seq("signatures", "bands", "hashes").foreach { sub =>
      assert(pairRows(spark.read.parquet(s"$dirA/$sub")) ==
        pairRows(spark.read.parquet(s"$dirB/$sub")),
        s"compacted $sub must equal the remainder publish's")
    }
    // compact → clean serve ≡ tombstone serve over the uncompacted store
    val dirC = IndexPaths.dir("r18_d33_c", sf)
    Dedup.cjkPublishIndexTokens(even, dirC)
    val viaTombstones = pairRows(
      Dedup.cjkServeDeltaTombstonedTokens(spark, odd, 0.6, dirC, dead))
    val viaCompacted = pairRows(
      Dedup.cjkServeDeltaTokens(spark, odd, 0.6, dirA))
    assert(viaCompacted == viaTombstones,
      "compact-then-serve must equal the serve-time tombstone path")
    assert(viaCompacted.nonEmpty, "fixture must produce cross-set pairs")
    // a torn (unstamped) store refuses compaction — it would launder
    // the tear under a fresh stamp
    IndexMeta.unstamp(dirC)
    intercept[IllegalStateException] {
      StoreSwap.compact(spark, Seq(Dedup.cjkStore(dirC)), dead)
    }
  }

  test("media store compaction expunges deletes: compact-then-serve " +
    "equals m12's tombstone serve, and the retired set leaves no " +
    "anti-join in the serve path") {
    val docs = Tables.documents(spark, sf)
    val dir = IndexPaths.dir("r18_m13", sf)
    Multimodal.frameWriteStore(
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 === 0)), dir)
    StoreSwap.compact(spark, Seq(Multimodal.frameStore(dir)), dead)
    val viaCompacted = pairRows(Multimodal.crossNearDupVsStore(
      Multimodal.frameLoadStore(spark, dir),
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 =!= 0))))
    // the serve-time tombstone path over a fresh uncompacted store
    val dir2 = IndexPaths.dir("r18_m13_ref", sf)
    Multimodal.frameWriteStore(
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 === 0)), dir2)
    val viaTombstones = pairRows(Multimodal.crossNearDupVsStore(
      Multimodal.frameLoadStore(spark, dir2)
        .join(broadcast(dead), Seq("doc_id"), "left_anti"),
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 =!= 0))))
    assert(viaCompacted == viaTombstones,
      "compact-then-serve must equal the serve-time tombstone path")
    // the compacted store carries no tombstoned item at all
    assert(Multimodal.frameLoadStore(spark, dir)
      .join(dead, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("ANN store compaction expunges deletes: compact-then-serve " +
    "equals k25's tombstone serve with trained artifacts untouched") {
    val ts = Tables.embeddings(spark, sf).select(col("vec_id"))
      .filter(col("vec_id") % 7 === 3)
    val dir = IndexPaths.dir("r18_k28", sf)
    Similarity.ivfPqWriteAll(spark, sf, dir)
    val cbsBefore = pairRows(spark.read.parquet(s"$dir/pq/codebooks"))
    val centsBefore = pairRows(spark.read.parquet(s"$dir/coarse/centroids"))
    StoreSwap.compact(spark, Similarity.ivfPqStores(dir), ts)
    // trained artifacts untouched, per-vector tables shrunk
    assert(pairRows(spark.read.parquet(s"$dir/pq/codebooks")) == cbsBefore)
    assert(pairRows(spark.read.parquet(s"$dir/coarse/centroids")) ==
      centsBefore)
    assert(spark.read.parquet(s"$dir/pq/codes")
      .join(ts, Seq("vec_id"), "left_semi").count() == 0)
    val viaCompacted = pairRows(Similarity.ivfPqServeLoaded(spark, sf, dir))
    val viaTombstones = pairRows(
      Similarity.ivfPqServeTombstoned(spark, sf, ts))
    assert(viaCompacted == viaTombstones,
      "the compacted all-loaded serve must equal the k25 tombstone serve")
  }

  test("store compaction is re-runnable and crash-safe on all four " +
    "tombstoned families: a rerun keeps the rows, a stale scratch is " +
    "cleared without leaking into the store, and an IVFPQ crash " +
    "between its two swaps heals on a rerun") {
    val docs = Tables.documents(spark, sf)
    val vecs = Tables.embeddings(spark, sf)
    val deadV = vecs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    def table(path: String) = pairRows(graft.streaming.Drain.readSink(spark, path))
    // a crashed compaction leaves its scratch behind; plant one whose
    // stray `stale` dir holds the store's own uncompacted rows (dead ids
    // included), so a scratch that was not cleared shows up in the store
    def plantStale(dir: String, from: String): Unit = {
      val tmp = StoreSwap.scratch(dir)
      graft.streaming.Drain.readSink(spark, from)
        .write.mode("overwrite").parquet(s"$tmp/stale")
    }
    def check(family: String, dirs: Seq[String], paths: Seq[String],
              key: String, deadIds: org.apache.spark.sql.DataFrame)
             (compact: () => Unit): Unit = {
      dirs.zip(paths).foreach { case (d, p) => plantStale(d, p) }
      compact()
      val once = paths.map(table)
      dirs.foreach { d =>
        assert(!new java.io.File(StoreSwap.scratch(d)).exists(),
          s"$family: the stale scratch must be cleared")
        assert(!new java.io.File(d, "stale").exists(),
          s"$family: the stale scratch must not leak into the store")
      }
      paths.foreach { p =>
        assert(graft.streaming.Drain.readSink(spark, p)
          .join(deadIds, Seq(key), "left_semi").isEmpty,
          s"$family: $p must hold no tombstoned row")
      }
      compact()
      assert(paths.map(table) == once,
        s"$family: re-running a completed compaction must keep the rows")
    }
    val cjkDir = IndexPaths.dir("r18_rerun_cjk", sf)
    Dedup.cjkPublishIndexTokens(cjkToks(col("doc_id") % 2 === 0), cjkDir)
    check("near-dup", Seq(cjkDir),
      Seq("signatures", "bands", "hashes").map(t => s"$cjkDir/$t"),
      "doc_id", dead) { () =>
      StoreSwap.compact(spark, Seq(Dedup.cjkStore(cjkDir)), dead)
    }
    val bDir = IndexPaths.dir("r18_rerun_buckets", sf)
    Dedup.semanticBucketsWrite(vecs.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", bDir)
    check("buckets", Seq(bDir), Seq(s"$bDir/buckets"), "vec_id", deadV) {
      () => StoreSwap.compact(spark, Seq(Dedup.semanticBucketsStore(bDir)),
        deadV)
    }
    val fDir = IndexPaths.dir("r18_rerun_frames", sf)
    Multimodal.frameWriteStore(
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 === 0)), fDir)
    check("media", Seq(fDir), Seq(fDir), "doc_id", dead) {
      () => StoreSwap.compact(spark, Seq(Multimodal.frameStore(fDir)), dead)
    }
    val aDir = IndexPaths.dir("r18_rerun_ann", sf)
    Similarity.ivfPqWriteAll(spark, sf, aDir)
    check("ANN", Seq(s"$aDir/coarse", s"$aDir/pq"),
      Seq(s"$aDir/coarse/assign", s"$aDir/pq/codes"), "vec_id", deadV) {
      () => StoreSwap.compact(spark, Similarity.ivfPqStores(aDir), deadV)
    }
    // IVFPQ crash between its two swaps: coarse/assign compacted and
    // re-stamped (its store alone, through the subtable swap), pq/codes
    // still holding the dead rows
    val cDir = IndexPaths.dir("r18_crash_ann", sf)
    Similarity.ivfPqWriteAll(spark, sf, cDir)
    StoreSwap.compact(spark, Similarity.ivfPqStores(cDir).take(1), deadV)
    assert(!spark.read.parquet(s"$cDir/pq/codes")
      .join(deadV, Seq("vec_id"), "left_semi").isEmpty,
      "the simulated crash must leave the codes uncompacted")
    StoreSwap.compact(spark, Similarity.ivfPqStores(cDir), deadV)
    assert(pairRows(Similarity.ivfPqServeLoaded(spark, sf, cDir)) ==
      pairRows(Similarity.ivfPqServeTombstoned(spark, sf, deadV)),
      "a rerun after a mid-compaction crash must heal both dirs")
    assert(spark.read.parquet(s"$cDir/pq/codes")
      .join(deadV, Seq("vec_id"), "left_semi").isEmpty)
  }

  test("the persisted multi-probe bucket store serves the exact " +
    "in-flow d28 result, its tombstone serve equals the in-flow run " +
    "over the remainder, and a stale plane-set stamp refuses to load") {
    val vecs = Tables.embeddings(spark, sf)
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val bench = vecs.filter(col("vec_id") % 10 === 0)
    val dir = IndexPaths.dir("r18_d32", sf)
    Dedup.semanticBucketsWrite(corpus, "vec_id", "embedding", dir)
    // d32 ≡ one-shot d28 (threshold 0.35 so sf0.001 carries rows)
    val fromStore = pairRows(Dedup.semanticDecontaminateFromStore(
      spark, dir, corpus, bench, "vec_id", "embedding", 0.35))
    val inFlow = pairRows(Dedup.semanticDecontaminateLshMulti(
      corpus, bench, "vec_id", "embedding", 0.35))
    assert(fromStore == inFlow && fromStore.nonEmpty,
      "the store-backed serve must equal the in-flow multi-probe run")
    // d34 ≡ d28 over corpus-minus-tombstones (rebuild equivalence)
    val deadV = vecs.filter(col("vec_id") % 5 === 2).select(col("vec_id"))
    val tombstoned = pairRows(Dedup.semanticDecontaminateFromStore(
      spark, dir, corpus, bench, "vec_id", "embedding", 0.35,
      tombstones = Some(deadV)))
    val remainder = pairRows(Dedup.semanticDecontaminateLshMulti(
      corpus.join(deadV, Seq("vec_id"), "left_anti"), bench,
      "vec_id", "embedding", 0.35))
    assert(tombstoned == remainder,
      "the tombstone serve must equal publish-over-remainder")
    // stale plane-set definition fails at load; absent stamp too
    IndexMeta.stampVersion(dir, "graft-hplsh-0 other")
    intercept[IllegalStateException] {
      Dedup.semanticBucketsLoad(spark, dir)
    }
    IndexMeta.unstamp(dir)
    intercept[IllegalStateException] {
      Dedup.semanticBucketsLoad(spark, dir)
    }
  }

  test("bucket-store delta append: publish(evens) + append(odds) " +
    "equals publish(all) row for row, a stale store refuses the " +
    "append, and a torn append fails closed") {
    val vecs = Tables.embeddings(spark, sf)
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val dirInc = IndexPaths.dir("r18_d32_inc", sf)
    Dedup.semanticBucketsWrite(corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dirInc)
    Dedup.semanticBucketsAppend(corpus.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", dirInc)
    val dirAll = IndexPaths.dir("r18_d32_all", sf)
    Dedup.semanticBucketsWrite(corpus, "vec_id", "embedding", dirAll)
    assert(pairRows(Dedup.semanticBucketsLoad(spark, dirInc)) ==
      pairRows(Dedup.semanticBucketsLoad(spark, dirAll)),
      "appended buckets must equal the one-shot publish (frozen planes)")
    // appending under a DIFFERENT plane-set definition refuses
    IndexMeta.stampVersion(dirInc, "graft-hplsh-0 other")
    intercept[IllegalStateException] {
      Dedup.semanticBucketsAppend(corpus, "vec_id", "embedding", dirInc)
    }
    // a torn append (crash between unstamp and re-stamp) fails closed
    IndexMeta.unstamp(dirInc)
    intercept[IllegalStateException] {
      Dedup.semanticBucketsLoad(spark, dirInc)
    }
  }

  test("every remaining persisted artifact is stamped: the MinHash " +
    "index, the p05 publish, the canonical map, and the LM model all " +
    "fail at load when the publish is torn") {
    val docs = Tables.documents(spark, sf)
    // d19-format MinHash index
    val mhDir = IndexPaths.dir("r18_mh_stamp", sf)
    Dedup.minhashWriteIndex(docs, "doc_id", "text", mhDir)
    Dedup.minhashLoadIndex(spark, mhDir) // fresh publish: no throw
    IndexMeta.unstamp(mhDir)
    intercept[IllegalStateException] { Dedup.minhashLoadIndex(spark, mhDir) }
    // p05's four-table publish rides the same stamp at its serve seam
    val p05Dir = IndexPaths.dir("r18_p05_stamp", sf)
    Dedup.minhashPublishStanding(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 0.6, p05Dir)
    assert(Dedup.minhashServeIncremental(spark,
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", 0.6,
      p05Dir).count() >= 0)
    IndexMeta.unstamp(p05Dir)
    intercept[IllegalStateException] {
      Dedup.minhashServeIncremental(spark,
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", 0.6,
        p05Dir).count()
    }
    // canonical map
    val erDir = IndexPaths.dir("r18_er_stamp", sf)
    Entity.canonicalWriteMap(Entity.sharedCanonicalMap(spark, sf), erDir)
    Entity.canonicalLoadMap(spark, erDir)
    IndexMeta.unstamp(erDir)
    intercept[IllegalStateException] { Entity.canonicalLoadMap(spark, erDir) }
    // quality-LM model (a torn publish = uni written, bi not — the
    // stamp is the completeness marker for the two-table write)
    val lmDir = IndexPaths.dir("r18_lm_stamp", sf)
    val (uni, bi) = TextOps.lmTrain(docs, "doc_id", "text")
    TextOps.lmWriteModel(uni, bi, lmDir)
    TextOps.lmLoadModel(spark, lmDir)
    IndexMeta.unstamp(lmDir)
    intercept[IllegalStateException] { TextOps.lmLoadModel(spark, lmDir) }
  }

  test("a crashed compaction swap is poison-stamped: serve, append, " +
    "and re-compaction all refuse it — no checkpointed replay can " +
    "launder the half-swapped mix back to validity") {
    val docs = Tables.documents(spark, sf)
    def terms = docs.select(col("doc_id"), Search.cjkIndexTerms(
      graft.ops.TextOps.cjkFixture(col("text"))).as("terms"))
    val segDir = java.nio.file.Files
      .createTempDirectory("graft_poison_seg").toString
    graft.streaming.IndexStream.appendSegment(segDir,
      Search.bm25BuildIndexTokens(terms, "doc_id", "terms"))
    IndexMeta.stamp(segDir)
    // a real crash dies between StoreSwap's poison stamp and the final
    // re-stamp, so the state it leaves is exactly "poison stamp"
    IndexMeta.stampVersion(segDir, StoreSwap.SwapPoison)
    val eServe = intercept[IllegalStateException] {
      graft.streaming.IndexStream.mergedIndexCjk(spark, segDir)
    }
    assert(eServe.getMessage.contains(StoreSwap.SwapPoison))
    // an appender refuses too — EVEN WITH a checkpoint (the laundering
    // hole: a replay completes torn appends, not torn swaps)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_poison_ckpt").toString
    intercept[IllegalStateException] {
      graft.streaming.IndexStream.runAvailableNowCjk(spark,
        "/root/testdata/sf0.001", segDir,
        textOf = graft.ops.TextOps.cjkFixture(col("text")),
        checkpointDir = Some(ckpt))
    }
    // and re-compaction refuses (it would read the mixed generations)
    intercept[IllegalStateException] {
      graft.streaming.IndexStream.compactCjk(spark, segDir)
    }
    // the media whole-dir swap keeps the store PRESENT throughout —
    // a poisoned frame store refuses load but still trips the
    // existing-store guard of a later ingest (no store-never-existed
    // window)
    val mDir = java.nio.file.Files
      .createTempDirectory("graft_poison_m").toString + "/frames"
    Multimodal.frameWriteStore(
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 === 0)), mDir)
    IndexMeta.stampVersion(mDir, StoreSwap.SwapPoison)
    intercept[IllegalStateException] {
      Multimodal.frameLoadStore(spark, mDir)
    }
    intercept[IllegalStateException] {
      graft.streaming.MediaStream.runAvailableNowIngest(spark,
        "/root/testdata/sf0.001", mDir,
        deltaFilter = col("doc_id") % 2 =!= 0,
        checkpointDir = Some(java.nio.file.Files
          .createTempDirectory("graft_poison_mc").toString))
    }
  }

  test("p08's labels artifact: torn (present-but-unstamped) fails " +
    "loudly at serve; absent entirely still degrades to the recompute") {
    // publish the full p08 store, then simulate a torn labels publish
    Multimodal.mediaStorePublish(spark, sf)
    val labelsDir = IndexPaths.dir("p08_labels", sf)
    val healthy = pairRows(Multimodal.mediaServeMerged(spark, sf))
    IndexMeta.unstamp(labelsDir)
    intercept[IllegalStateException] {
      Multimodal.mediaServeMerged(spark, sf).count()
    }
    // absent artifact = older publisher → recompute branch, same labels
    StoreSwap.deleteTree(new java.io.File(labelsDir))
    assert(pairRows(Multimodal.mediaServeMerged(spark, sf)) == healthy,
      "the degrade branch must recompute the identical labels")
    // republish restores the fast path for later entries in this JVM
    Multimodal.mediaStorePublish(spark, sf)
  }
}
