package graft.streaming

import graft.ops.Search
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming search-index maintenance (engine extension, SURVEY.md
  * §2.9/§7.5): the r06/r07 seam at the stream edge — documents arrive,
  * each micro-batch's postings/lexicon/stats are built with
  * [[graft.ops.Search.bm25BuildIndex]] and appended as a SEGMENT
  * (three batchId-keyed parquet subdirs per batch), and queries serve
  * from the segment store after an exact-integer merge — precisely the
  * Lucene/Elasticsearch shape: writers append immutable segments,
  * readers merge at query time, a background compaction
  * ([[compactCjk]]) folds segments together when they accumulate —
  * scheduled by [[runAvailableNowCjk]]'s `maxSegments` trigger, the
  * minimal merge policy.
  *
  * NO state store at all: a batch's segment is a pure function of the
  * batch (tf/dl are per-doc, df and stats are per-segment sums), and
  * r07's merge theorem — postings concatenate, dfs ADD, stats ADD,
  * all exact integers — makes the merged read independent of how the
  * corpus was split into batches. Stream ≡ batch is therefore an
  * identity over ANY micro-batch partitioning (IndexStreamSpec pins
  * it).
  *
  * Exactly-once: segment appends go through [[Drain.appendBatch]] —
  * each batch's three tables land in batchId-keyed subdirs with
  * overwrite semantics, so a checkpointed restart that replays the one
  * uncommitted batch overwrites its own subdirs instead of doubling
  * rows. APPEND recovery is therefore exact for a crash at any point
  * of a checkpointed run, including inside a batch (a torn batch's
  * partial subdirs are overwritten whole on replay). A crashed
  * COMPACTION is the one failure no replay can complete — the store
  * is a mix of swapped and unswapped subtables with nothing pending in
  * the checkpoint — so it is NOT recovered but poison-stamped
  * ([[graft.ops.StoreSwap.SwapPoison]]): every serve, append, and
  * re-compaction fails loudly until a full republish. [[mergedIndex]]
  * reads the store recursively so flat publisher segments and
  * streamed batch subdirs merge identically. */
object IndexStream {
  /** Append one index segment (postings/lexicon/stats, as built by
    * [[Search.bm25BuildIndex]] or [[Search.bm25BuildIndexTokens]]) to
    * the flat store at `segDir` — a publisher's batch append, outside
    * any stream. Stamping the store afterwards is the caller's step. */
  def appendSegment(segDir: String,
                    seg: (DataFrame, DataFrame, DataFrame)): Unit = {
    seg._1.write.mode("append").parquet(s"$segDir/postings")
    seg._2.write.mode("append").parquet(s"$segDir/lexicon")
    seg._3.write.mode("append").parquet(s"$segDir/stats")
  }

  /** Drain the directory as a delta stream, appending one index
    * segment (postings/lexicon/stats parquet) per micro-batch under
    * `segDir` — the WORD-analyzed twin of [[runAvailableNowCjk]],
    * sharing its whole guard/stamp/merge-policy body
    * ([[runSegmented]]) under the word analyzer's [[Search.WsVersion]]
    * fingerprint: the round that stamped the word PUBLISH store left
    * its stream-edge segment store unstamped, the same torn-append
    * hole one family over. Serve through [[mergedIndexWs]].
    *
    * Exactly-once across restarts REQUIRES `checkpointDir`: with a
    * checkpoint, a re-run over the same source directory replays only
    * the uncommitted batch, whose batchId-keyed overwrite cannot
    * double rows. Without one (None — the single-shot spec/harness
    * mode) every invocation reprocesses the whole directory under
    * fresh batchIds that need not match the previous run's split, and
    * MUST therefore write to a fresh `segDir`, or the appended
    * postings/df/stats would silently double in [[mergedIndex]]. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      segDir: String,
                      checkpointDir: Option[String] = None,
                      glob: String = "documents.parquet",
                      deltaFilter: org.apache.spark.sql.Column =
                        org.apache.spark.sql.functions.lit(true),
                      maxSegments: Int = 0): Unit =
    runSegmented(spark, dir, segDir, Search.WsVersion, checkpointDir,
      glob, deltaFilter, maxSegments) { batch =>
      Search.bm25BuildIndex(batch, "doc_id", "text")
    }

  /** [[runAvailableNow]]'s CJK twin (r12) — the last seam where the
    * CJK family lacked its word-family symmetry: each arriving
    * micro-batch of unsegmented documents is analyzed with the r08
    * unigram+bigram CJK analyzer (via the array-input index build, so
    * the batch is tokenized exactly once) and appended as an
    * immutable segment; queries serve from
    * [[mergedIndex]] after r07's exact-integer merge, which is
    * token-AGNOSTIC — postings concatenate, dfs ADD, stats ADD — so
    * merged CJK segments equal the one-shot r09 build bit-for-bit
    * over ANY micro-batch partitioning (IndexStreamSpec pins it, and
    * the serve hash-matches r08's oracle). Segments are script-token-
    * derived persisted artifacts, so the store carries the tokenizer-
    * version stamp ([[graft.ops.IndexMeta]]), guarding TWO failure
    * classes at the serve seam: an analyzer change between segment
    * writes fails loudly instead of silently splitting the lexicon
    * (checked before appending to a standing store), and a TORN
    * append — postings written, lexicon/stats not — also fails
    * closed, because the stamp is REMOVED before the first mutation
    * and re-written only after the drain completes, so a crash
    * mid-append leaves the store unstamped rather than serving wrong
    * df/stats sums under the previous valid stamp. The unstamp is
    * LAZY (first batch, not stream start): a failure that never
    * touches the store — bad source dir, bad glob, an analysis error
    * in the first batch's plan — leaves a healthy standing store
    * stamped and servable instead of forcing a rebuild.
    *
    * `maxSegments` (0 = off) is the MERGE POLICY, minimal version:
    * after the drain commits and re-stamps, if the store holds more
    * than `maxSegments` segments, one [[compactCjk]] pass folds them
    * to one — Lucene's segment-count merge trigger. The trigger runs
    * BETWEEN drains, never inside the foreachBatch loop: a mid-drain
    * compaction would fold rows a not-yet-committed batch also wrote,
    * and the checkpoint's replay of that batch after a crash would
    * then double them — compaction and the exactly-once replay
    * contract only compose when compaction sees exclusively committed
    * segments. Serve is unchanged bit-for-bit (the r07 merge
    * theorem; pinned by IndexStreamSpec's scheduled-compaction case).
    *
    * `textOf` lets the harness inject the fixture translate; a real
    * deployment leaves the default raw column. */
  def runAvailableNowCjk(spark: SparkSession, dir: String,
                         segDir: String,
                         textOf: org.apache.spark.sql.Column =
                           org.apache.spark.sql.functions.col("text"),
                         checkpointDir: Option[String] = None,
                         glob: String = "documents.parquet",
                         deltaFilter: org.apache.spark.sql.Column =
                           org.apache.spark.sql.functions.lit(true),
                         maxSegments: Int = 0): Unit =
    runSegmented(spark, dir, segDir,
      graft.ops.TextOps.tokenizerVersion, checkpointDir, glob,
      deltaFilter, maxSegments) { batch =>
      import org.apache.spark.sql.functions.col
      // tokenize ONCE per micro-batch (the r08 doctrine at the stream
      // edge): the index build reads the term arrays twice (corpus
      // scalars + postings), so an unmaterialized projection would run
      // the fold+regex+bigram analyzer twice per batch — measured 2×
      // the whole entry's analyzer cost at sf0.1. LAZY (r19): the
      // batch's postings write consumes every partition, so it
      // materializes the checkpoint in-line instead of a dedicated
      // materialization job per micro-batch.
      val toks = batch.select(col("doc_id"),
        Search.cjkIndexTerms(textOf).as("terms")).localCheckpoint(false)
      Search.bm25BuildIndexTokens(toks, "doc_id", "terms")
    }

  /** The stamped segment append both analyzer families share: the
    * guard / torn-append / lazy-unstamp / restamp protocol is
    * [[Drain.availableNowStamped]]'s (a segment built under a
    * DIFFERENT analyzer than the standing segments would corrupt the
    * merged lexicon silently); after the drain commits and re-stamps,
    * the `maxSegments` merge policy compacts when crossed (see
    * [[runAvailableNowCjk]]'s scaladoc for why never mid-drain). */
  private def runSegmented(spark: SparkSession, dir: String,
                           segDir: String, version: String,
                           checkpointDir: Option[String], glob: String,
                           deltaFilter: org.apache.spark.sql.Column,
                           maxSegments: Int)
                          (build: DataFrame => (DataFrame, DataFrame, DataFrame)): Unit = {
    Drain.availableNowStamped(Drain.read(spark, dir, Drain.DocumentsSchema, glob)
      .filter(deltaFilter), segDir, version, checkpointDir,
      SegmentTables.map(t => s"$segDir/$t")) { (batch, id) =>
      // the idempotent sink both drains share: batchId-keyed subdirs
      // under each subtable, overwrite on replay (Drain.appendBatch)
      val (p, l, st) = build(batch)
      Drain.appendBatch(p, s"$segDir/postings", id)
      Drain.appendBatch(l, s"$segDir/lexicon", id)
      Drain.appendBatch(st, s"$segDir/stats", id)
    }
    // the stats-exists guard covers the zero-arrival fresh-store edge:
    // a drain that appended nothing to a store that never existed has
    // no stats table to count
    if (maxSegments > 0 && new java.io.File(segDir, "stats").exists() &&
        segmentCount(spark, segDir) > maxSegments)
      compactSegments(spark, segDir, version)
  }

  /** How many segments the store currently holds — each append wrote
    * exactly one stats row, and compaction folds them to one, so the
    * stats row count IS the segment count (the number the merge
    * policy triggers on). */
  def segmentCount(spark: SparkSession, segDir: String): Long =
    Drain.readSink(spark, s"$segDir/stats").count()

  /** [[mergedIndex]] with the CJK store's tokenizer-version check —
    * the serve seam for [[runAvailableNowCjk]] segment stores. */
  def mergedIndexCjk(spark: SparkSession,
                     segDir: String): (DataFrame, DataFrame, DataFrame) = {
    graft.ops.IndexMeta.check(segDir)
    mergedIndex(spark, segDir)
  }

  /** [[mergedIndex]] with the word store's [[Search.WsVersion]] check —
    * the serve seam for [[runAvailableNow]] segment stores: a torn
    * append or a moved analyzer definition fails here instead of
    * serving wrong df/stats sums. */
  def mergedIndexWs(spark: SparkSession,
                    segDir: String): (DataFrame, DataFrame, DataFrame) = {
    graft.ops.IndexMeta.checkVersion(segDir, Search.WsVersion)
    mergedIndex(spark, segDir)
  }

  /** Read the segment store back as ONE logical index: the r07 merge
    * over however many segments the stream appended — postings are
    * already concatenated by the append writes; lexicon dfs and the
    * corpus stats re-sum exactly. Reads are RECURSIVE
    * ([[Drain.readSink]]): a store may mix flat publisher segments
    * with streamed batchId subdirs. Serve with
    * [[graft.ops.Search.bm25QueryIndex]]. */
  def mergedIndex(spark: SparkSession,
                  segDir: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, sum}
    val postings = Drain.readSink(spark, s"$segDir/postings")
    val lexicon = Drain.readSink(spark, s"$segDir/lexicon")
      .groupBy(col("token")).agg(sum(col("df")).as("df"))
    val stats = Drain.readSink(spark, s"$segDir/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    (postings, lexicon, stats)
  }

  /** COMPACT a CJK segment store down to one segment (r15) — the
    * background half this object's scaladoc promises: every appended
    * micro-batch adds one lexicon/stats row-group per term, so an
    * unattended stream's serve-time merge re-sums an ever-growing
    * segment count (Lucene's exact problem, Lucene's exact answer).
    * One pass reads the merged view ([[mergedIndex]] — exact integer
    * adds), rewrites it as a single segment BESIDE the live store,
    * then swaps the subtables in under the [[graft.ops.IndexMeta]]
    * torn-write contract ([[graft.ops.StoreSwap]]): a crash mid-swap
    * leaves an unstamped (unservable, un-appendable-without-
    * checkpoint) store instead of a silent mix of old and new
    * segments.
    *
    * `tombstones` (optional) makes this Lucene's EXPUNGE-DELETES: the
    * rewritten segment drops the tombstoned docs' postings and
    * corrects the lexicon dfs and corpus stats from those same rows —
    * the store-wide, rebuild-time counterpart of
    * [[graft.ops.Search.bm25QueryIndexTombstoned]]'s serve-time
    * correction, after which the tombstone set can be retired. The
    * compacted store equals a fresh build over corpus-minus-tombstones
    * exactly (same integer arithmetic), so serving it needs no
    * tombstone logic at all. Same zero-term-doc contract as the
    * serve-time variant: a doc with no index terms has no posting
    * rows, so a doc_id-only tombstone cannot reclaim its n_docs slot
    * from the store — pass a tombstone table carrying `dl` (known at
    * delete time) and the removed stats come straight off it, exact
    * for zero-term docs and skipping the removed-postings pass.
    * Caller contract on the dl-carrying form (shared with the serve
    * variant): every id must name a doc actually in the indexed
    * corpus — the store cannot validate that, because zero-term docs
    * are legitimately invisible to its postings. Conflicting dl rows
    * for one id collapse to max(dl) rather than double-counting.
    *
    * Cost shape: two passes over the merged postings — the rewrite
    * itself and one extraction of the removed posting rows for the
    * stats correction (the df correction is free: the rewritten
    * store's lexicon derives from the live postings the rewrite
    * writes); ONE pass with dl-carrying tombstones, where the removed
    * stats come straight off the delete table. */
  def compactCjk(spark: SparkSession, segDir: String,
                 tombstones: Option[DataFrame] = None): Unit =
    compactSegments(spark, segDir, graft.ops.TextOps.tokenizerVersion,
      tombstones)

  /** [[compactCjk]] for WORD-analyzed segment stores
    * ([[runAvailableNow]]) — identical merge/expunge arithmetic (the
    * r07 merge theorem is token-agnostic), verified and re-stamped
    * under [[Search.WsVersion]]. */
  def compactWs(spark: SparkSession, segDir: String,
                tombstones: Option[DataFrame] = None): Unit =
    compactSegments(spark, segDir, Search.WsVersion, tombstones)

  private def compactSegments(spark: SparkSession, segDir: String,
                              version: String,
                              tombstones: Option[DataFrame] = None): Unit =
    // rewrite beside the live store (reads old paths, writes new —
    // never overlapping), then swap under the stamp-off/stamp-on
    // contract; the merged read runs after the version check
    graft.ops.StoreSwap.rewrite(graft.ops.StoreSwap.Store(segDir, version,
      "doc_id", SegmentTables)) { tmp =>
      import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, max, sum}
      val (p0, l0, st0) = mergedIndex(spark, segDir)
      val (p, l, st) = tombstones match {
        case None => (p0, l0, st0)
        case Some(tsRaw) =>
          val ts = graft.ops.StoreSwap.deadIds("doc_id", tsRaw)
          val live = graft.ops.StoreSwap.dropDead(p0, "doc_id", tsRaw)
          // The removed posting rows. NOT checkpointed (r19): since
          // bm25WriteIndex derives the store lexicon from the live
          // postings it just wrote (item 1), the rmDf-corrected lexicon
          // below is never executed — rmPost's one LIVE consumer is the
          // stats fallback (zero consumers when the tombstones carry
          // dl), so an eager materialization here was a whole extra
          // merged-postings scan per compaction.
          val rmPost = p0.join(ts, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("token"), col("dl"))
          // store-wide df correction: one row per (doc, token) in the
          // postings, so count(*) per token over the removed rows is
          // the number of removed docs carrying it
          val rmDf = rmPost.groupBy(col("token")).agg(count(lit(1)).as("rm_df"))
          val lex = l0.join(rmDf, Seq("token"), "left")
            .select(col("token"),
              (col("df") - coalesce(col("rm_df"), lit(0L))).as("df"))
            .filter(col("df") > 0)
          // removed corpus stats: from the tombstone table itself when
          // it carries dl (exact for zero-term docs, zero store scans),
          // else derived from the tombstoned docs' posting rows. Either
          // way the set is collapsed PER DOC first — max(dl) per id —
          // so a delete feed that delivered the same id twice (possibly
          // with drifted dl) decrements n_docs/sum_dl exactly once.
          val rm =
            if (tsRaw.columns.contains("dl"))
              tsRaw.select(col("doc_id"), col("dl"))
                .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
                .agg(count(lit(1)).as("rm_n"),
                  coalesce(sum(col("dl")), lit(0L)).as("rm_dl"))
            else rmPost
              .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
              .agg(count(lit(1)).as("rm_n"),
                coalesce(sum(col("dl")), lit(0L)).as("rm_dl"))
          val stats = st0.crossJoin(broadcast(rm))
            .select((col("n_docs") - col("rm_n")).as("n_docs"),
              (col("sum_dl") - col("rm_dl")).as("sum_dl"))
          (live, lex, stats)
      }
      graft.ops.Search.bm25WriteIndex(p, l, st, tmp, version)
    }

  private val SegmentTables = Seq("postings", "lexicon", "stats")
}
