package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming media-delta ingest (engine extension, SURVEY.md §2.9/§7.5):
  * the m10 frame-signature store's stream edge — the last index family
  * without one. Two availableNow runners, both the EncodeStream shape
  * (a frozen artifact applied per micro-batch, NO state store):
  *
  *  - [[runAvailableNowIngest]] is fingerprint-at-ingest: each arriving
  *    batch of media blobs is frame-sampled + polyhashed
  *    ([[graft.ops.Multimodal.framesOf]], a pure per-row function) and
  *    its signature rows appended to the store. This is the write half
  *    of the m10 doctrine — decode/fingerprint ONCE at ingest; every
  *    nightly pass (p08) reads signatures, never blobs. Union over any
  *    batch split ≡ the one-shot fingerprint run, identically.
  *
  *  - [[runAvailableNowIndexed]] is the read-side readout between
  *    nightly passes: the standing store is loaded ONCE outside the
  *    loop and each micro-batch is scored against it by
  *    [[graft.ops.Multimodal.crossNearDupVsStore]] — the df cap and
  *    standing set sizes are frozen functions of the store, so a delta
  *    item's pairs never depend on which micro-batch delivered it and
  *    the union over batches ≡ the one-shot m11 readout. Delta–delta
  *    pairs are deliberately out of scope until the nightly p08 merge,
  *    the same contract [[IncrementalDedupStream]] pins on the text
  *    seam.
  *
  * Why `foreachBatch`: the readout needs distinct + grouped joins over
  * the batch, which as a raw streaming plan would demand unbounded
  * state (blobs carry no event time to watermark on). `foreachBatch`
  * gives each batch exact batch semantics with the frozen store bound
  * once — stream ≡ batch is pinned by MediaStreamSpec.
  *
  * Both sinks append through [[Drain.appendBatch]] (batchId-keyed
  * overwrite), so a checkpointed restart's replay of the one
  * uncommitted batch lands on its own subdir and cannot double rows —
  * recovery is exact even for a crash INSIDE a batch, the same
  * contract as [[IndexStream]]'s segment store. */
object MediaStream {
  /** Drain the current directory contents as a delta stream,
    * fingerprinting each micro-batch and appending its signature rows
    * to `storePath` as parquet — the stream-edge writer of the m10
    * store. Exactly-once across restarts requires `checkpointDir`
    * (see [[IndexStream.runAvailableNow]]); without one, re-runs
    * reprocess everything under fresh batchIds and need a fresh
    * `storePath`. */
  def runAvailableNowIngest(spark: SparkSession, dir: String,
                            storePath: String,
                            deltaFilter: org.apache.spark.sql.Column,
                            checkpointDir: Option[String] = None,
                            glob: String = "documents.parquet"): Unit =
    // the stream edge maintains the store's version stamp like every
    // other frame-store writer: appending under a DIFFERENT codec/
    // fingerprint definition fails loudly, and a torn append fails
    // closed at the load seam (the Drain.availableNowStamped protocol)
    Drain.availableNowStamped(Drain.read(spark, dir, Drain.DocumentsSchema, glob)
      .filter(deltaFilter), storePath, graft.ops.Multimodal.frameVersion,
      checkpointDir, Seq(storePath)) { (batch, id) =>
      Drain.appendBatch(graft.ops.Multimodal.framesOf(batch), storePath, id)
    }

  /** Drain the current directory contents as a delta stream, scoring
    * each micro-batch's items against the standing store at `indexDir`
    * (loaded once, df cap frozen there) and appending the cross
    * near-dup pairs to `outPath` (batchId-keyed — read back with
    * [[Drain.readSink]]). Output ≡ the one-shot
    * [[graft.ops.Multimodal.crossNearDupVsStore]] over the whole
    * delta (pinned by MediaStreamSpec). */
  def runAvailableNowIndexed(spark: SparkSession, dir: String,
                             indexDir: String, outPath: String,
                             deltaFilter: org.apache.spark.sql.Column,
                             checkpointDir: Option[String] = None,
                             glob: String = "documents.parquet"): Unit = {
    val store = graft.ops.Multimodal.frameLoadStore(spark, indexDir)
    Drain.availableNow(Drain.read(spark, dir, Drain.DocumentsSchema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(outPath)) {
      (batch, id) =>
      Drain.appendBatch(
        graft.ops.Multimodal
          .crossNearDupVsStore(store, graft.ops.Multimodal.framesOf(batch)),
        outPath, id)
    }
  }
}
