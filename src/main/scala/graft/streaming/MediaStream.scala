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
                            glob: String = "documents.parquet"): Unit = {
    // the stream edge maintains the store's version stamp like every
    // other frame-store writer: appending under a DIFFERENT codec/
    // fingerprint definition fails loudly, and the stamp is absent
    // for the duration of the append so a torn append fails closed at
    // the load seam. An existing-but-unstamped store is a crashed
    // append: only a checkpointed restart may complete it (the replay
    // of the one uncommitted batch overwrites its own batchId subdir
    // — the IndexStream recovery contract on the media store).
    val preexisting = new java.io.File(storePath).exists()
    val tornAppend = preexisting &&
      !graft.ops.IndexMeta.isStamped(storePath)
    if (preexisting) {
      // a poison-stamped store (crashed compaction swap) fails the
      // version check loudly here — see IndexStream.runSegmented
      if (graft.ops.IndexMeta.isStamped(storePath))
        graft.ops.IndexMeta.checkVersion(storePath,
          graft.ops.Multimodal.frameVersion)
      else require(checkpointDir.isDefined,
        s"frame store at $storePath is mid-append (unstamped); only a " +
          "restart from the original stream checkpoint can complete it " +
          "— an uncheckpointed re-run would double its signatures. " +
          "Provide the checkpoint or clear the store.")
    }
    // a torn append completes only under the version it was running
    // under — the pending marker written at the original unstamp is
    // the only witness (the IndexStream.runSegmented rationale)
    if (tornAppend) {
      val pending = graft.ops.IndexMeta.pendingVersion(storePath)
      require(pending.contains(graft.ops.Multimodal.frameVersion),
        s"frame store at $storePath is mid-append under codec version " +
          s"'${pending.getOrElse("<unrecorded>")}' but the engine now " +
          s"runs '${graft.ops.Multimodal.frameVersion}' — completing " +
          "the append would stamp old-codec signatures as current; " +
          "republish the store.")
    }
    // unstamp LAZILY at the first actual store mutation (the
    // IndexStream discipline): a drain that fails before any batch —
    // bad source dir, bad glob — leaves a healthy store stamped
    val unstamped = new java.util.concurrent.atomic.AtomicBoolean(false)
    Drain.availableNow(Drain.read(spark, dir, Drain.DocumentsSchema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(storePath)) {
      (batch, id) =>
      if (unstamped.compareAndSet(false, true)) {
        graft.ops.IndexMeta.notePending(storePath,
          graft.ops.Multimodal.frameVersion)
        graft.ops.IndexMeta.unstamp(storePath)
      }
      Drain.appendBatch(graft.ops.Multimodal.framesOf(batch),
        storePath, id)
    }
    // stamp only when this run mutated the store or it completes a
    // torn append (the IndexStream.runSegmented rationale)
    if (unstamped.get() || tornAppend) {
      graft.ops.IndexMeta.stampVersion(storePath,
        graft.ops.Multimodal.frameVersion)
      graft.ops.IndexMeta.clearPending(storePath)
    }
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
