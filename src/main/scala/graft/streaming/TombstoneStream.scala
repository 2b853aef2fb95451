package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}

/** Streaming TOMBSTONE PROPAGATION (r16) — deletes as a STREAM, the
  * shape they actually arrive in (a takedown feed, an opt-out queue,
  * CDC deletes): every tombstone serve in the engine (r13/r14 search,
  * d29 near-dup, m12 media, k25 ANN) takes a static delete table, and
  * this runner is what maintains that table between index rebuilds —
  * each micro-batch of delete records appends its ids to the standing
  * tombstone SET, and every serve issued after the drain reflects all
  * deletes delivered so far.
  *
  * ZERO streaming state: the set is a pure union of the delivered ids
  * — no aggregation, no watermark, no ordering sensitivity (the serves
  * `distinct()` the set, so replays and duplicate deliveries of one id
  * are harmless BY CONSTRUCTION on the read side, and the batchId-
  * keyed idempotent sink ([[Drain.appendBatch]]) already prevents the
  * write-side double). Stream-of-deletes ≡ static-set is therefore an
  * identity over ANY batch split — pinned by TombstoneStreamSpec, with
  * the kill-and-resume case in RestartRecoverySpec.
  *
  * Scale shape: deletes are small by definition; each batch is one
  * map-side projection appended as a narrow one-column parquet batch
  * dir. The consuming serves broadcast the loaded set. When the set
  * has accrued enough to matter, the family's compaction pass
  * ([[IndexStream.compactCjk]] for the BM25 segments,
  * [[graft.ops.StoreSwap.compact]] / `compactIfNeeded` over the
  * family's declared store for the near-dup, bucket, frame and IVFPQ
  * stores) folds it into the store and the set directory can be
  * cleared — the full delete lifecycle: stream in, serve corrected,
  * expunge, retire. */
object TombstoneStream {
  /** Drain delete records (any frame carrying `idCol`) into the
    * standing tombstone set at `setPath` — one narrow batch subdir per
    * micro-batch. Exactly-once across restarts requires
    * `checkpointDir` (the [[Drain]] contract); serves tolerate
    * duplicate ids regardless (they distinct the set). Read the
    * standing set back with [[Drain.readSink]] and feed it to any
    * tombstone serve ([[graft.ops.Search.bm25QueryIndexTombstoned]]
    * and siblings). */
  def runAvailableNow(spark: SparkSession, dir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      idCol: String, setPath: String,
                      deltaFilter: Column,
                      checkpointDir: Option[String] = None,
                      glob: String = "documents.parquet"): Unit =
    Drain.availableNow(Drain.read(spark, dir, schema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(setPath)) {
      (batch, id) =>
      Drain.appendBatch(
        batch.select(org.apache.spark.sql.functions.col(idCol)), setPath, id)
    }
}
