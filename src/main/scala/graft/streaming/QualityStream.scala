package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Streaming quality gating (engine extension, SURVEY.md §2.9/§7.5):
  * the t22 frozen-LM score-and-gate at the stream edge — documents
  * arrive, each micro-batch is scored against the standing published
  * bigram model (typically loaded from a t22-persisted model dir) and
  * its `(doc_id, n_bigrams, logp2_q6, keep)` verdicts appended to the
  * quality table. This is the "apply a frozen model incrementally"
  * streaming shape (the EncodeStream pattern on the text-quality
  * seam): NO state store at all, because a doc's score is a pure
  * per-row function of (its bigrams, the model tables) — the
  * dictionary-sized model broadcasts into every micro-batch and batch
  * boundaries cannot change any verdict (frozen-model batch
  * independence, pinned by RoundThirteenOpsSpec; stream ≡ batch
  * pinned by QualityStreamSpec here).
  *
  * This closes the stream edge on the quality-model seam the way
  * EncodeStream closes ANN, IncrementalDedupStream closes dedup, and
  * MediaStream closes media: train once on the trusted corpus (t22
  * build), publish, then gate every arriving shard online; retraining
  * happens only when the published model is re-fit nightly. */
object QualityStream {
  /** Drain the current directory contents as a delta stream, scoring
    * each micro-batch against the frozen `(uniTop, biTop)` model and
    * appending the gated verdicts to `outPath` (batchId-keyed — read
    * back with [[Drain.readSink]]).
    *
    * Exactly-once across restarts requires `checkpointDir` (see
    * [[IndexStream.runAvailableNow]]): with one, a replayed batch
    * overwrites its own batchId subdir; without one, each invocation
    * reprocesses the whole directory and must append to a fresh
    * `outPath` or verdict rows duplicate. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      uniTop: DataFrame, biTop: DataFrame, outPath: String,
                      deltaFilter: org.apache.spark.sql.Column,
                      checkpointDir: Option[String] = None,
                      glob: String = "documents.parquet"): Unit =
    Drain.availableNow(Drain.read(spark, dir, Drain.DocumentsSchema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(outPath)) {
      (batch, id) =>
      Drain.appendBatch(
        graft.ops.TextOps
          .lmScoreWith(batch, "doc_id", "text", uniTop, biTop)
          .withColumn("keep",
            col("logp2_q6") >= lit(graft.ops.TextOps.LmKeepThresholdQ6)),
        outPath, id)
    }
}
