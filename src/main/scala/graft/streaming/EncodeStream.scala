package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming PQ encoding (engine extension, SURVEY.md §2.9/§7.5): the
  * k18 frozen-codebook encode at the stream edge — new vectors arrive,
  * each micro-batch is quantized against the standing codebooks
  * (typically loaded from a k15-persisted index) and its code tuples
  * appended to the code table. This is the "apply a frozen model
  * incrementally" streaming shape: NO state store at all, because
  * encoding is a pure per-row function of (vector, codebook) — the
  * codebooks broadcast into every micro-batch and batch boundaries
  * cannot change any code (k18's batch-independence contract, pinned
  * by spec there; stream ≡ batch pinned by EncodeStreamSpec here).
  *
  * Together with [[IncrementalDedupStream.runAvailableNowIndexed]]
  * this closes the incremental-index loop for both index families:
  * dedup serves deltas from persisted bands, ANN encodes deltas
  * against persisted codebooks; retraining happens only when k09's
  * recall readout says drift has accumulated.
  */
object EncodeStream {
  /** Drain the current directory contents as a delta stream, encoding
    * each micro-batch against `codebooks` and appending the code
    * tuples to `outPath` (batchId-keyed — read back with
    * [[Drain.readSink]]).
    *
    * Exactly-once across restarts requires `checkpointDir` (see
    * [[IndexStream.runAvailableNow]]): with one, a replayed in-flight
    * batch overwrites its own batchId subdir instead of doubling its
    * code rows; without one, each invocation reprocesses the whole
    * directory and must append to a fresh `outPath`. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      codebooks: DataFrame, outPath: String,
                      deltaFilter: org.apache.spark.sql.Column,
                      checkpointDir: Option[String] = None,
                      glob: String = "embeddings.parquet"): Unit =
    Drain.availableNow(Drain.read(spark, dir, Drain.EmbeddingsSchema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(outPath)) {
      (batch, id) =>
      Drain.appendBatch(
        graft.ops.Similarity
          .pqEncodeWith(batch, "vec_id", "embedding", codebooks),
        outPath, id)
    }
}
