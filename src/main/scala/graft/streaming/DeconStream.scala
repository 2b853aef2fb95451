package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Streaming SEMANTIC DECONTAMINATION (d27) — d25's shape at the
  * stream edge, closing the decontamination family's last seam: in a
  * real pipeline decontamination is an INGEST-TIME GATE (a corpus
  * batch is checked against the held-out benchmark before anything
  * downstream sees it), so the embedding-space member needs the same
  * foreachBatch edge the token members have
  * ([[IncrementalDedupStream]]) — delta batches of corpus vectors
  * arrive, each micro-batch runs one exact broadcast-benchmark cosine
  * sweep ([[graft.ops.Dedup.semanticDecontaminate]]), and the flagged
  * `(vec_id, n_bench_matches, max_cos)` rows append to the audit sink.
  *
  * ZERO streaming state: a vector's verdict depends only on (vector,
  * benchmark) — the benchmark is the STANDING side, broadcast into
  * every batch — so each vector is scored completely within its own
  * micro-batch and the union over batches equals the one-shot d25 over
  * the union IDENTICALLY, under any batch partitioning (pinned by
  * DeconStreamSpec; restart exactly-once is the file source's offset
  * contract, pinned in RestartRecoverySpec). This is the
  * [[IncrementalDedupStream]] pattern with an even stronger argument:
  * there is no band index to keep frozen — the benchmark itself is the
  * whole standing artifact.
  *
  * Scale shape per batch = d25's: one map-side pass over the batch's
  * vectors against the broadcast benchmark, no shuffle of corpus
  * vectors, no within-corpus pairs. */
object DeconStream {
  /** Drain the directory as a delta stream of corpus vectors, scoring
    * each micro-batch against the standing `bench` frame and appending
    * flagged rows to `outPath` (batchId-keyed — read back with
    * [[Drain.readSink]]).
    *
    * Exactly-once across restarts requires `checkpointDir` (the
    * [[Drain]] contract): with one, a re-run replays only the
    * uncommitted batch, whose batchId-keyed overwrite cannot double
    * rows; without one, every invocation reprocesses the whole
    * directory and must write to a fresh `outPath`. */
  def runAvailableNow(spark: SparkSession, dir: String, bench: DataFrame,
                      outPath: String, threshold: Double,
                      deltaFilter: Column =
                        org.apache.spark.sql.functions.lit(true),
                      checkpointDir: Option[String] = None,
                      glob: String = "embeddings.parquet"): Unit =
    Drain.availableNow(Drain.read(spark, dir, Drain.EmbeddingsSchema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(outPath)) {
      (batch, id) =>
      Drain.appendBatch(
        graft.ops.Dedup.semanticDecontaminate(batch, bench,
          "vec_id", "embedding", threshold),
        outPath, id)
    }
}
