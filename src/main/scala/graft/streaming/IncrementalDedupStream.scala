package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming INCREMENTAL dedup (engine extension, SURVEY.md §2.9/§7.5):
  * the production deployment of [[graft.ops.Dedup.minhashVerifiedAgainst]]
  * — a delta stream of arriving documents deduped against a STANDING
  * corpus, via `foreachBatch`: each micro-batch runs the full batch
  * operator (cross-set band join + exact-Jaccard verify) against the
  * static corpus and appends its near-dup pairs to the sink.
  *
  * Why `foreachBatch` and not a fully streaming plan: the verify stage
  * needs a distinct + two joins over the candidate set, which as a raw
  * stream would demand unbounded state (documents carry no event time
  * to watermark on). `foreachBatch` gives every micro-batch exact batch
  * semantics — the composed operator runs unchanged, candidates are
  * deduped WITHIN the batch by construction, and no streaming state
  * store exists at all. This is the canonical Spark idiom for "complex
  * batch logic applied incrementally" and the sixth streaming shape in
  * the catalog (window agg, custom state, watermarked dedup,
  * stream-static join, sketch state, stream-stream join — and now
  * foreachBatch composition).
  *
  * Semantics note, pinned by `IncrementalDedupStreamSpec`: batches
  * partition the delta, and the operator pairs each batch only against
  * the corpus — so the union over batches equals the one-shot batch
  * run (d10) exactly. Delta-vs-delta duplicates are deliberately out
  * of scope until the delta merges into the corpus, the same contract
  * as the batch operator.
  */
object IncrementalDedupStream {
  /** Drain the current directory contents as a delta stream (odd doc
    * ids in the harness wiring), appending near-dup pairs vs `corpus`
    * to `outPath` (batchId-keyed — read back with [[Drain.readSink]]).
    * Exactly-once across restarts requires `checkpointDir` (see
    * [[IndexStream.runAvailableNow]]); with one, a replayed batch
    * overwrites its own subdir; without one, re-runs reprocess
    * everything and need a fresh `outPath`. */
  def runAvailableNow(spark: SparkSession, dir: String, corpus: DataFrame,
                      outPath: String, threshold: Double = 0.6,
                      deltaFilter: org.apache.spark.sql.Column,
                      checkpointDir: Option[String] = None): Unit =
    Drain.availableNow(Drain.read(spark, dir, Drain.DocumentsSchema,
      "documents.parquet").filter(deltaFilter), "append", checkpointDir,
      Seq(outPath)) { (batch, id) =>
      Drain.appendBatch(
        graft.ops.Dedup
          .minhashVerifiedAgainst(corpus, batch, "doc_id", "text", threshold),
        outPath, id)
    }

  /** [[runAvailableNow]] served from a PERSISTED MinHash index (d19):
    * the corpus's band table is loaded from `indexDir` ONCE and every
    * micro-batch joins its map-side delta bands against that standing
    * table — the corpus text is touched only to verify candidates,
    * its signatures never recomputed per batch. This is the shape the
    * nightly pipeline actually deploys: `Dedup.minhashWriteIndex` at
    * ingest, this stream between ingests.
    * Output ≡ [[runAvailableNow]] ≡ the one-shot batch d10 (pinned by
    * IncrementalDedupStreamSpec): the index changes where the bands
    * live, not what the serve returns. */
  def runAvailableNowIndexed(spark: SparkSession, dir: String,
                             corpus: DataFrame, indexDir: String,
                             outPath: String, threshold: Double = 0.6,
                             deltaFilter: org.apache.spark.sql.Column,
                             checkpointDir: Option[String] = None,
                             n: Int = 3): Unit = {
    val (_, bands) = graft.ops.Dedup.minhashLoadIndex(spark, indexDir, n)
    val corpusBands = bands.withColumnRenamed("doc_id", "corpus_id")
    Drain.availableNow(Drain.read(spark, dir, Drain.DocumentsSchema,
      "documents.parquet").filter(deltaFilter), "append", checkpointDir,
      Seq(outPath)) { (batch, id) =>
      Drain.appendBatch(
        graft.ops.Dedup
          .minhashServeDelta(corpus, corpusBands, batch, "doc_id", "text",
            threshold, n),
        outPath, id)
    }
  }

  /** The CJK seam's stream edge — [[runAvailableNowIndexed]]'s
    * char-path sibling, serving ENTIRELY from the published d21 store:
    * each arriving micro-batch of unsegmented documents is
    * script-tokenized, banded, and scored against the LOADED standing
    * char-shingle artifacts (verify hash arrays + band table, both
    * bound ONCE outside the loop — standing text is never read at
    * all), with the band-bucket cap FROZEN at the standing side.
    * Every global input is a pure function of the frozen store (d21's
    * batch-independence contract, RoundFourteenOpsSpec), so the union
    * over any micro-batch split equals the one-shot
    * [[graft.ops.Dedup.cjkServeDelta]] exactly — pinned by
    * IncrementalDedupStreamSpec's CJK test. foreachBatch with zero
    * streaming state, the same rationale as [[runAvailableNow]].
    * `textOf` lets the harness inject the fixture translate; a real
    * deployment leaves the default raw column. */
  def runAvailableNowCjk(spark: SparkSession, dir: String, indexDir: String,
                         outPath: String, threshold: Double = 0.6,
                         deltaFilter: org.apache.spark.sql.Column,
                         textOf: org.apache.spark.sql.Column = col("text"),
                         checkpointDir: Option[String] = None,
                         glob: String = "documents.parquet"): Unit = {
    // the stream tokenizes every delta batch with the ENGINE's current
    // tokenizer; the store's shingles must come from the same one or
    // band collisions silently stop happening (IndexMeta contract)
    graft.ops.IndexMeta.check(indexDir)
    val hashes = spark.read.parquet(s"$indexDir/hashes")
      .withColumnRenamed("doc_id", "corpus_id")
    val bands = spark.read.parquet(s"$indexDir/bands")
      .withColumnRenamed("doc_id", "corpus_id")
    Drain.availableNow(Drain.read(spark, dir, Drain.DocumentsSchema, glob)
      .filter(deltaFilter), "append", checkpointDir, Seq(outPath)) {
      (batch, id) =>
      Drain.appendBatch(
        graft.ops.Dedup.minhashServeDeltaFrom(hashes, bands,
          batch.select(col("doc_id"), concat_ws(" ",
            graft.ops.TextOps.scriptTokens(textOf)).as("_script_text")),
          "doc_id", "_script_text", threshold,
          graft.ops.Dedup.CjkCharShingleN, graft.ops.Dedup.MaxBandDocs),
        outPath, id)
    }
  }
}
