package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming document curation (engine extension, SURVEY.md §2.9/§7.5):
  * the batch cleaning operators — quality features, PII redaction, a
  * per-language quality gate — applied to a document STREAM, unchanged.
  *
  * Two Spark patterns on display:
  *  - the curation transforms ([[graft.ops.TextOps.withQuality]],
  *    [[graft.ops.TextOps.withRedaction]]) are stateless codegen'd
  *    projections, so the SAME function composes into a batch job or a
  *    stream — one code path, no reimplementation, no state store;
  *  - the per-language thresholds arrive as a STREAM-STATIC broadcast
  *    join: the static side is planned once and broadcast to every
  *    micro-batch, the standard shape for slowly-changing reference
  *    data against a fast stream.
  *
  * `CurateStreamSpec` asserts availableNow stream ≡ batch on the same
  * directory.
  */
object CurateStream {
  /** Stateless curation pass; identical logic batch & stream.
    * @param thresholds static `(lang, min_words)` reference frame */
  def curated(docs: DataFrame, thresholds: DataFrame): DataFrame =
    graft.ops.TextOps.withRedaction(
        graft.ops.TextOps.withQuality(docs, "text"), "text")
      .join(broadcast(thresholds), Seq("lang"))
      .filter(col("n_words") >= col("min_words"))
      .select(col("doc_id"), col("lang"), col("redacted"),
        col("n_words"), col("n_stop"), col("n_emails"))

  /** Run to completion over the current directory contents. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      thresholds: DataFrame, sinkTable: String): DataFrame =
    Drain.toMemory(curated(Drain.read(spark, dir, Drain.DocumentsSchema,
      "documents.parquet"), thresholds), "append", sinkTable)
}
