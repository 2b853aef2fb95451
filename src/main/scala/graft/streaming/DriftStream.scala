package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Streaming drift monitoring (engine extension, SURVEY.md §2.9/§7.5):
  * v13's PSI readout at the stream edge — the deployment shape of a
  * feature monitor, which is a STREAMING job by nature: the reference
  * bin counts are frozen when the baseline is accepted (10 rows, a
  * published artifact like t22's model or k15's codebooks), the
  * arriving metric values accumulate into a ≤`nBins`-key streaming
  * count aggregation (state is O(bins), never O(rows)), and each
  * trigger's snapshot feeds [[graft.ops.Profile.driftPsiFrom]] against
  * the frozen reference — the alert fires when Σ psi_q6 crosses the
  * 0.1/0.25 rules of thumb.
  *
  * Binning goes through the SAME [[graft.ops.Profile.psiBin]] column
  * the batch readout uses, so stream and batch can never bin
  * differently; DriftStreamSpec pins streamed-counts + frozen-reference
  * ≡ the one-pass batch v13 on the same split. */
object DriftStream {
  /** Minimal metric-stream schema — the monitor needs only the value
    * column; read it with [[Drain.read]]. */
  val rawSchema: StructType = StructType(Seq(
    StructField("value", DoubleType)))

  /** Cumulative current-population bin counts `(bin, n)` as a
    * streaming aggregation — complete-mode output is the monitor's
    * live histogram snapshot. */
  def binCountsStream(values: DataFrame, value: String = "value",
                      width: Double = graft.ops.Profile.PsiWidth,
                      nBins: Int = graft.ops.Profile.PsiBins): DataFrame =
    values
      .withColumn("bin", graft.ops.Profile.psiBin(col(value), width, nBins))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))

  /** The deployed monitor end-to-end: accumulate the arriving values'
    * bin counts in streaming state and, at each trigger, emit the v14
    * ALERT ROW `(psi_total_q6, band)` against the frozen reference —
    * the row a pager fires on, computed in the engine instead of in
    * every consumer. Complete-mode `foreachBatch` hands each trigger
    * the full O(bins) state snapshot, which feeds
    * [[graft.ops.Profile.driftPsiVerdictFrom]] (itself the oracled sum
    * of the per-bin v13 readout); verdict rows append to `outPath`
    * (batchId-keyed — read back with [[Drain.readSink]]), so the table
    * is the monitor's alert history. State is O(bins) — never O(rows)
    * — and survives restarts via `checkpointDir` (pinned by
    * RestartRecoverySpec's PSI test); a replayed trigger overwrites its
    * own alert row instead of appending a second one (DriftStreamSpec). */
  def runAvailableNowVerdict(spark: SparkSession, dir: String,
                             refCounts: DataFrame, outPath: String,
                             checkpointDir: Option[String] = None,
                             glob: String = "*.parquet"): Unit =
    Drain.availableNow(binCountsStream(Drain.read(spark, dir, rawSchema, glob)),
      "complete", checkpointDir, Seq(outPath)) { (snapshot, id) =>
      Drain.appendBatch(
        graft.ops.Profile.driftPsiVerdictFrom(refCounts, snapshot), outPath, id)
    }
}
