package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming twin of the e11 trending query (engine extension,
  * SURVEY.md §2.9/§7.5): per-day per-user spend maintained
  * incrementally; the top-k RANK is a read-out over the (bounded)
  * aggregate, exactly like the sketch streams' probe read-outs.
  *
  * Why the split: Spark does not evaluate rank windows on a streaming
  * frame (they need the whole partition), but the aggregation state —
  * one row per (day, user) — is precisely the bounded table a trending
  * dashboard keeps hot. The stream maintains it in complete mode; any
  * consumer ranks the current snapshot with the identical window the
  * batch query uses ([[graft.ops.Events.rankTopK]]), so stream-fed and
  * batch trending agree row-for-row (`TrendStreamSpec`). The shared
  * stages live in [[graft.ops.Events]] (`dailySpend`, `rankTopK`); `ts`
  * arrives already µs-normalized from [[EventStream.readEvents]], so
  * batch and stream run LITERALLY the same aggregation and read-out
  * code.
  *
  * Scale: state is O(days × active users), keyed like the batch plan's
  * exchange; decimal sums keep the rank order exact across re-runs and
  * engines.
  */
object TrendStream {
  /** Run the spend stream to completion over an events directory,
    * returning the final aggregate table from the in-memory sink. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      sinkTable: String): DataFrame =
    Drain.toMemory(graft.ops.Events.dailySpend(
      EventStream.readEvents(spark, dir)), "complete", sinkTable)
}
