package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming twin of the e14 hourly-anomaly monitor (engine extension,
  * SURVEY.md §2.9/§7.5): per-(hour, type) event counts maintained
  * incrementally; the trailing-24-observation z-score is a READ-OUT
  * over the (bounded) aggregate — the same split as [[TrendStream]],
  * because Spark doesn't evaluate trailing-frame windows on a
  * streaming frame, and the hourly count table IS the bounded state a
  * volume monitor keeps hot anyway.
  *
  * The shared stages live in [[graft.ops.Events]] (`hourlyCounts`,
  * `anomalyReadout`); `ts` arrives already µs-normalized from
  * [[EventStream.readEvents]], so batch and stream run LITERALLY the
  * same aggregation and read-out code.
  *
  * Scale: state is O(hours × event types) — the compacted cube, not
  * the events; the z read-out runs on that tiny table, so alerting
  * per micro-batch costs one window over (types × horizon) rows.
  * Counts are integer sums, so micro-batch boundaries cannot move
  * them, and stream-fed scores equal batch e14 row-for-row
  * (`AnomalyStreamSpec`).
  */
object AnomalyStream {
  /** Run the counting stream to completion over an events directory,
    * returning the final hourly cube from the in-memory sink; score it
    * with [[graft.ops.Events.anomalyReadout]]. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      sinkTable: String): DataFrame =
    Drain.toMemory(graft.ops.Events.hourlyCounts(
      EventStream.readEvents(spark, dir)), "complete", sinkTable)
}
