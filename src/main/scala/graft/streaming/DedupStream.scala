package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact-dedup — the exactly-once projection of an
  * at-least-once event stream (engine extension, SURVEY.md §2.9/§7.5).
  *
  * Every real ingestion pipeline re-delivers: file relandings, Kafka
  * replays, retried producers. The Spark-native answer is
  * `dropDuplicatesWithinWatermark` keyed on the event id: the state
  * store remembers ids only inside the watermark horizon, so state is
  * O(events per watermark window) — bounded at any corpus rate — while
  * re-deliveries inside the horizon (the only kind an at-least-once
  * source produces) are dropped exactly.
  *
  * Batch equivalence: over a static input processed with availableNow,
  * the output row set equals batch `dropDuplicates(id)` — asserted by
  * `DedupStreamSpec` against a deliberately double-delivered directory.
  */
object DedupStream {
  /** Drop in-horizon duplicate event ids over a µs-TimestampType `ts`
    * (see [[EventStream.readEvents]]). Same logic batch & stream (batch
    * ignores the watermark and `dropDuplicatesWithinWatermark`
    * degenerates to `dropDuplicates`). */
  def dedupped(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run to completion over the current directory contents. Append
    * mode: dedup is row-wise (no windows to hold open), so rows emit as
    * soon as they are first seen. */
  def runAvailableNow(spark: org.apache.spark.sql.SparkSession, dir: String,
                      sinkTable: String): DataFrame =
    Drain.toMemory(dedupped(EventStream.readEvents(spark, dir,
      glob = "*.parquet")), "append", sinkTable)
}
