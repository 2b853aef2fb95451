package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked STREAM-STREAM interval join (engine extension, SURVEY.md
  * §2.9/§7.5): view → purchase attribution as two live event streams —
  * the one streaming shape the rest of the catalog didn't yet exercise
  * (EventStream: stateful window agg; Sessionize: custom state;
  * DedupStream: watermarked dedup; CurateStream: stream-static join;
  * SketchStream: sketch state).
  *
  * Both sides carry an event-time watermark and the join condition
  * bounds each side's match window in the other's time
  * (`v_ts < p_ts ≤ v_ts + 30 min`), which is exactly what lets Spark
  * age state out: a buffered view can be dropped once the purchase
  * watermark passes its upper bound, and vice versa — state is
  * O(events in the watermark horizon), not O(stream length). Without
  * the range bound the state store would grow forever; that contract
  * is the whole design, so this operator never offers an unbounded
  * variant.
  *
  * Output is identical to the batch interval join
  * (`e09_interval_join`, `ops/Events.scala`) on the same input —
  * pinned by `JoinStreamSpec` — so the DuckDB oracle that covers e09
  * covers this path's semantics too, same pattern as every other
  * stream≡batch pair in `streaming/`.
  */
object JoinStream {
  /** The attribution join; identical logic batch & stream. Inputs are
    * event frames with a µs-TimestampType `ts` (see
    * [[EventStream.readEvents]]); output matches e09's schema:
    * `(view_id, pur_id, user_id, delay_s)`. */
  def attributed(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views
      .withColumn("v_ts", col("ts"))
      .withWatermark("v_ts", "1 hour")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("v_ts"))
    val p = purchases
      .withColumn("p_ts", col("ts"))
      .withWatermark("p_ts", "1 hour")
      .select(col("event_id").as("pur_id"), col("user_id").as("p_user"),
        col("p_ts"))
    v.join(p,
        expr("v_user = p_user AND p_ts > v_ts AND " +
          "p_ts <= v_ts + interval 30 minutes"))
      .select(col("view_id"), col("pur_id"), col("v_user").as("user_id"),
        expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000")
          .as("delay_s"))
  }

  /** Run to completion over the current directory contents: one parquet
    * stream per side, filtered by event type. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      sinkTable: String): DataFrame = {
    def side(eventType: String): DataFrame =
      EventStream.readEvents(spark, dir)
        .filter(col("event_type") === eventType)
    Drain.toMemory(attributed(side("view"), side("purchase")), "append",
      sinkTable)
  }
}
