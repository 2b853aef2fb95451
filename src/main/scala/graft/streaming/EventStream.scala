package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table (engine extension —
  * SURVEY.md §2.9/§7.5: the reference has no streaming; this is the
  * Spark-native shape a continuously-ingesting deployment would run).
  *
  * The transformation is shared between batch and stream: tumbling
  * 1-hour windows per event type with a 2-hour watermark. Run with the
  * `availableNow` trigger it processes a static directory incrementally
  * and terminates — which is how `EventStreamSpec` asserts stream ≡
  * batch on the same input.
  *
  * Scale: stateful window agg keyed by (window, event_type) — state
  * store size is O(active windows × types), bounded by the watermark;
  * shuffle partitioning on the group key is exactly the batch plan's.
  */
object EventStream {
  /** Raw streaming-read schema: `ts` declared LongType so the reader
    * surfaces the column's physical int64 whatever the file's logical
    * timestamp annotation is ([[rawTsDivisor]] recovers the unit). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** ns-per-µs divisor for the raw int64 `ts` of the events files under
    * `dir`: the unit depends on how the writer annotated the column —
    * TIMESTAMP(NANOS) surfaces to the BATCH reader as a nanos-long
    * (`spark.sql.legacy.parquet.nanosAsLong`, divisor 1000), while a
    * native TIMESTAMP(MICROS) column surfaces to the batch reader as a
    * real TimestampType but reads through [[rawSchema]]'s LongType as
    * raw µs (divisor 1). Probed from the footer (a schema-only batch
    * read), never hardcoded: the testdata generator has shipped both
    * encodings across rounds. */
  def rawTsDivisor(spark: SparkSession, dir: String,
                   glob: String = "events.parquet"): Long =
    spark.read.option("pathGlobFilter", glob).parquet(dir)
      .schema("ts").dataType match {
      case LongType => 1000L
      case _        => 1L
    }

  /** Window-aggregate over a µs-TimestampType `ts` (see [[readEvents]]);
    * identical logic for batch & stream. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("n_events"))

  /** Open the events parquet as a stream ([[Drain.read]]) with `ts`
    * normalized to a µs TimestampType — the contract every transform in
    * `streaming/` expects. */
  def readEvents(spark: SparkSession, sfDir: String,
                 glob: String = "events.parquet"): DataFrame = {
    val div = rawTsDivisor(spark, sfDir, glob)
    Drain.read(spark, sfDir, rawSchema, glob)
      .withColumn("ts", timestamp_micros(expr(s"ts div $div")))
  }

  /** Native SESSION windows on the stream — the streaming twin of the
    * batch `e10_session_window` query and the declarative counterpart
    * of [[Sessionize]]'s custom-state shape: `session_window` under a
    * watermark lets the state store merge gap-overlapping sessions per
    * key and EVICT a session once the watermark passes its close —
    * state is O(open sessions), the built-in bound that
    * flatMapGroupsWithState needs hand-written timeout logic for.
    * Identical logic batch & stream; `EventStreamSpec` pins stream ≡
    * the e10 batch query. */
  def sessionAggs(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("sess_start"),
        col("n_events"))

  /** [[sessionAggs]] drained availableNow into a memory sink. */
  def runSessionsAvailableNow(spark: SparkSession, sfDir: String,
                              sinkTable: String): DataFrame =
    Drain.toMemory(sessionAggs(readEvents(spark, sfDir)), "complete",
      sinkTable)

  /** Run to completion over the current directory contents
    * (availableNow), collecting results via an in-memory sink table. */
  def runAvailableNow(spark: SparkSession, sfDir: String,
                      sinkTable: String): DataFrame =
    Drain.toMemory(hourlyCounts(readEvents(spark, sfDir)),
      // complete, not append: with a static input processed availableNow,
      // append-mode would hold every window open until a later batch's
      // watermark closes it and emit nothing.
      "complete", sinkTable)
}
