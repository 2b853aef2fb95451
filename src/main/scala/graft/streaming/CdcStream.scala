package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Latest surviving row per key, carried across micro-batches. */
case class CdcState(us: Long, eventId: Long, eventType: String, value: Double)

/** Output row: the compacted state of one key (absent if tombstoned). */
case class CdcRow(user_id: Long, last_event_id: Long, last_us: Long,
                  last_value: Double)

/** Streaming CDC changelog compaction — the continuously-maintained
  * twin of the batch `e17_cdc_merge` query: each event upserts its
  * user's materialized row, an `error` event tombstones it, and the
  * winner is the max-(event-time, event_id) record seen so far.
  *
  * This is the Kafka-compacted-topic / Delta MERGE materialization as a
  * `flatMapGroupsWithState` fold: state is O(1) per key (the single
  * surviving record), so the state store scales with KEY cardinality,
  * not changelog volume — the only shape that survives an unbounded
  * log. Late or replayed rows inside a micro-batch fold through the
  * same max-(us, id) comparison the batch window uses, so re-delivery
  * cannot regress the materialized row.
  *
  * Batch equivalence: over the static events directory (availableNow)
  * the emitted set equals e17's rank-then-filter exactly — asserted by
  * `CdcStreamSpec`, including keys ERASED by a trailing tombstone
  * (the fold still updates state but emits nothing for them).
  */
object CdcStream {
  /** Core fold, shared by batch and streaming invocations. Expects a
    * TIMESTAMP `ts` column. */
  def compact(events: DataFrame): Dataset[CdcRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[CdcState]) =>
          var st = state.getOption.orNull
          it.foreach { case (_, eid, us, typ, v) =>
            if (st == null || us > st.us || (us == st.us && eid > st.eventId))
              st = CdcState(us, eid, typ, v)
          }
          state.update(st)
          if (st.eventType == "error") Iterator.empty
          else Iterator.single(CdcRow(user, st.eventId, st.us, st.value))
      }
  }

  /** Run over the static events directory with availableNow, collecting
    * the materialized rows via an in-memory sink. */
  def runAvailableNow(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                      sinkTable: String): DataFrame =
    Drain.toMemory(compact(EventStream.readEvents(spark, sfDir)), "update",
      sinkTable)
}
