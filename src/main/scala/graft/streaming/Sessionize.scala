package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user state carried across micro-batches: timestamp of the last
  * event seen and running session/event counts. */
case class SessionState(lastTsMicros: Long, sessions: Long, events: Long)

/** Output row: session statistics per user. */
case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

/** Stateful streaming sessionization — the custom-state counterpart of
  * the batch `e02_sessionize` query (30-minute inactivity gap), built on
  * `KeyValueGroupedDataset.flatMapGroupsWithState` (SURVEY.md §7.5 /
  * builder brief: Structured Streaming with custom state).
  *
  * State is O(1) per active user (last-seen timestamp + two counters) —
  * the state store scales with user cardinality, not event volume, which
  * is the shape that survives an unbounded stream. Events within a
  * micro-batch are sorted by (ts, event_id) before folding; across
  * batches the file source's chronological batching plus the carried
  * `lastTsMicros` keeps gap detection exact as long as batches respect
  * event-time order per user (true for the availableNow replay of a
  * sorted log; a production deployment would add a watermark + per-user
  * buffer for out-of-order arrival).
  */
object Sessionize {
  val GapMicros: Long = 1800L * 1000000L

  /** Core fold, shared by batch and streaming invocations. */
  def sessionize(events: DataFrame): Dataset[UserSessions] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[SessionState]) =>
          val evs = it.toVector.sortBy(e => (e._2, e._3))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          evs.foreach { case (_, ts, _) =>
            val newSession =
              st.lastTsMicros == Long.MinValue || ts - st.lastTsMicros > GapMicros
            st = SessionState(ts,
              st.sessions + (if (newSession) 1L else 0L), st.events + 1L)
          }
          state.update(st)
          Iterator.single(UserSessions(user, st.sessions, st.events))
      }
  }

  /** Run over the static events directory with availableNow, collecting
    * the final per-user rows via an in-memory sink. */
  def runAvailableNow(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                      sinkTable: String): DataFrame = {
    // update-mode memory sink appends one row per user per batch — keep
    // the final (highest-event-count) row per user.
    Drain.toMemory(sessionize(EventStream.readEvents(spark, sfDir)),
        "update", sinkTable)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("m"))
      .select(col("user_id"), col("m.n_sessions").as("n_sessions"),
        col("m.n_events").as("n_events"))
  }
}
