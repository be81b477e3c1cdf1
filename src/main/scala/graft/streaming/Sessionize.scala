package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-timeout sessionization of the event stream — the canonical stateful
  * operator a training-data pipeline needs (grouping user activity into
  * sessions for sequence construction).
  *
  * Two implementations with identical semantics:
  *  - batch: lag + running-sum windows partitioned by user (one shuffle on
  *    user_id, scalable — sessions never materialize per-group state);
  *  - streaming: `flatMapGroupsWithState` keyed by user with event-time gap
  *    state, for continuous ingestion.
  */
object Sessionize {

  /** Batch sessionization. A session breaks when the gap to the previous
    * event exceeds `gapMinutes`. `tieBreak` makes simultaneous events
    * deterministic.
    *
    * Scale note: the windows partition by user, so one user's history is
    * sequential by construction (sessionization is an inherently ordered
    * per-key computation). A single key holding a data-center-sized share
    * of events (bot traffic) serializes into one task — filter or cap such
    * keys upstream (`filter_rows` / `stratified_cap`); they are noise for
    * training-data purposes anyway.
    */
  def batch(events: DataFrame, gapMinutes: Int, tieBreak: String = "event_id"): DataFrame = {
    val ts = col("ts").cast("timestamp")
    // order by the SAME casted ts the gap math uses: ordering the raw column
    // would sessionize string-typed ts inputs in lexical order
    val order = Seq(ts, col(tieBreak))
    val w = Window.partitionBy("user_id").orderBy(order: _*)
    val prev = lag(ts, 1).over(w)
    val isNew = when(prev.isNull ||
      (unix_micros(ts) - unix_micros(prev)) > gapMinutes * 60L * 1000000L, 1).otherwise(0)
    events
      .withColumn("__new", isNew)
      .withColumn("session_idx",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(ts).as("start_ts"),
        max(ts).as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
  }

  final case class Ev(user_id: Long, ts: Timestamp, event_id: Long, value: Double)

  /** Full-precision epoch micros. `Timestamp.getTime` truncates to millis —
    * gap math on it would diverge from the batch `unix_micros` comparison
    * whenever a gap falls within 1 ms of the boundary (the synthetic events
    * carry sub-millisecond components on ~every row).
    */
  private def epochMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  final case class SessionState(lastTs: Long, sessionIdx: Long)
  final case class SessionOut(user_id: Long, session_idx: Long, start_ts: Timestamp,
      end_ts: Timestamp, n_events: Long, sum_value: Double)
  final case class OpenSession(sessionIdx: Long, startMs: Long, endMs: Long,
      n: Long, sum: Double)

  /** Streaming sessionization emitting PER-BATCH PARTIAL session aggregates
    * (append mode): a session spanning micro-batches emits one partial row
    * per batch, all carrying the same (user_id, session_idx) so downstream
    * can re-aggregate; an event continuing a prior batch's session opens a
    * continuation partial under the inherited index (it must not vanish —
    * an earlier version dropped exactly those rows). For closed-exactly-once
    * sessions use [[streamingWithTimeout]].
    */
  def streaming(events: Dataset[Ev], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, evs, state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur: Option[SessionOut] = None
          sorted.foreach { e =>
            val tsMicros = epochMicros(e.ts)
            // abs: a cross-batch straggler far BEFORE the stored last event
            // must also break the session, not silently merge into it
            val isNew = st.lastTs == Long.MinValue ||
              math.abs(tsMicros - st.lastTs) > gapMicros
            if (isNew) {
              cur.foreach(sessions += _)
              st = SessionState(tsMicros, st.sessionIdx + 1)
              cur = Some(SessionOut(userId, st.sessionIdx, e.ts, e.ts, 1L, e.value))
            } else {
              st = SessionState(tsMicros, st.sessionIdx)
              cur = cur match {
                case Some(s) => Some(s.copy(end_ts = e.ts, n_events = s.n_events + 1,
                  sum_value = s.sum_value + e.value))
                // continuation of a session opened in a PREVIOUS batch:
                // start a partial under the inherited session index
                case None => Some(SessionOut(userId, st.sessionIdx, e.ts, e.ts, 1L, e.value))
              }
            }
          }
          cur.foreach(sessions += _)
          state.update(st)
          sessions.iterator
      }
  }

  /** Watermark-closed streaming sessionization — the production shape: state
    * holds at most the one OPEN session per user; sessions broken by an
    * in-batch gap emit immediately, and the open session emits via EVENT-TIME
    * TIMEOUT once the watermark passes `end + gap`, so every session closes
    * exactly once even when its user goes quiet across micro-batches, and
    * state for idle users is evicted (bounded state at any key cardinality —
    * the property the NoTimeout variant above lacks).
    *
    * `watermarkDelay` is the late-data tolerance (independent of the session
    * gap). Events later than the watermark may be dropped by the engine.
    * Session indices restart after an eviction; only (start,end,n,sum)
    * identity is contractual.
    *
    * State-store sizing: the operator is store-agnostic, but at high key
    * cardinality (10⁷-10⁸ concurrent users) configure the RocksDB provider —
    * the default HDFS-backed store keeps every state row ON-HEAP per
    * executor, while RocksDB holds state off-heap + on local disk so heap
    * stays bounded by the working set, not the user count:
    * {{{
    * spark.sql.streaming.stateStore.providerClass=
    *   org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    * }}}
    * Evidence at 1M concurrent users (open → extend → timeout-close, state
    * fully evicted): SMOKE.md "Streaming sessionization at 1M-user state";
    * StreamingSpec runs the same shape under RocksDB at test scale.
    */
  def streamingWithTimeout(events: Dataset[Ev], gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    def emit(userId: Long, s: OpenSession): SessionOut =
      SessionOut(userId, s.sessionIdx, new Timestamp(s.startMs), new Timestamp(s.endMs),
        s.n, s.sum)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, evs, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val closed = emit(userId, state.get)
            state.remove()
            Iterator(closed)
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val done = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var open = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              open = open match {
                // in-watermark out-of-order event within the gap on EITHER
                // side: merge, growing the session in both directions
                case Some(s) if t >= s.startMs - gapMs && t - s.endMs <= gapMs =>
                  Some(s.copy(startMs = math.min(s.startMs, t),
                    endMs = math.max(s.endMs, t), n = s.n + 1, sum = s.sum + e.value))
                // straggler far BEFORE the open session: emit it as its own
                // closed single-event session (single-open-session state
                // cannot reopen history; session indices are not contractual)
                case Some(s) if t < s.startMs - gapMs =>
                  done += emit(userId, OpenSession(s.sessionIdx, t, t, 1, e.value))
                  Some(s)
                case Some(s) =>
                  done += emit(userId, s)
                  Some(OpenSession(s.sessionIdx + 1, t, t, 1, e.value))
                case None =>
                  Some(OpenSession(1, t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // clamp: flatMapGroupsWithState does NOT pre-filter late rows,
              // and a timeout at/below the current watermark throws — a late
              // straggler closing below the horizon times out immediately
              // on the next batch instead of killing the query
              state.setTimeoutTimestamp(
                math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            done.iterator
          }
      }
  }
}
