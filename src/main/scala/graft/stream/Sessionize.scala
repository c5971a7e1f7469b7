package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Sessionization — the canonical custom-state streaming operator the
  * reference lacks (SURVEY §2.6 "absent features"): group a user's events
  * into sessions separated by inactivity gaps.
  *
  * Two implementations with identical semantics:
  *  - `batch`: lag-window + cumulative-sum session ids — declarative, one
  *    shuffle on the user key, oracle-checkable in SQL.
  *  - `streamTws`: `transformWithState` keeping (start, last, count) per
  *    user; a session is emitted when a later event opens the next one,
  *    or when the watermark passes its gap. State is O(1) per active key
  *    — the scale-safe shape for unbounded streams.
  */
object Sessionize {

  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long)

  /** Batch flavor over (user_id, ts_ms [, tiebreak id]) columns. */
  def batch(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val newSession = when(
      lag(col("ts_ms"), 1).over(byUser).isNull ||
        col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > gapMs, 1L).otherwise(0L)
    events
      .withColumn("_new", newSession)
      .withColumn("session_seq", sum(col("_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .drop("session_seq")
  }

  /** Streaming flavor (transformWithState, the arbitrary-state API that
    * supersedes flatMapGroupsWithState): the batch fold run per key,
    * plus an EVENT-TIME TIMER at `session_end + gap` so an idle session
    * flushes when the watermark passes its gap — closing a session only
    * when its successor arrives would leave the session (and its state)
    * of a user who never returns stranded forever. Timers make state
    * O(1) per ACTIVE key rather than per key ever seen.
    *
    * Input: (user_id, ts) with `ts` a watermarked timestamp column.
    * Requires the RocksDB state store provider (the only provider that
    * implements transformWithState's column-family state layout).
    */
  def streamTws(events: DataFrame, gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The per-key processor: one ValueState holding the open session, one
    * registered timer holding its flush deadline. Every input batch
    * re-arms the timer to the new session end; an expired timer emits and
    * clears — after which the key holds NO state at all.
    */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), Session] {

    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[Session] = {
      val times = rows.map(_._2.getTime).toSeq.sorted
      var st = if (session.exists()) Some(session.get()) else None
      val closed = Seq.newBuilder[Session]
      times.foreach { t =>
        st match {
          case Some(s) if t - s.last <= gapMs =>
            st = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
          case Some(s) =>
            closed += Session(user, s.start, s.last, s.n)
            st = Some(SessionState(t, t, 1))
          case None =>
            st = Some(SessionState(t, t, 1))
        }
      }
      st.foreach { s =>
        session.update(s)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.last + gapMs)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      // A stale timer (re-armed after this one was scheduled) can still
      // fire in the same batch that armed its replacement; only flush if
      // the session is genuinely idle at this expiry.
      if (session.exists()) {
        val s = session.get()
        if (expiredTimerInfo.getExpiryTimeInMs >= s.last + gapMs) {
          session.clear()
          Iterator.single(Session(user, s.start, s.last, s.n))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** transformWithState with MAP state: per-user running counts keyed by a
    * SECONDARY key (event_type) inside the keyed state. MapState stores
    * each (user, type) entry as its own state-store key, so updating one
    * type does NOT rewrite the user's whole map — the difference that
    * matters when the secondary key space is wide (per-user feature
    * counters, per-user per-item engagement at 100 TB/day), where a
    * ValueState[Map] would serialize the full map on every event.
    *
    * Emits the updated running count for each (user, type) touched by the
    * batch (update-style output on an append-mode TWS operator).
    */
  def streamTypeCounts(events: DataFrame): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  class TypeCountProcessor
      extends StatefulProcessor[Long, (Long, String), TypeCount] {

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val increments = rows.map(_._2).toSeq.groupBy(identity)
      increments.toSeq.sortBy(_._1).map { case (tpe, hits) =>
        val n = (if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L) +
          hits.size
        counts.updateValue(tpe, n)
        TypeCount(user, tpe, n)
      }.iterator
    }
  }
}
