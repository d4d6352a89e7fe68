package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.TemporalQueries.{AnomalyMaxCents, AnomalyWindow}

/** Streaming twins of the temporal batch operators (§2.61/§2.62) — the
  * form they take when the observations arrive as a CDC-ordered stream
  * instead of a table: per-key state carries exactly the trailing
  * window the batch frame declares, so the streaming flags equal the
  * batch gate's on the same data (StreamingAnomalySpec asserts it).
  *
  * Ordering contract: batches must deliver each key's observations in
  * non-decreasing event time ACROSS batches (within a batch any order
  * — each batch sorts per key). The engine's CDC sources satisfy this
  * by construction: commit-SCN-ordered emission (T3) is the property
  * that makes every downstream temporal operator well-defined.
  *
  * Each operator is a `StatefulProcessor` on `transformWithState`, so it
  * needs the RocksDB state-store provider [[graft.GraftSession.build]]
  * sets. A checkpoint written by these operators before they moved to
  * `transformWithState` (from the older group-state API) does not
  * restart on them: such a query starts on a new checkpoint.
  */
object TimeSeriesStreams {

  /** One observation: event id, key, event-time micros, cent-scaled
    * value (the §2.62 integer-exact domain).
    */
  case class Obs(eventId: Long, userId: Long, tsMicros: Long, x: Long)

  /** The flag row the batch gate emits: trailing count + 3σ verdict. */
  case class AnomalyFlag(eventId: Long, userId: Long, n: Long,
      anomaly: Boolean)

  /** Per-key trailing window (≤ `AnomalyWindow` most recent observations). */
  case class TrailState(obs: Seq[(Long, Long, Long)]) // (ts, eventId, x)

  /** One raw observation for gap-fill: key, event-time micros, event
    * id (the within-day tiebreak), carried value. `tsMicros ==
    * Long.MaxValue` is the FLUSH sentinel: it closes the key's open
    * day (emitting it) and tombstones the state — the signal a source
    * sends at shutdown, or a watermark-driven wrapper sends when a key
    * goes quiet. A key may keep observing after a flush: later days
    * continue the grid off the tombstone's carrier (matching what the
    * batch gate computes over the union of the data), the flushed day
    * is never re-emitted, and same-or-earlier days throw.
    */
  case class GapObs(userId: Long, tsMicros: Long, eventId: Long,
      value: Double)

  /** One resampled grid day (`q_ts_gapfill`'s row): epoch day, the
    * day's last observation (or the forward-filled carrier), and
    * whether the day was empty and filled.
    */
  case class DayFill(userId: Long, day: Long, value: Double,
      filled: Boolean)

  /** The open day per key: the best (max (ts, eventId)) observation of
    * the most recent day seen — emitted only when a LATER day's
    * observation (or a flush) proves the day complete. After a flush
    * the state stays as a TOMBSTONE (`emitted = true`) carrying the
    * forward-fill value: a key that wakes up later continues its grid
    * (gap days filled from the carrier, the flushed day never
    * re-emitted) instead of silently restarting it, and late data for
    * an already-emitted day still trips the loud ordering guard.
    */
  case class GapState(day: Long, ts: Long, eventId: Long, value: Double,
      emitted: Boolean)

  /** End-of-key flush marker for [[gapFillStream]]. */
  def gapFlush(userId: Long): GapObs =
    GapObs(userId, Long.MaxValue, 0L, 0.0)

  /** Gap-fill + forward-fill resampling over a stream — the
    * `q_ts_gapfill` semantics (per key, the LAST observation of each
    * day lands on a contiguous daily grid; empty days carry the
    * previous value, marked `filled`) with O(1) state per key: just
    * the open day's best observation. A day is emitted exactly once,
    * the moment an observation of a later day closes it — the hard
    * half is the batch boundary: a day whose observations SPAN
    * micro-batches must keep absorbing updates until genuinely closed,
    * and the forward-fill carrier must survive restarts, both of which
    * the state store provides. Late data (an observation for a day
    * already closed) violates the ordering contract and throws rather
    * than silently rewriting emitted history.
    *
    * State bound: one row per ever-flushed key (the tombstone carrier)
    * — exact grid continuity costs that. With no timers there is no
    * expiry hook; a long-lived stream with unbounded one-shot key churn
    * should use [[gapFillStreamWatermarked]] with `tombstoneTtlDays`,
    * which expires quiet carriers off the event-time clock.
    */
  def gapFillStream(events: Dataset[GapObs]): Dataset[DayFill] =
    gapFill(events, TimeMode.None(), 0L)

  /** [[gapFillStream]] with WATERMARK-driven day closure — the fully
    * production shape: no explicit flush sentinel; a key's open day
    * closes (emits) when the stream's event-time watermark passes the
    * end of that day, via an event-time timer on the key.
    * The caller declares lateness tolerance once with
    * `withWatermark(eventTimeCol, delay)` on the input; this wrapper
    * derives the column from `tsMicros` and applies the given delay.
    *
    * Two semantic differences from the sentinel variant, both inherent
    * to watermarking: (a) a day can close BEFORE the key's next
    * observation arrives, so the forward-fill of the gap days up to
    * that next observation happens when it arrives (output content is
    * identical — only emission time differs); (b) an observation older
    * than the watermark (every already-closed day is) is LATE DATA past
    * the declared tolerance: Spark drops it before the processor sees
    * it, so it is neither emitted nor thrown, and the query progress
    * counts it in `stateOperators(0).numRowsDroppedByWatermark`. An
    * observation inside the tolerance but before the key's open day
    * still reaches the processor and throws, as the sentinel variant's
    * guard does.
    *
    * The flush sentinel (`tsMicros == Long.MaxValue`, [[gapFlush]]) is
    * the SENTINEL variant's protocol and is REJECTED here loudly: the
    * watermark owns day closure, and a sentinel flowing through the
    * day math would compute day ≈ 1.07e11 and forward-fill ~10^11 grid
    * rows — a hang, not an error. A caller switching variants on the
    * same input stream must strip its flush markers.
    *
    * `tombstoneTtlDays` bounds state for quiet keys: a closed key's
    * tombstone (the forward-fill carrier) is dropped `tombstoneTtlDays`
    * event-time days after its last closed day, after which the key's
    * grid RESTARTS at its next observation (gap days between the
    * dropped tombstone and the new observation are not filled). 0 (the
    * default) keeps tombstones forever — exact grid continuity at the
    * cost of one small state row per ever-seen key; set a horizon on
    * long-lived streams with unbounded key churn.
    */
  def gapFillStreamWatermarked(events: Dataset[GapObs],
      delay: String = "0 seconds",
      tombstoneTtlDays: Long = 0L): Dataset[DayFill] = {
    // bounded so (day + ttl) · 86400000 cannot overflow the timer's
    // epoch-ms domain (an overflowed negative instant would expire the
    // carrier immediately — the opposite of asking for a long TTL)
    require(tombstoneTtlDays >= 0 && tombstoneTtlDays <= 100_000_000L,
      s"tombstoneTtlDays out of range: $tombstoneTtlDays")
    gapFill(events.withColumn("eventTime", timestamp_micros(col("tsMicros")))
      .withWatermark("eventTime", delay).as[GapObs](Encoders.product[GapObs]),
      TimeMode.EventTime(), tombstoneTtlDays)
  }

  private def gapFill(events: Dataset[GapObs], closure: TimeMode,
      tombstoneTtlDays: Long): Dataset[DayFill] =
    events.groupByKey(_.userId)(Encoders.scalaLong)
      .transformWithState(new GapFillProcessor(closure, tombstoneTtlDays),
        closure, OutputMode.Append())(Encoders.product[DayFill])

  /** Rolling 3σ anomaly flags over a stream — the `q_ts_anomaly`
    * semantics ((nx−S)² > 9(nΣx²−S²) on the trailing `AnomalyWindow`
    * observations, integer-exact) with the trailing window held in the
    * state store per key: O(window) state per key forever, flags
    * emitted exactly once per observation (append mode). A value with
    * |x| ≥ 2^27 cents throws, as the batch gate raises: beyond it the
    * longs of the rule would wrap silently.
    */
  def anomalyStream(events: Dataset[Obs]): Dataset[AnomalyFlag] =
    events.groupByKey(_.userId)(Encoders.scalaLong)
      .transformWithState(new AnomalyProcessor, TimeMode.None(),
        OutputMode.Append())(Encoders.product[AnomalyFlag])

  /** Gap fill's one state machine. `closure`, the time mode the entry
    * point runs it under, picks what besides a later day closes an open
    * day: the flush sentinel (`None`) or a timer at the day's end
    * (`EventTime`, which rejects the sentinel). A key holds at most one
    * timer, the open day's end or the tombstone's expiry.
    */
  private class GapFillProcessor(closure: TimeMode, tombstoneTtlDays: Long)
    extends StatefulProcessor[Long, GapObs, DayFill] {

    @transient private var open: ValueState[GapState] = _

    private val DayMs = 86400000L
    // epoch-day ceiling (~year 275 000, the timestamp type's own): past it
    // a corrupt tsMicros would have the forward-fill bridge ~10^11 rows
    private val MaxSaneDay = 100000000L

    private val watermarked = closure == TimeMode.EventTime()
    private val variant =
      if (watermarked) "gapFillStreamWatermarked" else "gapFillStream"

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState("open", Encoders.product[GapState],
        TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[GapObs],
        timerValues: TimerValues): Iterator[DayFill] = {
      var p = if (open.exists()) Some(open.get()) else None
      val out = ArrayBuffer.empty[DayFill]
      rows.toArray.sortBy(o => (o.tsMicros, o.eventId))
        .foreach(o => p = step(user, p, o, out))
      p.foreach { s =>
        open.update(s)
        if (watermarked) arm((s.day + 1) * DayMs, timerValues)
      }
      out.iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[DayFill] = {
      val p = open.get()
      if (p.emitted) {
        // the tombstone's TTL ran out: drop the carrier
        open.clear()
        Iterator.empty
      } else {
        // the watermark passed the open day's end: emit it, keep the carrier
        open.update(p.copy(emitted = true))
        if (tombstoneTtlDays > 0)
          arm((p.day + 1 + tombstoneTtlDays) * DayMs, timerValues)
        Iterator.single(DayFill(user, p.day, p.value, filled = false))
      }
    }

    /** Makes `atMs` (watermark + 1 once the watermark passed it) the key's
      * only timer: a stale day-end timer would close a later day early.
      */
    private def arm(atMs: Long, timerValues: TimerValues): Unit = {
      val at = math.max(atMs, timerValues.getCurrentWatermarkInMs() + 1)
      val stale = getHandle.listTimers().toList.filter(_ != at)
      stale.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(at)
    }

    /** The key's open day after `o`; the days `o` closes go to `out`. */
    private def step(user: Long, open: Option[GapState], o: GapObs,
        out: ArrayBuffer[DayFill]): Option[GapState] =
      if (o.tsMicros == Long.MaxValue) {
        if (watermarked) throw new IllegalStateException(
          s"$variant: key $user received the flush " +
            "sentinel (tsMicros = Long.MaxValue) — that is the " +
            "sentinel variant's protocol; here the watermark closes " +
            "days, and the sentinel would forward-fill ~10^11 grid " +
            "days. Strip gapFlush() markers before this operator.")
        // flush: close and emit the open day; keep a tombstone so a
        // post-flush wake-up continues the grid rather than silently
        // restarting it (a second flush is a no-op)
        open.map { p =>
          if (!p.emitted) out += DayFill(user, p.day, p.value, filled = false)
          p.copy(emitted = true)
        }
      } else {
        val d = Math.floorDiv(o.tsMicros, DayMs * 1000L)
        if (d > MaxSaneDay) throw new IllegalStateException(
          s"$variant: key $user observation at tsMicros=${o.tsMicros} (epoch " +
            s"day $d, past year ~275000) — corrupt event time; forward-" +
            "filling to it would emit a grid row per intervening day")
        val observed = Some(GapState(d, o.tsMicros, o.eventId, o.value,
          emitted = false))
        open match {
          case None => observed
          case Some(p) if d == p.day && !p.emitted =>
            // same day still open: keep the LAST observation
            // (max (ts, eventId) — the batch gate's max_by)
            if (o.tsMicros > p.ts ||
              (o.tsMicros == p.ts && o.eventId > p.eventId)) observed
            else open
          case Some(p) if d > p.day =>
            // later day arrived: close the open day (already done if a
            // flush or timer tombstoned it), forward-fill up to d
            if (!p.emitted) out += DayFill(user, p.day, p.value, filled = false)
            for (g <- p.day + 1 until d)
              out += DayFill(user, g, p.value, filled = true)
            observed
          case Some(p) => throw new IllegalStateException(
            s"$variant: key $user received day $d, not after its latest day " +
              s"${p.day} — " + (if (watermarked) "out of event-time order " +
              "for this key within the watermark tolerance" else "sources must deliver " +
              "each key in non-decreasing event time across batches (T3), " +
              "and a flushed day cannot reopen"))
        }
      }
  }

  /** [[TimeSeriesStreams.anomalyStream]]'s per-key trailing window. */
  private class AnomalyProcessor
    extends StatefulProcessor[Long, Obs, AnomalyFlag] {

    @transient private var trail: ValueState[TrailState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      trail = getHandle.getValueState("trail", Encoders.product[TrailState],
        TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[AnomalyFlag] = {
      var hist = if (trail.exists()) trail.get().obs else Seq.empty
      val out = rows.toArray.sortBy(o => (o.tsMicros, o.eventId)).map { o =>
        require(-AnomalyMaxCents < o.x && o.x < AnomalyMaxCents,
          s"anomalyStream: key $user event ${o.eventId} has x = ${o.x} " +
            "cents; |x| >= 2^27 cents breaks integer-exact arithmetic")
        val n = hist.size.toLong
        val s = hist.iterator.map(_._3).sum
        val q = hist.iterator.map(h => h._3 * h._3).sum
        val d = n * o.x - s
        val anom = n >= 3 && d * d > 9L * (n * q - s * s)
        hist = (hist :+ ((o.tsMicros, o.eventId, o.x))).takeRight(AnomalyWindow)
        AnomalyFlag(o.eventId, user, n, anom)
      }
      trail.update(TrailState(hist))
      out.iterator
    }
  }
}
