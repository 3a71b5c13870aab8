package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

/** Event-time streaming operators over the `events` schema
  * (event_id, user_id, event_type, value, ts). The reference only has
  * processing-time cron cadence (SURVEY.md §2.9); these are the
  * event-time primitives the north-star surface adds: watermarked
  * tumbling-window aggregation and custom sessionization state via
  * `mapGroupsWithState`.
  *
  * Scale notes: both shapes keyed by (window,type) / user_id shuffle
  * once onto the state store; watermark bounds state size — without it
  * an out-of-order 100 TB stream accretes unbounded window state.
  */
object EventStream {

  case class Event(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: Timestamp)

  case class SessionUpdate(user_id: Long, n_events: Int, total_value: Double,
      session_start: Timestamp, session_end: Timestamp, closed: Boolean)

  case class SessionState(n: Int, total: Double, startMs: Long, lastMs: Long)

  /** Tumbling 1-hour windows with a 2-hour watermark: counts and sums
    * per (window, event_type); late data beyond the watermark is
    * dropped instead of growing state forever.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Session gap in event time that closes a user session. */
  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Custom sessionization: per-user state via flatMapGroupsWithState
    * with event-time timeout. The batch's events are folded one at a
    * time in event-time order, so a gap > SessionGapMs WITHIN one
    * micro-batch (replay/backfill) closes the running session and
    * starts a new one — two far-apart events never fuse just because
    * they arrived together. Emits every session closed by an
    * intra-batch gap (`closed=true`), then the still-open session
    * (`closed=false`); the gap timeout firing with no new events also
    * emits `closed=true`.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.n, s.total,
              new Timestamp(s.startMs), new Timestamp(s.lastMs), closed = true))
          } else {
            val closedSessions = List.newBuilder[SessionUpdate]
            var cur = state.getOption
            it.toSeq.sortBy(_.ts.getTime).foreach { ev =>
              val t = ev.ts.getTime
              cur match {
                case Some(p) if t - p.lastMs <= SessionGapMs =>
                  cur = Some(SessionState(p.n + 1, p.total + ev.value,
                    p.startMs, math.max(p.lastMs, t)))
                case Some(p) => // intra-batch gap: close and restart
                  closedSessions += SessionUpdate(userId, p.n, p.total,
                    new Timestamp(p.startMs), new Timestamp(p.lastMs), closed = true)
                  cur = Some(SessionState(1, ev.value, t, t))
                case None =>
                  cur = Some(SessionState(1, ev.value, t, t))
              }
            }
            cur.foreach { merged =>
              state.update(merged)
              state.setTimeoutTimestamp(merged.lastMs + SessionGapMs)
            }
            closedSessions.result().iterator ++ cur.map(m =>
              SessionUpdate(userId, m.n, m.total,
                new Timestamp(m.startMs), new Timestamp(m.lastMs),
                closed = false)).iterator
          }
      }
  }

  /** Batch analogue of `hourlyCounts` (same plan minus the watermark) —
    * lets the DuckDB oracle pin the aggregation semantics that the
    * streaming form must reproduce per window close.
    */
  def hourlyCountsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))

  case class AsofAttribution(user_id: Long, purchase_id: Long, p_ts_ms: Long,
      click_id: Long, click_ts_ms: Long, lag_ms: Long)

  case class LastClick(clickId: Long, clickMs: Long)

  /** Streaming as-of attribution with O(1) state per user — the
    * streaming form of the batch `evt_asof` query (purchase → latest
    * click at-or-before it in the (ts_ms, event_id) total order, -1
    * sentinels when none). Within a micro-batch a user's events fold
    * in that total order, so intra-batch disorder is absorbed exactly
    * like the batch window; across batches only the LAST click
    * survives in state — constant bytes per user forever, the state
    * bound a 100 TB/day attribution stream actually needs (state
    * cardinality = users, not events). The trade, stated: a click
    * arriving in a LATER micro-batch than a purchase it should have
    * attributed cannot retro-attribute (the purchase was already
    * emitted) — the same bounded-state contract family as
    * [[dedupStream]]'s watermark window. No timeout: a user's last
    * click is live indefinitely, exactly like the batch query's
    * unbounded-preceding frame.
    *
    * Late data may not VIOLATE the batch contract either (r12 advice):
    * state keeps the (ts, event_id)-MAX click, so a late-arriving OLD
    * click in a later micro-batch cannot clobber a newer one already
    * in state, and a purchase never attributes a stored click that
    * sits at-or-after it in the total order (a late purchase older
    * than the surviving click gets the -1 sentinels — "no prior
    * click visible", the same answer the bounded-state trade already
    * gives when the true click was dropped). Every emitted row is
    * therefore a row the batch query COULD emit: click strictly
    * before the purchase in (ts_ms, event_id) order, lag_ms ≥ 0.
    */
  def asofAttribute(events: Dataset[Event]): Dataset[AsofAttribution] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, AsofAttribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[LastClick]) =>
          val out = List.newBuilder[AsofAttribution]
          var last = state.getOption
          // strict (ts_ms, event_id) total-order precedence
          def precedes(c: LastClick, ms: Long, id: Long): Boolean =
            c.clickMs < ms || (c.clickMs == ms && c.clickId < id)
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { ev =>
            val t = ev.ts.getTime
            if (ev.event_type == "click") {
              // keep the (ts, event_id)-max click: a late OLD click
              // must not clobber a newer one carried across batches
              if (last.forall(c => precedes(c, t, ev.event_id)))
                last = Some(LastClick(ev.event_id, t))
            } else out += (last match {
              // attribute only a click strictly BEFORE the purchase in
              // the (ts_ms, event_id) total order — a stored click
              // at-or-after a late purchase is invisible to it
              case Some(c) if precedes(c, t, ev.event_id) =>
                AsofAttribution(userId, ev.event_id, t,
                  c.clickId, c.clickMs, t - c.clickMs)
              case _ => AsofAttribution(userId, ev.event_id, t, -1L, -1L, -1L)
            })
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  case class FunnelTransition(user_id: Long, stage: Long, ts_ms: Long,
      lag_ms: Long)

  /** Per-user funnel progress: the stage timestamps already locked in.
    * Constant bytes per user forever — the funnel has 3 stages, each
    * recorded at most once.
    */
  case class FunnelState(vTs: Long, cTs: Long, purchased: Boolean)

  /** Streaming windowed conversion funnel with O(1) state per user —
    * the streaming form of the batch `evt_funnel_windowed` query
    * (view → click within [[graft.operators.Relational.AttribWindowMs]]
    * of the first view → purchase within the window of that click).
    * Emits one append-mode row per stage TRANSITION (a user crosses
    * each stage at most once, so ≤3 rows per user ever); the batch
    * query's per-stage (n_users, sum_lag_ms) aggregate is a trivial
    * keyed rollup of these rows — the spec pins exactly that parity.
    *
    * Within a micro-batch events fold in (ts_ms, event_id) order, so
    * the first eligible click/purchase in fold order IS the batch
    * query's min — intra-batch disorder is absorbed exactly. Across
    * batches, stage decisions are IMMUTABLE once emitted (append mode
    * cannot retract): a late out-of-order view earlier than the
    * recorded first view, or a late click that would have beaten the
    * recorded one, does not re-derive downstream stages — the same
    * bounded-state no-retro contract as [[asofAttribute]], stated.
    */
  def funnelWindowed(events: Dataset[Event],
      windowMs: Long = graft.operators.Relational.AttribWindowMs): Dataset[FunnelTransition] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelTransition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          val out = List.newBuilder[FunnelTransition]
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, purchased = false))
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { ev =>
            val t = ev.ts.getTime
            ev.event_type match {
              case "view" if st.vTs < 0 =>
                st = st.copy(vTs = t)
                out += FunnelTransition(userId, 1L, t, 0L)
              case "click" if st.vTs >= 0 && st.cTs < 0 &&
                  t > st.vTs && t <= st.vTs + windowMs =>
                st = st.copy(cTs = t)
                out += FunnelTransition(userId, 2L, t, t - st.vTs)
              case "purchase" if st.cTs >= 0 && !st.purchased &&
                  t > st.cTs && t <= st.cTs + windowMs =>
                st = st.copy(purchased = true)
                out += FunnelTransition(userId, 3L, t, t - st.cTs)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  case class AttribWindowResult(user_id: Long, purchase_id: Long,
      p_ts_ms: Long, n_clicks: Long, click_cents: Long)

  /** Per-user trailing click buffer, evicted to the attribution
    * window: clicks older than (max event time seen − window) can
    * never serve a future in-order purchase, so state is bounded by
    * one user's clicks per window — the watermark-shaped bound a
    * forever stream needs (state ∝ rate × window, never history).
    */
  case class ClickWindowState(maxTs: Long, clicks: List[(Long, Long)])

  /** Streaming trailing-window attribution — the streaming form of the
    * batch `evt_attrib_window` query: per purchase, the count and
    * BIGINT-cent value mass of the user's clicks in
    * [p_ts − window, p_ts). One append-mode row per purchase.
    *
    * Same fold conventions as [[funnelWindowed]]/[[asofAttribute]]:
    * (ts_ms, event_id)-ordered intra-batch fold (so a purchase sees
    * exactly the clicks the batch range join gives it when data
    * arrives within its batch, disordered or not), window-bounded
    * per-user state across batches, and the stated no-retro trade —
    * a click landing in a LATER micro-batch than a purchase it
    * belonged to cannot amend the already-emitted row, and a click
    * evicted by window age cannot serve an out-of-order late
    * purchase.
    */
  def attribWindow(events: Dataset[Event],
      windowMs: Long = graft.operators.Relational.AttribWindowMs): Dataset[AttribWindowResult] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "click" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClickWindowState, AttribWindowResult](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[ClickWindowState]) =>
          val out = List.newBuilder[AttribWindowResult]
          var st = state.getOption.getOrElse(ClickWindowState(Long.MinValue, Nil))
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { ev =>
            val t = ev.ts.getTime
            val maxTs = math.max(st.maxTs, t)
            if (ev.event_type == "click") {
              // the batch convention: FLOOR(value·100 + 0.5) cents
              val cents = math.floor(ev.value * 100 + 0.5).toLong
              // evict clicks that no in-order purchase can reach
              st = ClickWindowState(maxTs,
                (t, cents) :: st.clicks.filter(_._1 >= maxTs - windowMs))
            } else {
              val inWin = st.clicks.filter(c =>
                c._1 >= t - windowMs && c._1 < t)
              out += AttribWindowResult(userId, ev.event_id, t,
                inWin.length.toLong, inWin.map(_._2).sum)
              st = st.copy(maxTs = maxTs)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup with BOUNDED state: the streaming analogue
    * of `dedup_exact` / the file pipeline's content-hash dedup.
    * `dropDuplicatesWithinWatermark` keeps a key in the state store
    * only until the watermark passes its event time, so a forever
    * stream holds O(events-per-watermark-window) state — plain
    * `dropDuplicates` on a stream accretes one entry per distinct key
    * seen EVER, which no 100 TB/day stream survives. The contract is
    * correspondingly windowed: a duplicate arriving within the
    * watermark of its original is dropped; one arriving later than the
    * watermark horizon may re-emit (the at-least-once trade every
    * bounded-state dedup makes).
    */
  def dedupStream(events: DataFrame, keys: Seq[String] = Seq("event_id"),
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Maintain the stored concurrency layout
    * ([[graft.operators.Relational.writeConcurrencyLayout]]) from a
    * live event stream: each micro-batch appends its events to the
    * bucket-clustered relation and merges the count sidecars by the
    * counts-add algebra — order-independent and exact, so serves from
    * [[graft.operators.Relational.concurrencyFromStored]] see every
    * ingested event (the append-order crash window and its repair are
    * documented on the append op). State lives in the layout, not the
    * stream; single-writer per layout dir.
    */
  def concurrencyLayoutStream(events: DataFrame,
      layoutDir: String): StreamingQuery =
    MicroBatch.start(events.writeStream)(b =>
      graft.operators.Relational.appendToConcurrencyLayout(b.sparkSession,
        b.select(col("user_id"), expr("unix_micros(ts) div 1000").as("ts_ms")),
        layoutDir))
}
