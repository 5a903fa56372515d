package graft.streaming

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** A materialized member-bill row — the engine-native form of the MySQL
  * `member_bills` table (readme:83-93). */
case class Bill(
    id: String,
    promise_id: String,
    user_id: String,
    amount: java.lang.Long,
    status: String,          // 'unpaid' | 'paid' (readme:89)
    issued_date: Date,
    paid_date: Date,         // NULL until paid (readme:91, sql.NullTime main.go:252)
    updated_at: Timestamp)

/** s04 as *keyed arbitrary state*: the last-writer-wins bill projection
  * (R7 insert / R8 update, consumer/consumer.go:205-220) held in the
  * engine's state store — one `transformWithState` operator with a named,
  * schema'd ValueState per bill_id (requires the RocksDB state store
  * provider), optionally with an overdue-reminder timer per bill (s13).
  *
  * Scale posture: state is partitioned by bill_id across executors, and
  * with the RocksDB provider (rocksdbjni ships here; exercised in
  * StatefulSpec) it spills off-heap — the projection's size is bounded by
  * live keys, not by stream length. Nothing depends on global event order:
  * within a batch, events for one bill are applied in (ts, event_id)
  * order, and bills are independent keys — exactly the per-key ordering
  * the reference got implicitly from its single shard
  * (producer/producer.go:24), made explicit and parallel.
  */
object BillProjection {

  /** The reference switch as a pure fold: MemberBillCreated INSERTS
    * status='unpaid' for a NEW bill only (consumer/consumer.go:207 is an
    * SQL INSERT — a duplicate primary key is a no-op, not an upsert, so a
    * re-delivered create in a later batch can never regress a paid bill
    * back to 'unpaid' or re-arm its reminder timer); PaymentCompleted
    * flips an EXISTING bill only (UPDATE … WHERE id=?,
    * consumer/consumer.go:214-220 — a no-op for unknown bills). Events
    * apply in (ts, event_id) order. */
  def fold(current: Bill, events: Iterator[RawEvent]): Bill =
    events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foldLeft(current) { (cur, e) =>
      e.event_type match {
        case Envelope.MemberBillCreated if cur == null =>
          Bill(e.bill_id, e.promise_id, e.user_id, e.amount, "unpaid",
            Date.valueOf(e.issued_date), null, e.ts)
        case Envelope.PaymentCompleted if cur != null =>
          cur.copy(status = "paid", paid_date = Date.valueOf(e.paid_date), updated_at = e.ts)
        case _ => cur // duplicate create / unknown-bill payment / unknown type
      }
    }

  /** The streaming projection: emits the updated bill row per key per
    * batch (OutputMode.Update — the changelog a downstream sink merges). */
  def applyTws(events: Dataset[RawEvent]): Dataset[Bill] =
    project(events, TimeMode.None(), None)

  /** s13: the projection PLUS overdue reminders via state-store TIMERS —
    * the capability the GroupState generation cannot express (its timeouts
    * reset on every event for the key; a reminder must fire at a fixed
    * deadline regardless of traffic). Each bill registers a
    * processing-time timer `reminderDelayMs` after it is issued; if the
    * bill is still unpaid when the timer fires, an alert row (the same
    * Bill schema with status='overdue') is emitted into the changelog,
    * and a payment cancels the pending timer. The reference pushes its
    * bill notifications to the browser the moment the consumer writes the
    * row (main.go SSE notify) and has nothing time-driven; this is the
    * deadline-driven follow-up a real BNPL collections flow needs.
    *
    * Timer cardinality is bounded by live unpaid bills, not stream
    * length. Alert rows do not touch the stored projection: state keeps
    * status='unpaid' (a reminder is output, not a state transition). */
  def applyTwsReminders(events: Dataset[RawEvent], reminderDelayMs: Long): Dataset[Bill] =
    project(events, TimeMode.ProcessingTime(),
      Some((timers, _) => timers.getCurrentProcessingTimeInMs() + reminderDelayMs))

  /** s13 on EVENT-TIME timers — the collections-deadline semantics done
    * right: a bill's reminder is due `reminderDelayMs` after the bill's
    * own event time (its create ts), and the timer fires when the
    * WATERMARK passes that instant, not when a wall clock does. Replaying
    * an old backlog therefore fires exactly the alerts the live run fired,
    * with identical timestamps (the alert's updated_at is the event-time
    * deadline itself) — the determinism [[applyTwsReminders]]'s
    * processing-time timers cannot give, and the completion of the
    * reference's at-most-once repair on the timer axis
    * (consumer/consumer.go:64). Requires the caller-visible watermark on
    * `ts`; `watermarkDelay` bounds how out-of-order the event log may be. */
  def applyTwsRemindersEventTime(events: Dataset[RawEvent], reminderDelayMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Bill] =
    project(events.withWatermark("ts", watermarkDelay), TimeMode.EventTime(),
      Some((_, bill) => bill.updated_at.getTime + reminderDelayMs))

  private def project(events: Dataset[RawEvent], timeMode: TimeMode,
      reminder: Option[(TimerValues, Bill) => Long]): Dataset[Bill] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == Envelope.MemberBillCreated ||
                   e.event_type == Envelope.PaymentCompleted)
      .groupByKey(_.bill_id)
      .transformWithState(new BillProcessor(reminder), timeMode, OutputMode.Update)
  }
}

/** The bill projection's processor: one ValueState[Bill] per bill_id,
  * updated by the shared [[BillProjection.fold]], plus an optional overdue
  * reminder: a function giving the timer instant (epoch ms) for a bill that
  * just entered 'unpaid'. With no reminder the timer API is never touched.
  *
  * Timer lifecycle: register when a bill ENTERS 'unpaid' (not on every
  * event — and the fold's INSERT-only create arm guarantees a re-delivered
  * create never re-enters 'unpaid', so the guard holds across batches, not
  * just within one), delete all pending timers when it flips to 'paid',
  * alert from handleExpiredTimer only if still unpaid at expiry (state may
  * have flipped between registration and firing in the same batch window
  * — the re-check, not the deletion, is the correctness guard; deletion
  * just keeps the timer store from growing). The alert's updated_at is the
  * timer instant, so event-time alerts are bit-identical across replays of
  * the same backlog (the StatefulSpec determinism law). */
class BillProcessor(reminder: Option[(TimerValues, Bill) => Long])
    extends StatefulProcessor[String, RawEvent, Bill] {

  @transient private var state: ValueState[Bill] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[Bill]("bill", Encoders.product[Bill], TTLConfig.NONE)

  override def handleInputRows(billId: String, rows: Iterator[RawEvent],
      timerValues: TimerValues): Iterator[Bill] = {
    val prev = if (state.exists()) state.get() else null
    val cur = BillProjection.fold(prev, rows)
    if (cur == null) Iterator.empty
    else {
      state.update(cur)
      reminder.foreach { deadline =>
        val wasUnpaid = prev != null && prev.status == "unpaid"
        if (cur.status == "unpaid" && !wasUnpaid)
          getHandle.registerTimer(deadline(timerValues, cur))
        if (cur.status == "paid" && wasUnpaid)
          getHandle.listTimers().foreach(getHandle.deleteTimer)
      }
      Iterator.single(cur)
    }
  }

  override def handleExpiredTimer(billId: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Bill] = {
    if (state.exists() && state.get().status == "unpaid")
      Iterator.single(state.get().copy(status = "overdue",
        updated_at = new Timestamp(expiredTimerInfo.getExpiryTimeInMs())))
    else Iterator.empty
  }
}
