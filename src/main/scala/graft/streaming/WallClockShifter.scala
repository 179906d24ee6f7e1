package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Wall-clock-faithful re-implementation of the reference's headline custom
  * operator, the topic shifter (`/root/reference/src/test/scala/me/dummy/
  * TopicShifter.scala:22-37`): re-emit every record unchanged — same key,
  * value, and EVENT timestamp — but no earlier than wall-clock
  * `record.ts + delayMs`. This matches the reference exactly: it sleeps
  * `diff = ts − (now − delay)` and forwards immediately when `diff <= 0`
  * (`TopicShifter.scala:29-33`), i.e. the hold is anchored to the record's
  * EVENT time, not its arrival time — on replay/backlog/restart,
  * already-old records flow straight through instead of being re-delayed.
  *
  * The reference holds records by sleeping the stream thread
  * (`Thread.sleep(diff)`, `TopicShifter.scala:32`), which serializes the
  * pipeline. Here the hold is `transformWithState` state plus REAL per-key
  * processing-time timers (`registerTimer`): each buffered record arms its
  * own timer, so a key receiving a steady trickle still releases earlier
  * records on time, throughput is partition-parallel and nothing blocks.
  *
  * Requires the RocksDB state store provider, the session factory's
  * default — transformWithState state lives in per-state column families,
  * which the HDFS-backed provider does not support.
  *
  * Note the event-time variant ([[graft.operators.EventJoins.timeShift]])
  * is what downstream joins actually need (SURVEY §7.4.2); this operator
  * exists for fidelity with the reference's delivery-time semantics
  * ("process a topic with a delay", `README.md:20`).
  */
object WallClockShifter {

  case class Rec(key: String, value: String, ts: Timestamp)
  /** Buffered record awaiting its delivery time (public: encoder codegen). */
  case class Pending(value: String, ts: Long, dueAt: Long)

  class ShiftProcessor(delayMs: Long) extends StatefulProcessor[String, Rec, Rec] {
    @transient private var buffer: ListState[Pending] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buffer = getHandle.getListState[Pending](
        "pending", Encoders.product[Pending], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Rec],
        timers: TimerValues): Iterator[Rec] = {
      val now = timers.getCurrentProcessingTimeInMs()
      // dueAt anchored to the record's EVENT timestamp (reference
      // semantics, TopicShifter.scala:29-31); records already past due
      // emit on this very batch instead of arming a stale timer
      val (due, pending) = rows.map { r =>
        Pending(r.value, r.ts.getTime, r.ts.getTime + delayMs)
      }.toList.partition(_.dueAt <= now)
      pending.foreach { p =>
        buffer.appendValue(p)
        getHandle.registerTimer(p.dueAt)
      }
      due.iterator.map(p => Rec(key, p.value, new Timestamp(p.ts)))
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Rec] = {
      val now = expired.getExpiryTimeInMs()
      val (due, pending) = buffer.get().toList.partition(_.dueAt <= now)
      if (pending.isEmpty) buffer.clear() else buffer.put(pending.toArray)
      due.iterator.map(p => Rec(key, p.value, new Timestamp(p.ts)))
    }
  }

  def shift(spark: SparkSession, events: Dataset[Rec], delayMs: Long): Dataset[Rec] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .transformWithState(new ShiftProcessor(delayMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
