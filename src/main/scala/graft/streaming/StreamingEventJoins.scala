package graft.streaming

import java.time.Instant
import java.util.concurrent.TimeUnit
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming lifts of the reference's two query pipelines
  * (SURVEY §2.3 Q1/Q2 streaming) and of their full-outcome union (Q5).
  *
  * Input shape mirrors the reference's Kafka records: `key: string`,
  * `value: string` (JSON by convention), `ts: timestamp` (event time —
  * `context.timestamp()` in `TopicShifter.scala:29`).
  *
  * The reference's shifter+leftJoin trick (`TimeoutJoinTest.scala:82-92`,
  * delay the probe side by W so "no match at probe time" means "no match
  * ever") collapses into one keyed event-time operator ([[viewOutcomes]]):
  * a display's `missed` verdict is an event-time timer at `display.ts + W`,
  * fired by the watermark — the `TopicShifter` operator disappears
  * entirely (SURVEY O12).
  *
  * State scale: watermark delay bounds every state to W + delay of events
  * per key; both sides are shuffled by key, so state is partition-local
  * and grows with key cardinality per window, not stream length.
  */
object StreamingEventJoins {

  private def interval(w: String) = expr(s"INTERVAL $w")

  /** Watermark `events` by `ts` and prefix its columns
    * (`<prefix>_key`, `<prefix>_value`, `<prefix>_ts`), so the two sides
    * of a join stay unambiguous.
    */
  private def side(events: DataFrame, prefix: String, watermarkDelay: String): DataFrame =
    events.withWatermark("ts", watermarkDelay).select(
      col("key").as(s"${prefix}_key"), col("value").as(s"${prefix}_value"),
      col("ts").as(s"${prefix}_ts"))

  /** Q1 streaming: for each click, displays with the same key in
    * `[click.ts - W, click.ts]`; merged JSON payload exactly as the
    * reference's ValueJoiner (`TimeoutJoinTest.scala:76-78`):
    * `{"display":<display.value>,"click":<click.value>}`.
    */
  def clickedDisplays(displays: DataFrame, clicks: DataFrame,
      window: String = "1 SECOND", watermarkDelay: String = "5 seconds"): DataFrame = {
    val d = side(displays, "d", watermarkDelay)
    val c = side(clicks, "c", watermarkDelay)
    c.join(d,
        col("d_key") === col("c_key") &&
          col("d_ts") >= col("c_ts") - interval(window) &&
          col("d_ts") <= col("c_ts"),
        "inner")
      .select(
        col("c_key").as("key"),
        concat(lit("""{"display":"""), col("d_value"),
          lit(""","click":"""), col("c_value"), lit("}")).as("value"),
        col("c_ts").as("ts"))
  }

  /** Q2 streaming: displays with no click of the same key in
    * `[display.ts, display.ts + W]` — the `missed` rows of [[viewOutcomes]],
    * emitted when the watermark passes `display.ts + W`, with the ORIGINAL
    * payload unchanged (`TimeoutJoinTest.scala:89-91` mapValues back to the
    * display value). Batch uses the native left_anti —
    * `EventJoins.missedDisplays`.
    */
  def missedDisplays(displays: DataFrame, clicks: DataFrame,
      window: String = "1 SECOND", watermarkDelay: String = "5 seconds"): DataFrame =
    viewOutcomes(displays, clicks, window, watermarkDelay)
      .filter(col("status") === "missed").drop("status")

  /** One input row of [[viewOutcomes]]: a display (with its payload) or a
    * click (payload dropped: no outcome carries it).
    */
  case class Side(key: String, value: String, ts: Instant, display: Boolean)
  case class Outcome(key: String, value: String, ts: Instant, status: String)
  /** A key's state: its pending displays (µs, payload), its retained
    * clicks (µs), and the event-time timers armed for it (ms) — parallel
    * primitive arrays, so the state encoder stays a flat row.
    */
  case class Held(displayUs: Array[Long], displayValue: Array[String],
      clickUs: Array[Long], timerMs: Array[Long])
  private val Empty = Held(Array.emptyLongArray, Array.empty[String], Array.emptyLongArray,
    Array.emptyLongArray)
  // derived once per JVM: deriving a product encoder reflects over its type
  private lazy val sideEncoder = Encoders.product[Side]
  private lazy val outcomeEncoder = Encoders.product[Outcome]

  private def micros(t: Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000
  private def instant(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** Joins each display with the first same-key click in
    * `[display.ts, display.ts + W]` — compared in µs, the events'
    * precision — whichever of the two arrives first.
    *
    * Timer arithmetic: a row with `ts <= watermark` is dropped as late, and
    * a timer at `t` fires once the watermark reaches `t`. So once the
    * watermark reaches `floorDiv(d + W, 1000) + 1` ms, no click of the
    * window can still arrive: that timer is the `missed` verdict. A click
    * can match only displays at or before it, and every display still to
    * come is past the watermark, so a click is kept until the watermark
    * reaches `ceil(c / 1000)` ms; any armed timer at or after that time
    * cleans it up, so a click arms one only when none is armed.
    */
  class OutcomeProcessor(windowUs: Long) extends StatefulProcessor[String, Side, Outcome] {
    @transient private var held: ValueState[Held] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      held = getHandle.getValueState[Held]("held", Encoders.product[Held], TTLConfig.NONE)

    private def deadlineMs(displayUs: Long) = Math.floorDiv(displayUs + windowUs, 1000L) + 1
    private def expiryMs(clickUs: Long) = -Math.floorDiv(-clickUs, 1000L)
    private def inWindow(displayUs: Long, clickUs: Long) =
      clickUs >= displayUs && clickUs <= displayUs + windowUs

    override def handleInputRows(key: String, rows: Iterator[Side],
        timers: TimerValues): Iterator[Outcome] = {
      val wm = timers.getCurrentWatermarkInMs()
      val prior = Option(held.get()).getOrElse(Empty)
      val (newDisplays, newClicks) = rows.toArray.partition(_.display)
      val newClickUs = newClicks.map(c => micros(c.ts))
      val clickUs = prior.clickUs ++ newClickUs
      val armed = ArrayBuffer.from(prior.timerMs)
      def arm(ms: Long): Unit = { getHandle.registerTimer(ms); armed += ms }
      val pendingUs = ArrayBuffer[Long]()
      val pendingValue = ArrayBuffer[String]()
      val out = ArrayBuffer[Outcome]()
      // displays of earlier batches have seen every earlier click
      prior.displayUs.indices.foreach { i =>
        val d = prior.displayUs(i)
        if (newClickUs.exists(inWindow(d, _))) out += Outcome(key, prior.displayValue(i), instant(d), "joined")
        else { pendingUs += d; pendingValue += prior.displayValue(i) }
      }
      newDisplays.foreach { r =>
        val d = micros(r.ts)
        if (clickUs.exists(inWindow(d, _))) out += Outcome(key, r.value, r.ts, "joined")
        // the watermark already closed its window: no click can come
        else if (deadlineMs(d) <= wm) out += Outcome(key, r.value, r.ts, "missed")
        else {
          pendingUs += d; pendingValue += r.value
          if (!armed.contains(deadlineMs(d))) arm(deadlineMs(d))
        }
      }
      val kept = clickUs.filter(expiryMs(_) > wm)
      newClickUs.foreach { c =>
        if (expiryMs(c) > wm && !armed.exists(_ >= expiryMs(c))) arm(expiryMs(c))
      }
      save(Held(pendingUs.toArray, pendingValue.toArray, kept, armed.toArray))
      out.iterator
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Outcome] = {
      val t = expired.getExpiryTimeInMs()
      val h = Option(held.get()).getOrElse(Empty)
      val (due, pending) = h.displayUs.indices.partition(i => deadlineMs(h.displayUs(i)) <= t)
      save(Held(pending.map(h.displayUs(_)).toArray, pending.map(h.displayValue(_)).toArray,
        h.clickUs.filter(expiryMs(_) > t), h.timerMs.filter(_ > t)))
      due.sortBy(h.displayUs(_)).iterator.map(i =>
        Outcome(key, h.displayValue(i), instant(h.displayUs(i)), "missed"))
    }

    /** A key keeps its state while it has a display, a click or an armed
      * timer; the armed list mirrors the timers registered for the key.
      */
    private def save(h: Held): Unit =
      if (h.displayUs.isEmpty && h.clickUs.isEmpty && h.timerMs.isEmpty) held.clear()
      else held.update(h)
  }

  /** Q5 streaming: EVERY display with its outcome in one query —
    * `joined` when a click of the same key lands in
    * `[display.ts, display.ts + W]`, else `missed` — the full-outcome
    * union the batch q5 computes. One keyed event-time operator holds a
    * key's pending displays and retained clicks in ONE state (AJoin's
    * shared join state, PAPERS.md): a display emits `joined` on its first
    * matching click, in the micro-batch where the later of the two
    * arrives, and `missed` when the watermark passes `display.ts + W`.
    * In append mode the outcome of every display is delivered exactly
    * once, however many clicks it gets.
    *
    * Each side is watermarked before the union, so the operator's
    * watermark stays the minimum of the two; rows behind it are dropped
    * as late, as the stream-stream join dropped them.
    */
  def viewOutcomes(displays: DataFrame, clicks: DataFrame,
      window: String = "1 SECOND", watermarkDelay: String = "5 seconds"): DataFrame = {
    val windowUs = IntervalUtils.getDuration(
      IntervalUtils.stringToInterval(UTF8String.fromString(window)), TimeUnit.MICROSECONDS)
    def input(events: DataFrame, display: Boolean) =
      events.withWatermark("ts", watermarkDelay).select(col("key"),
        (if (display) col("value") else lit(null).cast("string")).as("value"),
        col("ts"), lit(display).as("display"))
    input(displays, display = true).union(input(clicks, display = false)).as(sideEncoder)
      .groupByKey((s: Side) => s.key)(Encoders.STRING)
      .transformWithState(new OutcomeProcessor(windowUs), TimeMode.EventTime(), OutputMode.Append())(
        outcomeEncoder)
      .toDF()
  }
}
