package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming lifts of the reference's two query pipelines
  * (SURVEY §2.3 Q1/Q2 streaming) plus the time-shift.
  *
  * Input shape mirrors the reference's Kafka records: `key: string`,
  * `value: string` (JSON by convention), `ts: timestamp` (event time —
  * `context.timestamp()` in `TopicShifter.scala:29`).
  *
  * The reference's shifter+leftJoin trick (`TimeoutJoinTest.scala:82-92`,
  * delay the probe side by W so "no match at probe time" means "no match
  * ever") is replaced by Spark's native emit-on-watermark-close semantics:
  * a watermarked stream-stream left-outer interval join emits the
  * null-padded row once the watermark passes the join bound — the
  * `TopicShifter` operator disappears entirely (SURVEY O12).
  *
  * State scale: watermark delay = W bounds the
  * StreamingSymmetricHashJoinExec state to W of events per side; both sides
  * are shuffled by key, so state is partition-local and grows with key
  * cardinality per window, not stream length.
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
    * `[display.ts, display.ts + W]` — the `missed` rows of [[viewOutcomes]]'s
    * watermarked left-outer interval join; the unmatched (null-padded)
    * display is emitted when the watermark passes `display.ts + W`, with
    * the ORIGINAL payload unchanged
    * (`TimeoutJoinTest.scala:89-91` mapValues back to the display value).
    *
    * Left-outer + isNull is not just reference-faithful: Spark (through
    * 4.1) rejects stream-stream LeftAnti with a streaming right side, so
    * this composition IS the streaming anti-join. (Batch uses the native
    * left_anti — `EventJoins.missedDisplays`.)
    */
  def missedDisplays(displays: DataFrame, clicks: DataFrame,
      window: String = "1 SECOND", watermarkDelay: String = "5 seconds"): DataFrame =
    viewOutcomes(displays, clicks, window, watermarkDelay)
      .filter(col("status") === "missed").drop("status")

  /** Q5 streaming: EVERY display with its outcome in one query —
    * `joined` when a click of the same key lands in
    * `[display.ts, display.ts + W]`, else `missed` — the full-outcome
    * union the batch q5 computes, as ONE watermarked left-outer join
    * instead of running q1 and q2 side by side (one state store, one
    * scan of each stream). Matched rows emit immediately per micro-batch;
    * unmatched rows emit as `missed` when the watermark passes
    * `display.ts + W` — so in append mode the outcome of every display
    * is delivered exactly once.
    */
  def viewOutcomes(displays: DataFrame, clicks: DataFrame,
      window: String = "1 SECOND", watermarkDelay: String = "5 seconds"): DataFrame = {
    val d = side(displays, "d", watermarkDelay)
    val c = side(clicks, "c", watermarkDelay)
    d.join(c,
        col("d_key") === col("c_key") &&
          col("c_ts") >= col("d_ts") &&
          col("c_ts") <= col("d_ts") + interval(window),
        "left_outer")
      .select(
        col("d_key").as("key"), col("d_value").as("value"),
        col("d_ts").as("ts"),
        when(col("c_key").isNull, lit("missed")).otherwise(lit("joined")).as("status"))
  }
}
