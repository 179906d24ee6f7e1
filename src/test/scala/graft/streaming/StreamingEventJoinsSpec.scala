package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

case class Evt(key: String, value: String, ts: Timestamp)

/** The reference's three end-to-end scenarios (`TimeoutJoinTest.scala:
  * 106-164`) replayed through Structured Streaming with MemoryStream
  * sources and explicit event timestamps — no sleeps, no broker; watermark
  * advancement is driven by heartbeat events (SURVEY §7.4.1).
  *
  * W = 10 seconds here (the reference's 1s scaled for readability); the
  * payloads are the reference's exact literals (`TimeoutJoinTest.scala:
  * 108,112,121`).
  */
class StreamingEventJoinsSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = Timestamp.valueOf("2024-01-01 10:00:00")
  private def plus(sec: Int) = Timestamp.valueOf(s"2024-01-01 10:00:${if (sec < 10) "0" else ""}$sec")
  private val keyA = "0f1f53a0-44f5-4b84-9699-fe853c90ed1c"
  private val keyB = "9750c569-44c2-49e6-854e-01e0eae04bb6"
  private val display = """{"type":"display"}"""
  private val click = """{"type":"click"}"""

  /** Run both pipelines over scripted batches; returns (joined, missed). */
  private def run(name: String)(
      script: (MemoryStream[Evt], MemoryStream[Evt], () => Unit) => Unit): (Seq[(String, String)], Seq[(String, String)]) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val displays = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    val joined = StreamingEventJoins.clickedDisplays(
      displays.toDF(), clicks.toDF(), "10 SECONDS", "1 second")
    val missed = StreamingEventJoins.missedDisplays(
      displays.toDF(), clicks.toDF(), "10 SECONDS", "1 second")
    val q1 = joined.writeStream.format("memory").queryName(s"${name}_joined")
      .outputMode("append").start()
    val q2 = missed.writeStream.format("memory").queryName(s"${name}_missed")
      .outputMode("append").start()
    def pump(): Unit = { q1.processAllAvailable(); q2.processAllAvailable() }
    try script(displays, clicks, () => pump())
    finally { q1.stop(); q2.stop() }
    def grab(t: String) = spark.table(s"${name}_$t")
      .select("key", "value").as[(String, String)].collect().toSeq
    (grab("joined"), grab("missed"))
  }

  /** Heartbeats on BOTH streams far in the future so every watermark
    * (min over inputs) passes the join bounds and outer rows flush.
    */
  private def heartbeats(d: MemoryStream[Evt], c: MemoryStream[Evt], pump: () => Unit): Unit = {
    d.addData(Evt("hb", "{}", plus(50))); c.addData(Evt("hb2", "{}", plus(50))); pump()
    d.addData(Evt("hb", "{}", plus(59))); c.addData(Evt("hb2", "{}", plus(59))); pump()
  }

  test("scenario 1: click within window joins exactly once, nothing missed") {
    val (joined, missed) = run("s1") { (d, c, pump) =>
      d.addData(Evt(keyA, display, T0)); pump()
      c.addData(Evt(keyA, click, plus(5))); pump()
      heartbeats(d, c, pump)
    }
    assert(joined == Seq(
      keyA -> """{"display":{"type":"display"},"click":{"type":"click"}}"""))
    assert(missed.filterNot(_._1.startsWith("hb")).isEmpty)
  }

  test("scenario 2: click after window — no join, display reported missed") {
    val (joined, missed) = run("s2") { (d, c, pump) =>
      d.addData(Evt(keyA, display, T0)); pump()
      c.addData(Evt(keyA, click, plus(25))); pump() // 2.5 W later
      heartbeats(d, c, pump)
    }
    assert(joined.isEmpty)
    assert(missed.filterNot(_._1.startsWith("hb")) == Seq(keyA -> display))
  }

  test("scenario 3: unrelated-key click — no join, display reported missed") {
    val (joined, missed) = run("s3") { (d, c, pump) =>
      d.addData(Evt(keyA, display, T0)); pump()
      c.addData(Evt(keyB, click, plus(5))); pump()
      heartbeats(d, c, pump)
    }
    assert(joined.isEmpty)
    assert(missed.filterNot(_._1.startsWith("hb")) == Seq(keyA -> display))
  }

  test("time-shift stream: ts' = ts + W, payload and key unchanged, lineage column") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val s = MemoryStream[Evt]
    val shifted = graft.operators.EventJoins.timeShift(s.toDF(), "ts", "10 SECONDS", "display", "10s")
    val q = shifted.writeStream.format("memory").queryName("shift_out")
      .outputMode("append").start()
    s.addData(Evt(keyA, display, T0))
    q.processAllAvailable(); q.stop()
    val row = spark.table("shift_out").head()
    assert(row.getAs[String]("key") == keyA)
    assert(row.getAs[String]("value") == display)
    assert(row.getAs[Timestamp]("ts") == plus(10))
    assert(row.getAs[String]("stream") == "display.10s")
  }

  test("view outcomes: exactly one outcome per display — joined or missed (q5 streaming)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val displays = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    val out = StreamingEventJoins.viewOutcomes(
      displays.toDF(), clicks.toDF(), "10 SECONDS", "1 second")
    val q = out.writeStream.format("memory").queryName("outcomes_out")
      .outputMode("append").start()
    try {
      displays.addData(Evt(keyA, display, T0), Evt(keyB, display, plus(2)))
      q.processAllAvailable()
      clicks.addData(Evt(keyA, click, plus(5))); q.processAllAvailable()
      // keyA matched inside the window — emits without any watermark help
      val early = spark.table("outcomes_out")
        .select("key", "status").as[(String, String)].collect().toSet
      assert(early == Set(keyA -> "joined"),
        s"matched outcome must emit per micro-batch, got $early")
      displays.addData(Evt("hb", "{}", plus(50)))
      clicks.addData(Evt("hb2", "{}", plus(50))); q.processAllAvailable()
      displays.addData(Evt("hb", "{}", plus(59)))
      clicks.addData(Evt("hb2", "{}", plus(59))); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("outcomes_out")
      .select("key", "value", "status").as[(String, String, String)].collect()
      .filterNot(_._1.startsWith("hb")).toSet
    // one outcome per display: keyA joined, keyB (never clicked) missed
    assert(rows == Set(
      (keyA, display, "joined"),
      (keyB, display, "missed")))
  }

  test("left-outer timing: missed row emits only after the watermark passes the join bound") {
    // pins SURVEY §7.4.1's design claim: the reference detects "no join"
    // by wall-clock delay (TopicShifter re-emission), we detect it by
    // event-time watermark — so the missed row must appear EXACTLY when
    // the watermark crosses display.ts + W, not on processing activity
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val displays = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    val missed = StreamingEventJoins.missedDisplays(
      displays.toDF(), clicks.toDF(), "10 SECONDS", "1 second")
    val q = missed.writeStream.format("memory").queryName("timing_missed")
      .outputMode("append").start()
    def nonHb() = spark.table("timing_missed")
      .select("key", "value").as[(String, String)].collect()
      .filterNot(_._1.startsWith("hb")).toSeq
    try {
      displays.addData(Evt(keyA, display, T0)); q.processAllAvailable()
      assert(nonHb().isEmpty, "no watermark movement yet — nothing may emit")
      // STALLED source: reprocessing without new data must not flush the
      // pending outer row (absence of data is not evidence of no-join)
      q.processAllAvailable()
      assert(nonHb().isEmpty, "a stalled source must not trigger emission")
      // RESUMED below the bound: watermark advances to 10:00:08 — still
      // before T0+10s, so the display stays held even across two batches
      displays.addData(Evt("hb", "{}", plus(9)))
      clicks.addData(Evt("hb2", "{}", plus(9))); q.processAllAvailable()
      displays.addData(Evt("hb", "{}", plus(9)))
      clicks.addData(Evt("hb2", "{}", plus(9))); q.processAllAvailable()
      assert(nonHb().isEmpty,
        "watermark below display.ts + W — outer row must still be held")
      // past the bound: the held row flushes (watermark batch + flush batch)
      displays.addData(Evt("hb", "{}", plus(30)))
      clicks.addData(Evt("hb2", "{}", plus(30))); q.processAllAvailable()
      displays.addData(Evt("hb", "{}", plus(40)))
      clicks.addData(Evt("hb2", "{}", plus(40))); q.processAllAvailable()
      assert(nonHb() == Seq(keyA -> display),
        "outer row must emit exactly once after the watermark passes the bound")
    } finally q.stop()
  }

  test("join state stays bounded by the watermark (no unbounded growth)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val displays = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    val joined = StreamingEventJoins.clickedDisplays(
      displays.toDF(), clicks.toDF(), "10 SECONDS", "1 second")
    val q: StreamingQuery = joined.writeStream.format("memory")
      .queryName("state_out").outputMode("append").start()
    // 3 waves of events, each 100s apart: state from old waves must be evicted
    for (wave <- 0 until 3) {
      val base = Timestamp.valueOf(s"2024-01-01 1${wave}:00:00")
      displays.addData((0 until 50).map(i => Evt(s"w${wave}_$i", display,
        new Timestamp(base.getTime + i * 100))): _*)
      clicks.addData(Evt(s"w${wave}_0", click, new Timestamp(base.getTime + 1000)))
      q.processAllAvailable()
    }
    val rowsInState = q.lastProgress.stateOperators(0).numRowsTotal
    q.stop()
    // without eviction state would hold all 150 displays + 3 clicks
    assert(rowsInState < 120, s"state rows = $rowsInState — watermark not evicting")
  }
}
