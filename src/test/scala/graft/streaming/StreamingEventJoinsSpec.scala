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

  /** The same events into one MemoryStream per query: a MemoryStream drops
    * a batch once any query commits it, so two running queries must not
    * share one (the slower one would read nothing, or fail on the other's
    * out-of-order commit).
    */
  private final class Feed(streams: MemoryStream[Evt]*) {
    def addData(events: Evt*): Unit = streams.foreach(_.addData(events))
  }

  /** Run both pipelines over scripted batches; returns (joined, missed). */
  private def run(name: String)(
      script: (Feed, Feed, () => Unit) => Unit): (Seq[(String, String)], Seq[(String, String)]) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (displays1, clicks1) = (MemoryStream[Evt], MemoryStream[Evt])
    val (displays2, clicks2) = (MemoryStream[Evt], MemoryStream[Evt])
    val joined = StreamingEventJoins.clickedDisplays(
      displays1.toDF(), clicks1.toDF(), "10 SECONDS", "1 second")
    val missed = StreamingEventJoins.missedDisplays(
      displays2.toDF(), clicks2.toDF(), "10 SECONDS", "1 second")
    val q1 = joined.writeStream.format("memory").queryName(s"${name}_joined")
      .outputMode("append").start()
    val q2 = missed.writeStream.format("memory").queryName(s"${name}_missed")
      .outputMode("append").start()
    def pump(): Unit = { q1.processAllAvailable(); q2.processAllAvailable() }
    try script(new Feed(displays1, displays2), new Feed(clicks1, clicks2), () => pump())
    finally { q1.stop(); q2.stop() }
    def grab(t: String) = spark.table(s"${name}_$t")
      .select("key", "value").as[(String, String)].collect().toSeq
    (grab("joined"), grab("missed"))
  }

  /** Heartbeats on BOTH streams far in the future so every watermark
    * (min over inputs) passes the join bounds and outer rows flush.
    */
  private def heartbeats(d: Feed, c: Feed, pump: () => Unit): Unit = {
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
        .select("key", "status").as[(String, String)].collect().toSeq
      assert(early == Seq(keyA -> "joined"),
        s"matched outcome must emit per micro-batch, got $early")
      displays.addData(Evt("hb", "{}", plus(50)))
      clicks.addData(Evt("hb2", "{}", plus(50))); q.processAllAvailable()
      displays.addData(Evt("hb", "{}", plus(59)))
      clicks.addData(Evt("hb2", "{}", plus(59))); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("outcomes_out")
      .select("key", "value", "status").as[(String, String, String)].collect()
      .filterNot(_._1.startsWith("hb")).toSeq.sorted
    // one outcome per display: keyA joined, keyB (never clicked) missed
    assert(rows == Seq(
      (keyA, display, "joined"),
      (keyB, display, "missed")))
  }

  private def micros(t: Timestamp) = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  /** `T0 + sec` seconds `+ us` µs, exact to the µs. */
  private def at(sec: Double, us: Int = 0): Timestamp = {
    val t = new Timestamp(T0.getTime + (sec * 1000).round)
    t.setNanos(t.getNanos + us * 1000)
    t
  }
  private def tick(sec: Double) = (Seq(Evt("hb", "{}", at(sec))), Seq(Evt("hb2", "{}", at(sec))))

  /** (displays, clicks) per micro-batch; W = 10 s, watermark delay 1 s.
    *  A: two clicks, in two batches -> joined once
    *  B: its only click is 1 s before it in event time -> missed
    *  C: its click arrives one batch before it -> joined
    *  D: click at exactly d.ts + W -> joined; E: at d.ts + W + 1 µs -> missed
    *  F: a click after the window, arriving after F was reported -> missed
    *  G: two displays, one click in both windows -> joined twice
    *  H: two displays, one click in the second's window only -> missed, joined
    * Every row is ahead of the watermark (the min over both sides, less
    * the delay) when it arrives, so none may be dropped as late.
    */
  private val outcomeBatches: Seq[(Seq[Evt], Seq[Evt])] = {
    def d(k: String, sec: Double) = Evt(k, s"""{"display":"$k@$sec"}""", at(sec))
    def c(k: String, sec: Double, us: Int = 0) = Evt(k, click, at(sec, us))
    Seq(
      (Seq(d("A", 0), d("B", 2), d("D", 0), d("E", 0), d("F", 0), d("G", 0), d("H", 0)),
        Seq(c("B", 1), c("C", 2))), // watermark 1 s
      (Seq(d("C", 1.5), d("G", 1.5), d("H", 5), d("hb", 8)),
        Seq(c("A", 3), c("G", 8), c("hb2", 8))), // 7 s
      (Seq(d("hb", 12)),
        Seq(c("A", 9), c("D", 10), c("E", 10, us = 1), c("H", 12), c("hb2", 12))), // 11 s: E, F missed
      (Seq(d("hb", 13)), Seq(c("F", 12.5), c("hb2", 13))), // 12 s
      tick(40), tick(50))
  }

  /** The outcome rule by brute force: a display is joined iff a same-key
    * click lies in `[d.ts, d.ts + W]`, in µs; sorted (key, ts µs, status).
    */
  private def bruteForce(batches: Seq[(Seq[Evt], Seq[Evt])], windowUs: Long): Seq[(String, Long, String)] = {
    val clicks = batches.flatMap(_._2)
    batches.flatMap(_._1).filterNot(_.key.startsWith("hb")).map { d =>
      val du = micros(d.ts)
      val hit = clicks.exists(c => c.key == d.key && micros(c.ts) >= du && micros(c.ts) <= du + windowUs)
      (d.key, du, if (hit) "joined" else "missed")
    }.sorted
  }

  /** `viewOutcomes` (W 10 s, delay 1 s) over `batches`, through a
    * foreachBatch sink keyed by batch id (a replayed batch overwrites its
    * rows), stopped and restarted on the same checkpoint before each batch
    * index in `restartAt`. Returns the sorted non-heartbeat outcomes and the
    * rows dropped by the watermark.
    */
  private def outcomes(batches: Seq[(Seq[Evt], Seq[Evt])],
      restartAt: Set[Int] = Set.empty): (Seq[(String, Long, String)], Long) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val displays = MemoryStream[Evt]
    val clicks = MemoryStream[Evt]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_outcomes_ckpt").toString
    val sunk = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(String, Long, String)]]()
    def start() = StreamingEventJoins.viewOutcomes(
        displays.toDF(), clicks.toDF(), "10 SECONDS", "1 second")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        sunk.put(id, b.select("key", "ts", "status").as[(String, Timestamp, String)].collect()
          .map { case (k, t, st) => (k, micros(t), st) }.toSeq)
        ()
      }
      .start()
    def dropped(q: StreamingQuery) =
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    var q = start()
    var drops = 0L
    try batches.zipWithIndex.foreach { case ((ds, cs), i) =>
      if (restartAt(i)) { q.stop(); drops += dropped(q); q = start() }
      displays.addData(ds); clicks.addData(cs); q.processAllAvailable()
    } finally { q.stop(); drops += dropped(q) }
    (sunk.values().toArray(Array.empty[Seq[(String, Long, String)]]).toSeq.flatten
      .filterNot(_._1.startsWith("hb")).sorted, drops)
  }

  test("view outcomes: the multiset of outcomes equals the brute-force rule (stream ≡ batch)") {
    val (got, dropped) = outcomes(outcomeBatches)
    assert(dropped == 0, s"$dropped rows dropped by the watermark")
    assert(got == bruteForce(outcomeBatches, 10 * 1000000L))
  }

  test("view outcomes: stop/restart with displays pending equals an uninterrupted run") {
    // stopped with timers armed: at the 7 s watermark B, D, E, F and H's
    // first display are pending, at 12 s only B
    val (restarted, droppedR) = outcomes(outcomeBatches, restartAt = Set(2, 4))
    val (uninterrupted, droppedU) = outcomes(outcomeBatches)
    assert(droppedR + droppedU == 0, s"${droppedR + droppedU} rows dropped by the watermark")
    assert(restarted == uninterrupted)
    assert(restarted == bruteForce(outcomeBatches, 10 * 1000000L))
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
