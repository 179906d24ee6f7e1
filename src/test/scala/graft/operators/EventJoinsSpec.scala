package graft.operators

import java.sql.Timestamp
import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class EventJoinsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Tiny hand-built stream mirroring the reference's 3 scenarios
    * (`TimeoutJoinTest.scala:106-164`): W = 1 hour here.
    *  u1: click 30min after view  -> joined
    *  u2: click 2h after view     -> missed
    *  u3: view; u4: click (unrelated keys) -> u3 missed
    *  u5: click exactly at view.ts + W (boundary, inclusive) -> joined
    *  u6: view exactly at click.ts - W (boundary, inclusive) -> joined
    */
  private lazy val fixture = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0, "{}"),
    (2L, ts("2024-01-01 10:30:00"), 1L, "click", 0.0, "{}"),
    (3L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
    (4L, ts("2024-01-01 12:00:00"), 2L, "click", 0.0, "{}"),
    (5L, ts("2024-01-01 10:00:00"), 3L, "view", 0.0, "{}"),
    (6L, ts("2024-01-01 10:30:00"), 4L, "click", 0.0, "{}"),
    (7L, ts("2024-01-01 10:00:00"), 5L, "view", 0.0, "{}"),
    (8L, ts("2024-01-01 11:00:00"), 5L, "click", 0.0, "{}"),
    (9L, ts("2024-01-01 09:00:00"), 6L, "view", 0.0, "{}"),
    (10L, ts("2024-01-01 10:00:00"), 6L, "click", 0.0, "{}"),
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Q2 in the reference's own topology (left-outer join + right-is-null
    * filter + projection, `TimeoutJoinTest.scala:82-92`).
    */
  private def missedDisplaysOuter(events: DataFrame, window: String): DataFrame = {
    val views = events.filter($"event_type" === "view").select($"user_id", $"event_id", $"ts")
    val clicks = events.filter($"event_type" === "click")
      .select($"user_id".as("c_user_id"), $"ts".as("click_ts"))
    EventJoins.intervalJoin(views, clicks, "user_id", "c_user_id", "ts", "click_ts",
        lower = expr("INTERVAL 0 SECOND"), upper = expr(s"INTERVAL $window"), joinType = "left_outer")
      .filter($"c_user_id".isNull)
      .select($"user_id", $"event_id", $"ts")
      .distinct() // a view out-joins at most once; documents set semantics
  }

  test("clickedDisplays: scenario semantics incl. inclusive bounds") {
    val joined = EventJoins.clickedDisplays(fixture, "1 HOUR")
      .select("user_id").as[Long].collect().sorted
    assert(joined.toSeq == Seq(1L, 5L, 6L))
  }

  test("missedDisplays: timeout + unrelated-key isolation") {
    val missed = EventJoins.missedDisplays(fixture, "1 HOUR")
      .select("user_id").as[Long].collect().sorted
    assert(missed.toSeq == Seq(2L, 3L))
  }

  test("missedDisplays equals left-outer+isNull formulation") {
    val a = EventJoins.missedDisplays(fixture, "1 HOUR")
      .select("event_id").as[Long].collect().sorted.toSeq
    val b = missedDisplaysOuter(fixture, "1 HOUR")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("every view is exactly joined or missed (q5 partitions q1/q2)") {
    val ev = Tables.events(spark, sf)
    val outcomes = EventJoins.viewOutcomes(ev, "1 HOUR").cache()
    val views = ev.filter($"event_type" === "view").count()
    assert(outcomes.count() == views)
    val missed = outcomes.filter($"status" === "missed").count()
    val anti = EventJoins.missedDisplays(ev, "1 HOUR").count()
    assert(missed == anti)
    outcomes.unpersist()
  }

  test("asOfJoin/clickAttribution: latest view, inclusive ties, tolerance cut") {
    val events = Seq(
      // u1: two views before the click; latest (id 12) wins
      (11L, ts("2024-01-01 09:10:00"), 1L, "view", 0.0, "{}"),
      (12L, ts("2024-01-01 09:50:00"), 1L, "view", 0.0, "{}"),
      (13L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      // u2: view EXACTLY at click ts (inclusive) — and a second equal-ts
      // view; the greater event_id (15) is the deterministic winner
      (14L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
      (15L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0, "{}"),
      (16L, ts("2024-01-01 10:00:00"), 2L, "click", 0.0, "{}"),
      // u3: only view is older than the tolerance -> null match
      (17L, ts("2024-01-01 08:00:00"), 3L, "view", 0.0, "{}"),
      (18L, ts("2024-01-01 10:00:00"), 3L, "click", 0.0, "{}"),
      // u4: view only AFTER the click -> null match
      (19L, ts("2024-01-01 11:00:00"), 4L, "view", 0.0, "{}"),
      (20L, ts("2024-01-01 10:00:00"), 4L, "click", 0.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventJoins.clickAttribution(events, "1 HOUR")
      .select($"click_id", $"view_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(13L -> Some(12L), 16L -> Some(15L), 18L -> None, 20L -> None))
  }

  test("asOfJoin on real data: one output row per click; match is the max qualifying view") {
    val events = Tables.events(spark, sf)
    val out = EventJoins.clickAttribution(events, "1 HOUR")
    val nClicks = events.filter($"event_type" === "click").count()
    assert(out.count() == nClicks)
    // brute-force cross-check via the interval join: per click, expect the
    // (max ts, then max id) view among all in-window matches
    val expected = EventJoins.clickedDisplays(events, "1 HOUR")
      .groupBy($"click_id")
      .agg(max(struct($"view_ts", $"view_id")).as("m"))
      .select($"click_id", $"m.view_id".as("view_id"))
      .as[(Long, Long)].collect().toMap
    val got = out.filter($"view_id".isNotNull)
      .select($"click_id", $"view_id").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("timeShift: identity except ts'=ts+W and lineage column") {
    val shifted = EventJoins.timeShift(fixture, "ts", "1 HOUR", "events", "1h")
    assert(shifted.count() == fixture.count())
    val row = shifted.filter($"event_id" === 1L).head()
    assert(row.getAs[Timestamp]("ts") == ts("2024-01-01 11:00:00"))
    assert(row.getAs[String]("stream") == "events.1h")
  }

  test("joinMergeJson: reference payload shape {\"display\":…,\"click\":…}") {
    val p = EventJoins.joinMergeJson(fixture, "1 HOUR")
      .filter($"user_id" === 1L).select("payload").as[String].head()
    assert(p == """{"display":{"event_id":1},"click":{"event_id":2}}""")
  }
}
