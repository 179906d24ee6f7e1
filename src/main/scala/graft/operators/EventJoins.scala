package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's core capability, re-expressed Spark-first: keyed
  * event-time interval joins and their timeout (anti-join) dual.
  *
  * Reference semantics (cited from `/root/reference`):
  *  - clicked-display: for every click, the displays with the same key whose
  *    timestamp falls in `[click.ts - W, click.ts]`
  *    (`TimeoutJoinTest.scala:75-79`, `JoinWindows.of(..).before(W)`).
  *  - missed-display: every display with NO click of the same key in
  *    `[display.ts, display.ts + W]` (`TimeoutJoinTest.scala:82-92` — there a
  *    shifted left-outer join + isEmpty filter; here the batch-native
  *    formulation is a left-anti interval join, which Catalyst plans as one
  *    shuffle on the key with the range predicate evaluated join-side).
  *  - time-shift: re-emit records with timestamps shifted by W
  *    (`TopicShifter.scala:28-35`; we shift event time — SURVEY §7.4.2).
  *
  * Scale notes: both sides shuffle once on the join key (`user_id`); the
  * `event_type` filters are pushed into the parquet scan so each side reads
  * only its slice. No window-function or per-key sort is required, so the
  * plan is a single sort-merge (or shuffled-hash under AQE) join that
  * scales linearly with input and never materializes the full self-join.
  */
object EventJoins {

  /** Generic event-time interval join: rows of `left` matched with rows of
    * `right` sharing `key` and with `right.ts` in
    * `[left.ts + lower, left.ts + upper]` (bounds inclusive, matching Kafka
    * Streams `JoinWindows` inclusive semantics — `TimeoutJoinTest.scala:78,85`).
    *
    * `lower`/`upper` are SQL interval literals, e.g. "INTERVAL '1' HOUR".
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      lower: Column,
      upper: Column,
      joinType: String = "inner"): DataFrame = {
    val cond = col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) + lower &&
      col(rightTs) <= col(leftTs) + upper
    left.join(right, cond, joinType)
  }

  private def interval(w: String): Column = expr(s"INTERVAL $w")
  private val zero: Column = expr("INTERVAL 0 SECOND")

  /** Views projection (`c_`-free names match the oracle outputs). */
  private def viewEvents(events: DataFrame) =
    events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"))

  /** Clicks projection, renamed so self-join attributes stay unambiguous. */
  private def clickEvents(events: DataFrame) =
    events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("c_event_id"),
        col("ts").as("click_ts"))

  /** The shared after-window join: clicks with same user in
    * `[view.ts, view.ts + W]`, inclusive both ends (KS `JoinWindows.after`,
    * `TimeoutJoinTest.scala:85`) — Q2/Q5 vary only the join type.
    */
  private def afterWindowJoin(events: DataFrame, window: String, joinType: String): DataFrame =
    intervalJoin(viewEvents(events), clickEvents(events),
      "user_id", "c_user_id", "ts", "click_ts",
      lower = zero, upper = interval(window), joinType = joinType)

  /** Q1: clicks inner-interval-joined to preceding views (same user, view in
    * `[click.ts - W, click.ts]` — KS `JoinWindows.before`,
    * `TimeoutJoinTest.scala:78`). One row per matched (view, click) pair.
    */
  def clickedDisplays(events: DataFrame, window: String = "1 HOUR"): DataFrame =
    intervalJoin(
      clickEvents(events),
      viewEvents(events).select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("ts").as("view_ts")),
      "c_user_id", "v_user_id", "click_ts", "view_ts",
      lower = -interval(window), upper = zero)
      .select(col("c_user_id").as("user_id"), col("view_id"),
        col("c_event_id").as("click_id"), col("view_ts"), col("click_ts"))

  /** Q2: views with no click by the same user in `[view.ts, view.ts + W]` —
    * the reference's "emit an event when no-join occurred" (`README.md:19`),
    * expressed directly as a left-anti interval join (SURVEY O8+O9 ≡ anti).
    */
  def missedDisplays(events: DataFrame, window: String = "1 HOUR"): DataFrame =
    afterWindowJoin(events, window, "left_anti")

  /** Q3: event-time shift — identity on every column except `ts' = ts + W`,
    * with the derived-stream name `<name>.<W>` carried as a column (the
    * reference encodes lineage in topic names, `TopicShifter.scala:20`).
    */
  def timeShift(df: DataFrame, tsCol: String, window: String, streamName: String, suffix: String): DataFrame =
    df.withColumn(tsCol, col(tsCol) + interval(window))
      .withColumn("stream", lit(s"$streamName.$suffix"))

  /** Q4: Q1's output rendered as the reference's merged JSON payload
    * `{"display":<display>,"click":<click>}` (`TimeoutJoinTest.scala:77`).
    * The reference builds JSON by string concatenation; we do the same shape
    * deterministically (keys in fixed order) so the result is byte-stable
    * across engines.
    */
  def joinMergeJson(events: DataFrame, window: String = "1 HOUR"): DataFrame =
    clickedDisplays(events, window)
      .select(
        col("user_id"),
        concat(
          lit("""{"display":{"event_id":"""), col("view_id"),
          lit("""},"click":{"event_id":"""), col("click_id"),
          lit("}}")).as("payload"))

  /** As-of join: for every left row, the SINGLE most recent right row with
    * the same key and `right.ts <= left.ts` (within `tolerance`), or nulls.
    * This is the point-in-time variant of the reference's `before`-window
    * join (`TimeoutJoinTest.scala:78` matches ALL displays in the window;
    * as-of keeps only the latest) — the standard primitive for attribution
    * and feature point-in-time correctness.
    *
    * Scale design: NOT an interval join (whose matched-pair count can
    * explode) and not a per-key subquery. Both sides union into one
    * relation, shuffle ONCE on the key, sort within partitions by
    * (ts, side, tiebreak), and a running `last(right_payload, ignoreNulls)`
    * window carries the latest right row forward — O(n log n) per
    * partition, output exactly |left| rows. Ties (right.ts == left.ts)
    * match, and equal-ts right rows resolve to the greatest tiebreak
    * column, so results are deterministic. Skew bound: the unit of
    * serial work is ONE KEY's sorted history (not a partition) — a hot
    * key serializes only its own timeline, and salting does not apply
    * (the running window needs the whole key history in order).
    *
    * `left`/`right` must share the `key` and `ts` column names; `rightCols`
    * are the right columns carried into the output (null when no match).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightCols: Seq[String], rightTiebreak: String, tolerance: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!(left.columns ++ right.columns).exists(_.startsWith("__")),
      "asOfJoin: input columns must not use the reserved __ prefix")
    val r = right.select(col(key).as("__k"), col(ts).as("__ts"),
      col(rightTiebreak).as("__tb"), lit(0).as("__side"),
      struct((ts +: rightCols).distinct.map(col): _*).as("__r"))
    val l = left.select(col(key).as("__k"), col(ts).as("__ts"),
      lit(null).cast(right.schema(rightTiebreak).dataType).as("__tb"),
      lit(1).as("__side"),
      lit(null).cast(r.schema("__r").dataType).as("__r"),
      struct(left.columns.map(col): _*).as("__l"))
    val u = r.withColumn("__l", lit(null).cast(l.schema("__l").dataType))
      .unionByName(l)
    // right rows sort BEFORE left rows at equal ts (inclusive match), and
    // equal-ts right rows resolve to the greatest tiebreak; the running
    // last() hands every left row the latest right row at or before it
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .withColumn("__m",
        when(col("__m").isNotNull &&
          col("__m").getField(ts) >= col("__ts") - expr(s"INTERVAL $tolerance"),
          col("__m")))
    val leftOut = left.columns.map(c => col("__l").getField(c).as(c))
    val rightOut = rightCols.map(c => col("__m").getField(c).as(s"matched_$c"))
    matched.select(leftOut ++ rightOut: _*)
  }

  /** Q33: click attribution — each click as-of-joined to the latest view by
    * the same user within the preceding hour (nulls when none). One row per
    * click, unlike Q1's one row per (view, click) pair.
    */
  def clickAttribution(events: DataFrame, window: String = "1 HOUR"): DataFrame =
    asOfJoin(
      left = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts")),
      right = events.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts")),
      key = "user_id", ts = "ts",
      rightCols = Seq("view_id", "ts"), rightTiebreak = "view_id",
      tolerance = window)
      .select(col("user_id"), col("click_id"), col("ts").as("click_ts"),
        col("matched_view_id").as("view_id"), col("matched_ts").as("view_ts"))

  /** Q5: unrelated-key isolation — classify every view as joined/missed under
    * the same-key window rule, demonstrating that clicks with a different key
    * neither join nor suppress the timeout (`TimeoutJoinTest.scala:146-164`).
    */
  def viewOutcomes(events: DataFrame, window: String = "1 HOUR"): DataFrame = {
    afterWindowJoin(events, window, "left_semi")
      .select(col("event_id"))
      .withColumn("status", lit("joined"))
      .join(viewEvents(events), Seq("event_id"), "right_outer")
      .select(
        col("event_id"), col("user_id"), col("ts"),
        coalesce(col("status"), lit("missed")).as("status"))
  }

  /** Per-(user, day) activity spans ([first event ts, last event ts],
    * closed, micros) — the shared interval source for [[coActivityPairs]]
    * and [[intervalOverlapPairsBinned]].
    */
  private def daySpans(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      .select(col("user_id"), col("day"),
        unix_micros(col("s")).as("s"), unix_micros(col("e")).as("e"))

  /** Q161: interval-overlap pair COUNTS by endpoint sweep — the missing
    * member of the temporal-join family next to the point-lookup interval
    * join (q1) and the as-of join (q109): both INPUTS are intervals
    * (per-(user, day) activity spans from `events`), and the answer is
    * each day's count of OVERLAPPING user pairs — "how co-active was the
    * population".
    *
    * Scale design — counting beats enumerating: co-activity spans are
    * DENSE (most users' spans cover most of the day), so ANY
    * pair-enumeration plan — theta join or bin join
    * ([[intervalOverlapPairsBinned]]) — materializes Θ(Σ_day n_day²)
    * rows, quadratic at exactly the days that matter; measured 24 s at
    * sf0.1 vs ~1 s for this form. The sweep needs no pairs at all:
    * overlapping = C(n,2) − disjoint, and a pair is disjoint iff one
    * span ENDS strictly before the other STARTS, so
    * {{{ disjoint(day) = Σ_starts #(ends with e < s) }}}
    * — one cumulative count over the day's endpoint-sorted 2n rows.
    * Ordering ends AFTER starts at equal timestamp makes e = s count as
    * overlap (closed intervals touch ⇒ overlap), matching the pairwise
    * predicate sA ≤ eB ∧ sB ≤ eA exactly; all arithmetic is integer
    * micros, so the count is engine-exact. The per-day walk runs over
    * 2·n_day endpoint rows — O(n log n) against the enumeration's n² —
    * with the standing per-group Window caveat (one partition per day;
    * a day too big for one walk shards into range-partitioned prefix
    * sums, the standard two-pass device).
    */
  def coActivityPairs(events: DataFrame): DataFrame = {
    val spans = daySpans(events)
    // endpoint stream via ONE explode (a self-union would aggregate the
    // span table twice — ScanAudit caught the doubled events scan);
    // starts tie-break BEFORE ends so an end at the same micro as a
    // start is NOT counted as "ended before" (touching spans overlap)
    val pts = spans.select(col("day"), explode(array(
        struct(col("s").as("t"), lit(0).as("tie"), lit(0L).as("is_end")),
        struct(col("e").as("t"), lit(1).as("tie"), lit(1L).as("is_end"))))
        .as("p"))
      .select(col("day"), col("p.t").as("t"), col("p.tie").as("tie"),
        col("p.is_end").as("is_end"))
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val disjoint = pts
      .withColumn("ends_before", sum(col("is_end")).over(w))
      // start rows only: their own is_end = 0, so including the current
      // row in the frame cannot overcount
      .filter(col("is_end") === 0)
      .groupBy(col("day"))
      .agg(sum(col("ends_before")).as("disjoint"), count(lit(1)).as("n"))
    disjoint
      .select(datediff(col("day"), lit("1970-01-01")).cast("long")
          .as("epoch_day"),
        col("n").as("n_users"),
        // integer div: n·(n−1) is even, `/` would promote to double
        (expr("(n * (n - 1)) div 2") - col("disjoint"))
          .cast("long").as("overlap_pairs"))
  }

  /** Q174: position-based MULTI-TOUCH attribution (the "U-shaped" model)
    * — the credit-assignment sibling of last-touch attribution (q33):
    * every purchase distributes exactly 1,000,000 ppm of credit over the
    * views that preceded it within `windowHours`: 40% to the FIRST touch,
    * 40% to the LAST, the middle 20% split across interior touches
    * (n = 1 → all of it; n = 2 → 50/50). Credits are INTEGER ppm with
    * floor division and the remainder pinned to the first interior touch,
    * so Σ credit per purchase is EXACTLY 10⁶ (spec-asserted) and both
    * engines assign identical integers — a float model would leak ppm
    * under any reordering.
    *
    * Scale: both sides filter map-side (predicate pushed to the scan),
    * join once on user with the time-range predicate, and the position
    * windows partition by PURCHASE — each partition is one journey,
    * bounded by views-per-window, never corpus-sized.
    */
  def multiTouchAttribution(events: DataFrame,
      windowHours: Int = 24): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1: $windowHours")
    val winUs = windowHours.toLong * 3600L * 1000000L
    val pur = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("pt"))
    val vw = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("vt"))
    val j = pur.join(vw, Seq("user_id"))
      .filter(col("vt") <= col("pt") && col("vt") >= col("pt") - winUs)
    val wAsc = Window.partitionBy(col("p_id")).orderBy(col("vt"),
      col("view_id"))
    val wAll = Window.partitionBy(col("p_id"))
    j.withColumn("pos", row_number().over(wAsc))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("credit", expr(
        """CASE WHEN n = 1 THEN 1000000
          |     WHEN n = 2 THEN 500000
          |     WHEN pos = 1 OR pos = n THEN 400000
          |     ELSE (200000 div (n - 2)) +
          |          CASE WHEN pos = 2
          |               THEN 200000 - (200000 div (n - 2)) * (n - 2)
          |               ELSE 0 END
          |END""".stripMargin))
      .groupBy(col("user_id"), col("view_id"))
      .agg(sum(col("credit")).as("credit_ppm"),
        count(lit(1)).as("n_purchases_credited"))
  }

  /** The pair-ENUMERATION form: binned interval-overlap self-join
    * emitting each overlapping (day, u_a, u_b) pair. This is the right
    * plan when intervals are SPARSE (genomics ranges, ad impressions,
    * maintenance windows): explode every interval onto the fixed-width
    * time bins it covers, equi-join on (day, bin) — candidates are
    * complete because overlapping intervals must share a covering bin —
    * dedup each pair, apply the exact predicate. Fan-out is bounded by
    * interval length / binMinutes (≤ 12 at the 2-hour default). On DENSE
    * spans the candidate set is inherently quadratic — if only counts
    * are needed, [[coActivityPairs]]'s sweep avoids pairs entirely.
    */
  def intervalOverlapPairsBinned(events: DataFrame,
      binMinutes: Int = 120): DataFrame = {
    require(binMinutes >= 1 && binMinutes <= 1440,
      s"binMinutes out of range: $binMinutes")
    val binUs = binMinutes.toLong * 60L * 1000000L
    val binned = daySpans(events)
      .select(col("user_id"), col("day"), col("s"), col("e"),
        explode(sequence(floor(col("s") / binUs).cast("long"),
          floor(col("e") / binUs).cast("long"))).as("bin"))
    val a = binned.select(col("day"), col("bin"),
      col("user_id").as("u_a"), col("s").as("s_a"), col("e").as("e_a"))
    val b = binned.select(col("day"), col("bin"),
      col("user_id").as("u_b"), col("s").as("s_b"), col("e").as("e_b"))
    a.join(b, Seq("day", "bin"))
      .filter(col("u_a") < col("u_b"))
      .filter(col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      // one candidate pair can share several bins — emit each pair once
      .select(col("day"), col("u_a"), col("u_b")).distinct()
  }
}
