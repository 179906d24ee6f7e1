package graft.bench

import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.operators.EventJoins
import graft.streaming.StreamingEventJoins
import Timeline.{DelayUs, WindowUs}

/** The bench's sink: one slot per display, filled by `foreachBatch`. */
final class OutcomeSink(capacity: Int) {
  val count = new Array[Byte](capacity)
  val joined = new Array[Boolean](capacity)
  val arrivalUs = new Array[Long](capacity)
  var rows = 0L
  var unknown = 0L
  var sinkNs = 0L
  private var received = 0

  def accept(batch: Array[Row], nowUs: Long): Unit = synchronized {
    val t0 = System.nanoTime()
    batch.foreach { r =>
      rows += 1
      val i = Timeline.indexOf(r.getString(0))
      if (i != Timeline.IgnoredIndex) {
        if (i < 0 || i >= capacity) unknown += 1
        else {
          val k = i.toInt
          if (count(k) == 0) received += 1
          count(k) = (count(k) + 1).min(100).toByte
          joined(k) = r.getString(1) == "joined"
          arrivalUs(k) = nowUs
        }
      }
    }
    sinkNs += System.nanoTime() - t0
  }

  def receivedCount: Int = synchronized(received)

  /** Displays below `n` with exactly one outcome, and how many were joined. */
  def outcomes(n: Int): (Int, Int) = synchronized {
    val one = (0 until n).filter(count(_) == 1)
    (one.count(joined(_)), one.count(!joined(_)))
  }
}

/** One started `StreamingEventJoins.viewOutcomes` query, W = 1 s and
  * watermark delay 1 s, fed by the bench's `MemoryStream` with events of
  * `timeline` and drained by its `foreachBatch` sink, which has room for
  * `displays` displays.
  */
final class OutcomeQuery(spark: SparkSession, name: String, checkpoint: String, trigger: Trigger,
    val timeline: Timeline, displays: Int, partitions: Int) {
  val clock = new Clock
  val sink = new OutcomeSink(displays)
  val input: MemoryStream[Ev] = MemoryStream[Ev](spark, partitions)(spark.implicits.newProductEncoder[Ev])
  val query: StreamingQuery = {
    val events = input.toDF()
    val out = StreamingEventJoins.viewOutcomes(
      events.filter(col("kind") === "display"), events.filter(col("kind") === "click"),
      "1 SECOND", "1 second")
    val (s, c) = (sink, clock)
    out.select("key", "status").writeStream
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, _: Long) => s.accept(b.collect(), c.nowUs) }
      .start()
  }

  def stop(): Unit = query.stop()

  def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

  /** Start of a micro-batch on [[clock]]. */
  def startedUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L - clock.epochSkewUs

  /** Waits until every display below `n` has an outcome; false on timeout. */
  def awaitOutcomes(n: Int): Boolean = {
    val deadline = System.nanoTime() + StreamWork.DrainTimeoutS * 1000000000L
    while (sink.receivedCount < n && System.nanoTime() < deadline) Thread.sleep(20)
    sink.receivedCount >= n
  }

  /** Operations are displays and micro-batches. A display fails unless it
    * got exactly one outcome and that outcome matches the ground truth; a
    * batch fails when the query died in it. Returns attempted, failed and
    * a note per kind of failure.
    */
  def check(n: Int, drained: Boolean): (Long, Long, Seq[String]) = {
    val all = progress
    val bad = StreamWork.wrongOutcomes(n, sink.count, sink.joined, timeline.joined)
    val dropped = all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val notes = Seq(
      if (bad > 0) Some(s"$name: $bad of $n displays had a wrong or missing outcome") else None,
      if (sink.unknown > 0) Some(s"$name: ${sink.unknown} output rows had no display") else None,
      if (dropped > 0) Some(s"$name: $dropped rows dropped by the watermark") else None,
      if (!drained) Some(s"$name: not every display got an outcome before the drain deadline") else None,
      query.exception.map(e => s"$name: query failed: ${e.getMessage}")).flatten
    val failedBatches = (if (dropped > 0) 1 else 0) + (if (query.exception.isDefined) 1 else 0)
    (n + all.size, bad + sink.unknown + failedBatches, notes)
  }
}

/** `stream_latency`: a closed-loop burst for `events_per_s`, then the
  * open loop over another `viewOutcomes` query, on a fresh session, with a
  * fixed trigger, for the latencies.
  */
final class StreamWork(cfg: Config, tr: Trace) extends Workload {
  import StreamWork._

  private val timeline = new Timeline(cfg.seed, LatencyMix.rate, LatencyMix.pIn, LatencyMix.pLate,
    LatencyMix.pOrphan)

  // state of the run started by the last `setup`
  private var spark: SparkSession = _
  private var cores = 0
  private var open: OutcomeQuery = _
  private var prebuilt: (Array[Long], Array[Ev]) = _
  private var setups = 0
  /** Every checked event handed to the open loop's source, kept for the parity probe. */
  private val replayed = ArrayBuffer[Array[Ev]]()

  /** Session, inputs and a started query; the previous run is torn down. */
  def setup(cores: Int): Unit = {
    teardown()
    setups += 1
    this.cores = cores
    spark = graft.Tables.session("joinbench", cores)
    tr.attach(spark)
    open = new OutcomeQuery(spark, s"outcomes_$setups", s"${cfg.workDir}/checkpoint-$setups",
      Trigger.ProcessingTime(LatencyTriggerS, TimeUnit.SECONDS), timeline,
      timeline.displaysBefore(horizonUs) + 1, cores)
    prebuilt = openLoopTimeline(open.clock.originUs)
  }

  def teardown(): Unit = {
    if (open != null) { open.stop(); open = null }
    if (spark != null) { spark.stop(); spark = null }
  }

  /** Timed windows of `--seconds` each: one, or in a traced run three,
    * the middle one traced.
    */
  private def windows = if (tr.requested) 3 else 1
  private def horizonUs = (LatencyWarmupS + windows * cfg.seconds) * 1000000L

  /** The whole open-loop replay: every display created before the end of
    * the timed windows, then only the in-window clicks those displays are
    * still owed.
    */
  private def openLoopTimeline(wallOriginUs: Long): (Array[Long], Array[Ev]) = {
    val end = horizonUs
    val (o1, e1) = timeline.span(0, end, wallOriginUs)
    val (o2, e2) = timeline.span(end, end + WindowUs + 1, wallOriginUs, timeline.displaysBefore(end))
    (o1 ++ o2, e1 ++ e2)
  }

  def run(): Result = {
    // the burst runs first, so that its cold batch warms the JVM up for the
    // open loop, which then gets a fresh session: the heap read after it
    // holds nothing of the burst's
    val t0 = System.nanoTime()
    val capacity = {
      val tl = capacityTimeline(cfg.seed)
      val q = new OutcomeQuery(spark, s"capacity_$setups", s"${cfg.workDir}/capacity-$setups",
        Trigger.ProcessingTime(0L), tl, closedLoopDisplays(tl, CapacityWarmup + CapacityRounds), cores)
      try closedLoop(q, CapacityWarmup, CapacityRounds, tr) finally q.stop()
    }
    setup(cores)
    val t1 = System.nanoTime()
    val latency = runOpenLoop()
    System.err.println(f"[joinbench] capacity burst ${(t1 - t0) / 1e9}%.1f s, open loop ${(System.nanoTime() - t1) / 1e9}%.1f s")
    if (tr.requested)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${cfg.workDir}/progress.jsonl"),
        open.progress.map(_.json).asJava)
    Result(latency.metrics ++ capacity.metrics, latency.layers,
      latency.attempted + capacity.attempted, latency.failed + capacity.failed,
      latency.notes ++ capacity.notes)
  }

  private def runOpenLoop(): Result = {
    val clock = open.clock
    val sink = open.sink
    val warmUs = LatencyWarmupS * 1000000L
    val windowUs = cfg.seconds * 1000000L
    val endUs = horizonUs
    // per append: its first event's offset, how late it was sent, its cost
    val appends = ArrayBuffer[(Long, Double, Long)]()
    // the timeline was built at set-up; re-anchor its event times to now
    val built = clock.originUs
    clock.restart()
    val shift = clock.originUs - built
    val cpu = new CpuSampler(clock)
    val events = prebuilt._2.map(e => e.copy(ts = Timeline.timestamp(Timeline.micros(e.ts) + shift)))
    val offsets = prebuilt._1
    if (tr.requested) replayed += events
    var next = 0
    while (next < events.length) {
      val now = clock.nowUs - clock.originUs
      if (offsets(next) <= now) {
        // a traced run traces its second window only
        val w = (offsets(next) - warmUs) / windowUs
        if (w == 1) tr.enable() else if (w == 2) tr.disable()
        var end = next
        while (end < events.length && offsets(end) <= now) end += 1
        val t0 = System.nanoTime()
        tr.span("source")(open.input.addData(events.slice(next, end).toSeq))
        appends += ((offsets(next), (now - offsets(next)) / 1000.0, System.nanoTime() - t0))
        next = end
      } else LockSupport.parkNanos(math.min(offsets(next) - now, 2000L) * 1000L)
    }
    open.input.addData(Timeline.flush(clock.originUs, endUs + 5 * WindowUs))
    val n = timeline.displaysBefore(endUs)
    val drained = open.awaitOutcomes(n)
    cpu.stop()
    val progress = open.progress

    /** End-to-end numbers of the displays created in timed window `w` and
      * the batches started then.
      */
    def window(w: Int): (Map[String, Double], Seq[StreamingQueryProgress]) = {
      val fromUs = warmUs + w * windowUs
      val toUs = fromUs + windowUs
      val batches = progress.filter(p => p.numInputRows > 0 &&
        open.startedUs(p) >= clock.originUs + fromUs && open.startedUs(p) < clock.originUs + toUs)
      val joinLat, missLat, outcomeLat = ArrayBuffer[Double]()
      val sliceEnd = new Array[Long](cfg.seconds)
      (timeline.displaysBefore(fromUs) until timeline.displaysBefore(toUs)).foreach { i =>
        if (sink.count(i) == 1) {
          val d = timeline.displayOffsetUs(i)
          val arrival = sink.arrivalUs(i) - clock.originUs
          if (sink.joined(i)) joinLat += (arrival - openJoinOriginUs(d, timeline.clickDelayUs(i))) / 1000.0
          else missLat += (arrival - timeoutOriginUs(d)) / 1000.0
          outcomeLat += (arrival - d) / 1000.0
          val s = ((d - fromUs) / 1000000L).toInt
          sliceEnd(s) = math.max(sliceEnd(s), arrival - (fromUs + s * 1000000L))
        }
      }
      val batchMs = batches.map { p =>
        val start = open.startedUs(p)
        cpu.between(start, start + p.durationMs.get("triggerExecution") * 1000L) / 1e6
      }
      (Map(
        "join_latency_p50_ms" -> Stats.median(joinLat.toSeq),
        "join_latency_tail_ms" -> Stats.tail(joinLat.toSeq, 99),
        "timeout_latency_p50_ms" -> Stats.median(missLat.toSeq),
        "timeout_latency_tail_ms" -> Stats.tail(missLat.toSeq, 99),
        "batch_ms_p50" -> Stats.median(batchMs),
        "batch_ms_tail" -> Stats.tail(batchMs, 99),
        "pass_s" -> Stats.median(sliceEnd.toSeq.map(_ / 1e6)),
        "query_ms_p50" -> Stats.median(outcomeLat.toSeq),
        "query_ms_tail" -> Stats.tail(outcomeLat.toSeq, 99)), batches)
    }

    /** Events appended but not yet taken, at each batch start (a batch
      * takes everything appended before it starts).
      */
    def backlog(batches: Seq[StreamingQueryProgress]): Seq[Double] = batches.map { p =>
      val prev = progress.filter(_.batchId < p.batchId).filter(_.numInputRows > 0)
      val takenAt = if (prev.isEmpty) 0L else open.startedUs(prev.last) - clock.originUs
      (appendedUntil(offsets, open.startedUs(p) - clock.originUs) - appendedUntil(offsets, takenAt)).toDouble
    }

    val (metrics, batches) = window(0)
    val heap = Heap.usedMbAfterGc()
    val (attempted, failed, notes) = open.check(n, drained)
    val layers = if (!tr.requested) Map.empty[String, Double] else {
      val (traced, tracedBatches) = window(1)
      val (after, _) = window(2)
      val tracedAppends = appends.filter(a => a._1 >= warmUs + windowUs && a._1 < warmUs + 2 * windowUs)
      val headline = "join_latency_p50_ms"
      streamLayers(open, progress, tracedBatches, tr) ++ Map(
        "generator_lag_ms" -> Stats.tail(tracedAppends.map(_._2).toSeq, 99),
        "backlog_events" -> backlog(tracedBatches).max,
        "source_append_ms" -> tracedAppends.map(_._3).sum / 1e6 / tracedAppends.size,
        "sink_ms" -> sink.sinkNs / 1e6,
        "rows_out" -> sink.rows.toDouble,
        "trace_overhead_pct" -> Stats.overheadPct(metrics(headline), traced(headline), after(headline)))
    }
    val b = backlog(batches)
    val grew = b.size >= 4 && b.takeRight(2).sum > 2 * b.take(2).sum
    val lateNote = if (grew) Seq("backlog grew over the timed window: latency void") else Nil
    Result(metrics + ("heap_mb" -> heap), layers, attempted, failed, notes ++ lateNote)
  }

  private def appendedUntil(offsets: Array[Long], atUs: Long): Long = {
    val k = java.util.Arrays.binarySearch(offsets, atUs)
    (if (k >= 0) k + 1 else -k - 1).toLong
  }

  /** Stream ≡ batch (traced runs): the replayed events as an `events`
    * table through the batch `EventJoins.viewOutcomes`, compared display by
    * display with what the stream emitted. Returns the batch layers it
    * exercised and the number of displays whose verdicts differ.
    */
  def parity(): (Map[String, Double], Long) = tr.span("parity") {
    val s = spark
    import s.implicits._
    val rows = replayed.iterator.flatten.zipWithIndex.map { case (e, id) =>
      (id.toLong, Timeline.micros(e.ts), Timeline.indexOf(e.key),
        if (e.kind == "display") "view" else "click")
    }.toSeq
    val displays = rows.count(_._4 == "view")
    val dir = s"${cfg.workDir}/parity"
    TableGen.writeFrame(rows.toDF("event_id", "ts_us", "user_id", "event_type").selectExpr(
      "event_id", "CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ) AS ts", "user_id", "event_type",
      "CAST(0.0 AS DOUBLE) AS value", "'{}' AS props"), dir, "events")
    val before = Exec.counts(tr)
    val loads = Exec.loadTables(s, tr, dir, Seq(graft.Tables.events))
    var verdicts = Array.empty[Row]
    val (exec, _) = Exec.measure(s, tr, "parity",
      EventJoins.viewOutcomes(graft.Tables.events(s, dir), "1 SECOND"),
      df => verdicts = df.select("user_id", "status").collect())
    val sink = open.sink
    val seen = new Array[Byte](sink.count.length)
    var differ = 0L
    verdicts.foreach { r =>
      val i = r.getLong(0).toInt
      seen(i) = (seen(i) + 1).toByte
      if ((r.getString(1) == "joined") != sink.joined(i)) differ += 1
    }
    differ += (0 until displays).count(i => seen(i) != 1)
    (Exec.layers(tr, before, Seq(Seq(exec)), loads), differ)
  }
}

object StreamWork {
  final case class Mix(rate: Int, pIn: Double, pLate: Double, pOrphan: Double)
  /** ~1,000 displays/s, match-heavy: about 1.75k events/s. */
  val LatencyMix = Mix(1000, 0.6, 0.1, 0.05)
  /** 10k displays per 1 s round, timeout-heavy. */
  val CapacityMix = Mix(10000, 0.4, 0.1, 0.05)
  /** Fixed trigger of the open loop, above the engine's per-batch fixed cost. */
  val LatencyTriggerS = 2L
  /** Open-loop seconds before the timed window: two triggers, on an engine
    * the capacity burst has warmed up.
    */
  val LatencyWarmupS = 4
  val RoundUs = 1000000L
  /** Closed-loop rounds of `stream_latency`'s capacity burst: warm-up
    * (the first, cold, costs 2.5x a warm one; the next two still fall by a
    * few %), then the timed rounds. Fixed counts, so the timed rounds sit
    * at the same place of that curve in every run.
    */
  val CapacityWarmup = 3
  val CapacityRounds = 3
  /** Closed-loop rounds of the traced run's one-core probe. */
  val OneCoreWarmup = 1
  val OneCoreRounds = 2
  val DrainTimeoutS = 30
  /** Event-time origin of the closed loop: 2024-01-01. */
  val ClosedOriginUs = 1704067200000000L

  def capacityTimeline(seed: Long): Timeline =
    new Timeline(seed, CapacityMix.rate, CapacityMix.pIn, CapacityMix.pLate, CapacityMix.pOrphan)

  /** Sink slots a closed loop of `rounds` rounds, warm-up included, needs. */
  def closedLoopDisplays(tl: Timeline, rounds: Int): Int = tl.displaysBefore(rounds * RoundUs) + 1

  /** Closed loop: append one round (1 s of event time of `q`'s timeline),
    * wait for `processAllAvailable`, repeat: `warm` warm-up rounds, then
    * `timed` timed ones. Then the owed clicks and a flush close every
    * window, and every display's outcome is checked. Reports `events_per_s`,
    * the timed rounds' events per second of [[Cpu]] time, and the stream
    * layers of their batches.
    */
  def closedLoop(q: OutcomeQuery, warm: Int, timed: Int, tr: Trace): Result = {
    val tl = q.timeline
    val appendAt, appendEnd = ArrayBuffer[Long]()
    val appendMs, roundMs, roundCpuMs = ArrayBuffer[Double]()
    var timedCpuNs, timedEvents = 0L
    var k = 0
    while (k < warm + timed) {
      val events = tl.span(k * RoundUs, (k + 1) * RoundUs, ClosedOriginUs)._2
      val c0 = Cpu.nowNs
      val t0 = q.clock.nowUs
      tr.span("round") {
        q.input.addData(events.toSeq)
        appendMs += (q.clock.nowUs - t0) / 1000.0
        q.query.processAllAvailable()
      }
      val t1 = q.clock.nowUs
      val c1 = Cpu.nowNs
      appendAt += t0
      appendEnd += t1
      roundMs += (t1 - t0) / 1000.0
      roundCpuMs += (c1 - c0) / 1e6
      if (k >= warm) { timedCpuNs += c1 - c0; timedEvents += events.length }
      k += 1
    }
    val rounds = k
    System.err.println(s"[joinbench] ${q.query.name} round ms, wall/cpu: " +
      roundMs.zip(roundCpuMs).map { case (w, c) => s"${w.round}/${c.round}" }.mkString(" ") + s" ($warm warm-up)")
    val n = tl.displaysBefore(rounds * RoundUs)
    val owed = tl.span(rounds * RoundUs, rounds * RoundUs + WindowUs + 1, ClosedOriginUs, n)._2
    q.input.addData(owed.toSeq ++ Timeline.flush(ClosedOriginUs, rounds * RoundUs + 5 * WindowUs))
    q.query.processAllAvailable()
    val drained = q.awaitOutcomes(n)
    val (attempted, failed, notes) = q.check(n, drained)
    val progress = q.progress
    val timedBatches = progress.filter(p => q.startedUs(p) >= appendAt(warm) && q.startedUs(p) < appendEnd.last)
    // the closed loop's client generates the next round between rounds
    val gaps = (warm + 1 until rounds).map(r => (appendAt(r) - appendEnd(r - 1)) / 1000.0)
    val (joined, missed) = q.sink.outcomes(n)
    val layers = streamLayers(q, progress, timedBatches, tr) ++ Map(
      "generator_lag_ms" -> Stats.median(gaps),
      "backlog_events" -> timedEvents.toDouble / timed,
      "source_append_ms" -> Stats.median(appendMs.drop(warm).toSeq),
      "sink_ms" -> q.sink.sinkNs / 1e6,
      "rows_out" -> q.sink.rows.toDouble,
      "outcomes_joined" -> joined.toDouble,
      "outcomes_missed" -> missed.toDouble)
    Result(Map("events_per_s" -> timedEvents / (timedCpuNs / 1e9)), layers, attempted, failed, notes)
  }

  /** Single-core baseline (traced runs): the closed loop on a fresh
    * `local[1]` session; its events/s and stream layers.
    */
  def oneCore(cfg: Config, tr: Trace): Result = {
    val spark = graft.Tables.session("joinbench", 1)
    tr.attach(spark)
    try {
      val tl = capacityTimeline(cfg.seed)
      val q = new OutcomeQuery(spark, "one_core", s"${cfg.workDir}/one-core", Trigger.ProcessingTime(0L),
        tl, closedLoopDisplays(tl, OneCoreWarmup + OneCoreRounds), 1)
      try tr.span("one_core")(closedLoop(q, OneCoreWarmup, OneCoreRounds, tr))
      finally q.stop()
    } finally spark.stop()
  }

  private def streamLayers(q: OutcomeQuery, all: Seq[StreamingQueryProgress],
      timed: Seq[StreamingQueryProgress], tr: Trace): Map[String, Double] = {
    def phase(name: String) =
      Stats.median(timed.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)))
    val ops = all.flatMap(_.stateOperators)
    val timedOps = timed.flatMap(_.stateOperators)
    def maxOf(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.max.toDouble
    Map(
      "batches" -> timed.size.toDouble,
      "no_data_batches" -> timed.count(_.numInputRows == 0).toDouble,
      "trigger_ms" -> phase("triggerExecution"),
      "phase_query_planning_ms" -> phase("queryPlanning"),
      "phase_add_batch_ms" -> phase("addBatch"),
      "phase_wal_commit_ms" -> phase("walCommit"),
      "phase_commit_offsets_ms" -> phase("commitOffsets"),
      "phase_latest_offset_ms" -> phase("latestOffset"),
      "batch_tasks" -> tr.tasksPerBatch(q.query.id.toString, timed.map(_.batchId).toSet),
      "state_rows_peak" -> maxOf(ops.map(_.numRowsTotal)),
      "state_rows_updated" -> timedOps.map(_.numRowsUpdated).sum.toDouble,
      "state_rows_removed" -> timedOps.map(_.numRowsRemoved).sum.toDouble,
      "state_bytes_peak" -> maxOf(ops.map(_.memoryUsedBytes)),
      "state_commit_ms" -> timedOps.map(_.commitTimeMs).sum.toDouble,
      "state_update_ms" -> timedOps.map(_.allUpdatesTimeMs).sum.toDouble,
      "state_removal_ms" -> timedOps.map(_.allRemovalsTimeMs).sum.toDouble,
      "watermark_dropped_rows" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  /** Latency origin of a joined row in the open loop: its click's creation. */
  def openJoinOriginUs(displayUs: Long, clickDelayUs: Long): Long = displayUs + clickDelayUs

  /** Latency origin of a missed row: the earliest moment a "missed" verdict
    * is allowed, once event time passes the window and the watermark delay.
    */
  def timeoutOriginUs(displayUs: Long): Long = displayUs + WindowUs + DelayUs

  /** Displays below `n` without exactly one outcome equal to `truth`. */
  def wrongOutcomes(n: Int, count: Array[Byte], joined: Array[Boolean],
      truth: Long => Boolean): Long =
    (0 until n).count(i => count(i) != 1 || joined(i) != truth(i)).toLong
}

/** Wall clock in µs, anchored at construction, monotonic. */
final class Clock {
  private var originNs = System.nanoTime()
  var originUs: Long = System.currentTimeMillis() * 1000L
  /** Subtracted from a `currentTimeMillis` stamp (progress events) to get clock µs. */
  val epochSkewUs: Long = System.currentTimeMillis() * 1000L - nowUs
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L
  /** Moves the origin to now; timeline offsets count from here. */
  def restart(): Unit = { val n = nowUs; originNs = System.nanoTime(); originUs = n }
}

object Heap {
  /** Used heap after a forced full collection, in MB: the least of three
    * readings 100 ms apart, so that what Spark's context cleaner or a
    * background thread holds for a moment does not count.
    */
  def usedMbAfterGc(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
