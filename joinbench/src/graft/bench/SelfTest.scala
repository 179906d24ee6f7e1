package graft.bench

import org.apache.spark.sql.Row
import Timeline.WindowUs

/** Tests of the bench's own logic (no Spark session): the generator's
  * ground truth, the latency origins, the tail percentile, CPU
  * interpolation and failure counting. Exits non-zero on the first failed check.
  *
  * {{{
  * java -cp <classes>:<spark jars>/'*' graft.bench.SelfTest
  * }}}
  */
object SelfTest {
  private var checks = 0

  private def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL $what"); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    generatorIsSeeded()
    groundTruthMatchesEvents()
    spansCompose()
    latencyOrigins()
    tailPercentile()
    cpuInterpolation()
    failureCounting()
    println(s"OK $checks checks")
  }

  private def generatorIsSeeded(): Unit = {
    val a = new Timeline(7, 1000, 0.6, 0.1, 0.05).span(0, 2000000, 0)._2
    val b = new Timeline(7, 1000, 0.6, 0.1, 0.05).span(0, 2000000, 0)._2
    val c = new Timeline(8, 1000, 0.6, 0.1, 0.05).span(0, 2000000, 0)._2
    check(a.toSeq == b.toSeq, "the same seed gives the same events")
    check(a.map(_.key).toSet != c.map(_.key).toSet, "another seed gives other keys")
  }

  private def groundTruthMatchesEvents(): Unit =
    for ((tl, n) <- Seq(new Timeline(3, 1000, 0.6, 0.1, 0.05) -> 4000,
        new Timeline(4, 10000, 0.4, 0.1, 0.05) -> 20000)) {
      val horizon = tl.displayOffsetUs(n - 1) + 1
      val (offsets, events) = tl.span(0, horizon + WindowUs + Timeline.LateSpanUs + 1, 0)
      check(offsets.sameElements(offsets.sorted), "events come in offset order")
      val displays = events.filter(_.kind == "display").take(n)
      check(displays.map(_.key).distinct.length == n, "every display has a fresh key")
      check(displays.indices.forall(i => Timeline.indexOf(displays(i).key) == i),
        "a display key encodes its index")
      val clicks = events.filter(_.kind == "click").groupBy(_.key)
      var joined = 0
      displays.indices.foreach { i =>
        val d = displays(i)
        val bruteForce = clicks.getOrElse(d.key, Array.empty[Ev]).exists { c =>
          val dt = Timeline.micros(c.ts) - Timeline.micros(d.ts)
          dt >= 0 && dt <= WindowUs
        }
        if (bruteForce) joined += 1
        check(bruteForce == tl.joined(i), s"ground truth of display $i matches its clicks")
      }
      check(joined > n * (tl.pIn - 0.05) && joined < n * (tl.pIn + 0.05), "pIn of displays are clicked in W")
      val orphans = events.filter(e => e.kind == "click" && Timeline.indexOf(e.key) < 0)
      check(orphans.nonEmpty && orphans.forall(o => !clicks.contains(o.key) || clicks(o.key).length == 1),
        "orphan clicks share no display's key")
      check(tl.displaysBefore(horizon) == n, "displaysBefore counts displays created before a time")
      check(Timeline.joinedByRule(0, WindowUs) && Timeline.joinedByRule(WindowUs, WindowUs) &&
        !Timeline.joinedByRule(WindowUs + 1, WindowUs) && !Timeline.joinedByRule(-1, WindowUs),
        "the window [d.ts, d.ts + W] is closed at both ends")
    }

  private def spansCompose(): Unit = {
    val tl = new Timeline(5, 10000, 0.4, 0.1, 0.05)
    val whole = tl.span(0, 3000000, 0)._2.toSeq
    val parts = (0 until 3).flatMap(k => tl.span(k * 1000000L, (k + 1) * 1000000L, 0)._2)
    check(whole == parts, "rounds of a closed loop are slices of one timeline")
    // the tail of a run: only in-window clicks of displays already sent
    val n = tl.displaysBefore(3000000)
    val owed = tl.span(3000000, 3000000 + WindowUs + 1, 0, n)._2
    check(owed.forall(e => e.kind == "click" && Timeline.indexOf(e.key) < n && tl.joined(Timeline.indexOf(e.key))),
      "the owed tail holds only in-window clicks of sent displays")
    check(Timeline.flush(0, 5000000).forall(e => Timeline.indexOf(e.key) == Timeline.IgnoredIndex),
      "the flush is ignored by the sink")
  }

  private def latencyOrigins(): Unit = {
    check(StreamWork.openJoinOriginUs(300000, 500000) == 800000,
      "a joined row's latency starts at its click's creation")
    check(StreamWork.timeoutOriginUs(300000) == 2300000,
      "a missed row's latency starts at d.ts + W + watermark delay")
    check(math.abs(Stats.overheadPct(100, 110, 100) - 10) < 1e-9 && Stats.overheadPct(90, 100, 110) == 0.0,
      "tracing overhead compares the traced window with the untraced ones around it")
  }

  private def tailPercentile(): Unit = {
    check(Stats.tailPercentile(1000, 99) == 99, "1000 samples: p99 leaves 10 beyond")
    check(Stats.tailPercentile(999, 99) == 95, "999 samples: p99 leaves fewer than 10")
    check(Stats.tailPercentile(100, 99) == 90, "100 samples: p90")
    check(Stats.tailPercentile(100000, 99) == 99, "the cap bounds the tail")
    check(Stats.tailPercentile(100000, 99.9) == 99.9, "a higher cap allows p99.9")
    check(Stats.tailPercentile(5, 99) == 50, "too few samples fall back to the median")
    check(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5, "percentiles interpolate")
    check(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 90) == 4.6, "p90 of 1..5")
  }

  private def cpuInterpolation(): Unit = {
    val at = Seq(0L, 10L, 20L)
    val ns = Seq(100L, 200L, 400L)
    check(CpuSampler.interpolate(at, ns, 15) == 300.0, "CPU between samples interpolates")
    check(CpuSampler.interpolate(at, ns, 10) == 200.0, "CPU at a sample is that sample")
    check(CpuSampler.interpolate(at, ns, -5) == 100.0 && CpuSampler.interpolate(at, ns, 99) == 400.0,
      "CPU outside the samples is the nearest sample")
  }

  private def failureCounting(): Unit = {
    val truth = Array(true, true, false, true, false)
    val count = Array[Byte](1, 0, 2, 1, 1)
    val joined = Array(true, false, false, false, false)
    // display 1 missing, display 2 twice, display 3 wrong
    check(StreamWork.wrongOutcomes(5, count, joined, i => truth(i.toInt)) == 3,
      "missing, duplicated and wrong outcomes each fail one display")
    val tl = new Timeline(6, 1000, 0.6, 0.1, 0.05)
    val sink = new OutcomeSink(3)
    sink.accept(Array(Row(tl.key(0), "joined"), Row(tl.key(2), "missed"), Row(tl.key(2), "missed"),
      Row(Timeline.flush(0, 0).head.key, "missed"), Row(tl.key(7), "missed")), 1L)
    check(sink.count.toSeq == Seq(1, 0, 2) && sink.unknown == 1 && sink.rows == 5,
      "the sink counts outcomes per display, skips ignored keys, flags unknown ones")
    check(sink.receivedCount == 2, "displays with an outcome")
  }
}
