package graft.bench

import java.util.UUID

/** One input event of the display/click streams, as the bench's
  * `MemoryStream` carries it. `ts` is event time.
  */
final case class Ev(key: String, kind: String, value: String, ts: java.sql.Timestamp)

/** Seeded display/click timeline and its ground truth.
  *
  * Display `i` is created at `i * period + jitter` µs after the timeline
  * origin, with a fresh correlation key (a UUID whose low 64 bits are `i`,
  * so the sink maps an output row back to its display in O(1)). With
  * probability `pIn` it gets one click inside `[d.ts, d.ts + W]`, with
  * probability `pLate` one click strictly after the window, else none.
  * Orphan clicks carry keys no display has. Each display's draw depends
  * only on `(seed, i)`, so any span of the timeline can be generated on
  * its own and the same seed always yields the same events.
  */
final class Timeline(val seed: Long, val displaysPerSec: Int, val pIn: Double,
    val pLate: Double, val pOrphan: Double, val windowUs: Long = Timeline.WindowUs) {
  import Timeline._

  val periodUs: Long = 1000000L / displaysPerSec

  private def rng(i: Long, salt: Long) = new java.util.SplittableRandom(mix(seed ^ mix(i * 4 + salt)))

  def displayOffsetUs(i: Long): Long = i * periodUs + rng(i, 0).nextLong(periodUs)

  /** Click offset after the display, or -1 for a display nobody clicks. */
  def clickDelayUs(i: Long): Long = {
    val r = rng(i, 1)
    val u = r.nextDouble()
    if (u < pIn) r.nextLong(windowUs + 1)
    else if (u < pIn + pLate) windowUs + 1 + r.nextLong(LateSpanUs)
    else -1L
  }

  /** Ground truth: joined iff a same-key click falls in `[d.ts, d.ts + W]`. */
  def joined(i: Long): Boolean = Timeline.joinedByRule(clickDelayUs(i), windowUs)

  def key(i: Long): String = new UUID(mix(seed + i), i).toString

  /** Every event whose offset lies in `[fromUs, toUs)`, ordered by offset,
    * with event time `originUs + offset`. Only displays below
    * `displayLimit` and the in-window clicks of those displays are kept;
    * a late click or an orphan could never change an outcome, so the tail
    * of a run leaves them out.
    */
  def span(fromUs: Long, toUs: Long, originUs: Long,
      displayLimit: Long = Long.MaxValue): (Array[Long], Array[Ev]) = {
    val out = Array.newBuilder[(Long, Ev)]
    def ts(off: Long) = Timeline.timestamp(originUs + off)
    val first = math.max(0L, (fromUs - windowUs - LateSpanUs) / periodUs - 1)
    val open = displayLimit == Long.MaxValue
    var i = first
    while (i * periodUs < toUs && i < displayLimit) {
      val d = displayOffsetUs(i)
      if (d >= fromUs && d < toUs) out += d -> Ev(key(i), "display", DisplayValue, ts(d))
      val c = clickDelayUs(i)
      if (c >= 0 && d + c >= fromUs && d + c < toUs && (open || c <= windowUs))
        out += (d + c) -> Ev(key(i), "click", ClickValue, ts(d + c))
      // orphan clicks ride the display slots, keyed apart from every display
      val r = rng(i, 2)
      if (open && r.nextDouble() < pOrphan) {
        val o = i * periodUs + r.nextLong(periodUs)
        if (o >= fromUs && o < toUs)
          out += o -> Ev(new UUID(mix(~(seed + i)), -1L - i).toString, "click", ClickValue, ts(o))
      }
      i += 1
    }
    val sorted = out.result().sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Number of displays created before `offsetUs` (offsets grow with `i`). */
  def displaysBefore(offsetUs: Long): Int = {
    val i = offsetUs / periodUs
    (if (displayOffsetUs(i) < offsetUs) i + 1 else i).toInt
  }
}

object Timeline {
  val WindowUs: Long = 1000000L
  val DelayUs: Long = 1000000L
  val LateSpanUs: Long = 2000000L
  val DisplayValue = """{"type":"display"}"""
  val ClickValue = """{"type":"click"}"""
  /** Index of the key the sink does not check: the flush that advances the
    * watermark past the last display.
    */
  val IgnoredIndex: Long = Long.MinValue

  def joinedByRule(clickDelayUs: Long, windowUs: Long): Boolean =
    clickDelayUs >= 0 && clickDelayUs <= windowUs

  /** Display index encoded in a key, negative for orphans and the flush. */
  def indexOf(key: String): Long = UUID.fromString(key).getLeastSignificantBits

  def flush(originUs: Long, atUs: Long): Seq[Ev] = {
    val k = new UUID(0L, IgnoredIndex).toString
    Seq(Ev(k, "display", DisplayValue, timestamp(originUs + atUs)),
      Ev(k, "click", ClickValue, timestamp(originUs + atUs)))
  }

  def timestamp(epochUs: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(epochUs, 1000L))
    t.setNanos((Math.floorMod(epochUs, 1000000L) * 1000L).toInt)
    t
  }

  def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** SplitMix64 finalizer: a fixed bijection, so draws depend on the seed only. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
