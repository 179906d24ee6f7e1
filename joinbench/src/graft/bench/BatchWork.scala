package graft.bench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}

/** Seeded `events`, `orders` and `lineitem` tables with the test data's
  * schemas and value shapes (TESTDATA.md): one parquet file per table, as
  * both Spark and DuckDB read them, written without Spark so that set-up
  * does not pay for Spark jobs. Timestamps are TIMESTAMP(MICROS, not
  * adjusted to UTC), the test data's encoding. The same seed gives the same
  * files.
  */
object TableGen {
  def eventRows(sf: Double): Long = (1000000 * sf).toLong

  private val EventTypes = Array("view", "click", "purchase", "error", "signup")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayUs = 86400L * 1000000L
  private val Day1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * DayUs

  private def pick(r: SplittableRandom, xs: Array[String]) = xs(r.nextInt(xs.length))

  def write(dir: String, seed: Long, sf: Double): Unit = {
    val nEvents = eventRows(sf)
    val nOrders = (1500000 * sf).toLong
    def keys(n: Double) = (n * sf).toLong.max(1)
    val base = 1704067200000000L // 2024-01-01
    val stepUs = 30L * DayUs / nEvents
    writeOne(dir, "events", seed, nEvents,
      """message events { optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,false));
        |  optional int64 user_id; optional binary event_type (STRING); optional double value;
        |  optional binary props (STRING); }""".stripMargin) { (r, i, g) =>
      g.add("event_id", i)
      g.add("ts", base + i * stepUs + r.nextLong(stepUs))
      g.add("user_id", r.nextLong(keys(15000)))
      g.add("event_type", pick(r, EventTypes))
      g.add("value", r.nextInt(50000) / 100.0)
      g.add("props", s"""{"k": ${r.nextInt(100)}}""")
    }
    writeOne(dir, "orders", seed, nOrders,
      """message orders { optional int64 o_orderkey; optional int64 o_custkey;
        |  optional binary o_orderstatus (STRING); optional double o_totalprice;
        |  optional int64 o_orderdate (TIMESTAMP(MICROS,false)); optional binary o_orderpriority (STRING); }""".stripMargin) {
      (r, i, g) =>
        g.add("o_orderkey", i)
        g.add("o_custkey", r.nextLong(keys(150000)))
        g.add("o_orderstatus", pick(r, Array("O", "F", "P")))
        g.add("o_totalprice", (r.nextInt(50000000) + 100000) / 100.0)
        g.add("o_orderdate", Day1995 + r.nextInt(2400) * DayUs)
        g.add("o_orderpriority", pick(r, Priorities))
    }
    writeOne(dir, "lineitem", seed, (6000000 * sf).toLong,
      """message lineitem { optional int64 l_orderkey; optional int64 l_partkey; optional int64 l_suppkey;
        |  optional int32 l_linenumber; optional double l_quantity; optional double l_extendedprice;
        |  optional double l_discount; optional double l_tax; optional binary l_returnflag (STRING);
        |  optional binary l_linestatus (STRING); optional int64 l_shipdate (TIMESTAMP(MICROS,false)); }""".stripMargin) {
      (r, _, g) =>
        g.add("l_orderkey", r.nextLong(nOrders))
        g.add("l_partkey", r.nextLong(keys(200000)))
        g.add("l_suppkey", r.nextLong(keys(10000)))
        g.add("l_linenumber", r.nextInt(7) + 1)
        g.add("l_quantity", (r.nextInt(50) + 1).toDouble)
        g.add("l_extendedprice", (r.nextInt(10000000) + 90000) / 100.0)
        g.add("l_discount", r.nextInt(11) / 100.0)
        g.add("l_tax", r.nextInt(9) / 100.0)
        g.add("l_returnflag", pick(r, Array("A", "N", "R")))
        g.add("l_linestatus", pick(r, Array("O", "F")))
        g.add("l_shipdate", Day1995 + (1 + r.nextInt(2498)) * DayUs)
    }
  }

  /** Writes `rows` rows of `schema` to `<dir>/<name>.parquet`, one seeded
    * stream of draws per table.
    */
  private def writeOne(dir: String, name: String, seed: Long, rows: Long, schema: String)(
      row: (SplittableRandom, Long, Group) => Unit): Unit = {
    val tpe = MessageTypeParser.parseMessageType(schema)
    val file = new Path(new java.io.File(s"$dir/$name.parquet").getAbsoluteFile.toURI)
    val w = ExampleParquetWriter.builder(file).withType(tpe).withConf(new Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val r = new SplittableRandom(Timeline.mix(seed ^ name.hashCode.toLong))
    val groups = new SimpleGroupFactory(tpe)
    try {
      var i = 0L
      while (i < rows) {
        val g = groups.newGroup()
        row(r, i, g)
        w.write(g)
        i += 1
      }
    } finally w.close()
  }

  /** Writes `df` as the single file `<dir>/<name>.parquet`. */
  def writeFrame(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }
}

/** `batch_queries`: sequential passes over the reference's joins, an
  * execution-bound aggregate and a construction-bound iterative query.
  */
final class BatchWork(cfg: Config, tr: Trace) extends Workload {
  import BatchWork._

  private var spark: SparkSession = _
  private var dataDir: String = _
  private var setups = 0

  def setup(cores: Int): Unit = {
    teardown()
    setups += 1
    spark = Tables.session("joinbench", cores)
    tr.attach(spark)
    dataDir = s"${cfg.workDir}/data-$setups"
    Files.createDirectories(Paths.get(dataDir))
    TableGen.write(dataDir, cfg.seed, Scale)
  }

  def teardown(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** One query through the noop sink; the heap is read before the drop if asked. */
  private def once(q: String, readHeap: Boolean = false): (Exec, Double) =
    Exec.measure(spark, tr, q, SparkEntry.queries(q)(spark, dataDir),
      _.write.format("noop").mode("overwrite").save(), readHeap)

  /** One pass; the heap is read after the last query, before its drop. */
  private def pass(): (Seq[Exec], Double) = {
    val runs = Queries.map(q => once(q, readHeap = q == Queries.last))
    (runs.map(_._1), runs.last._2)
  }

  /** The untimed check pass: every query's rows and its oracle SQL, laid
    * out as `graft.Verify` does for `scripts/check_oracle.py`.
    */
  private def checkPass(dir: String): Int = {
    var failed = 0
    Queries.foreach { q =>
      try {
        SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$dir/$q")
      } catch { case e: Exception =>
        System.err.println(s"[joinbench] $q failed: ${e.getMessage}")
        failed += 1
      }
      Exec.dropPins(spark)
    }
    val oracle = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.write(Paths.get(s"$dir/oracle_sql.json"), Stats.json(oracle).getBytes("UTF-8"))
    failed
  }

  def run(): Result = {
    val checkFailed = checkPass(s"${cfg.workDir}/check")
    // a pass's time is the sum of its queries', without the heap read and drops
    def passSeconds(execs: Seq[Exec]) = execs.map(_.totalMs).sum / 1000.0
    def passCpuSeconds(execs: Seq[Exec]) = execs.map(_.cpuMs).sum / 1000.0
    val warm = (1 to WarmupPasses).map(_ => pass()._1)
    val timed = ArrayBuffer[(Seq[Exec], Double)]()
    while (timed.map(t => passSeconds(t._1)).sum < cfg.seconds || timed.size < MinTimed) timed += pass()
    def show(passes: Seq[Seq[Exec]]) =
      passes.map(p => f"${passSeconds(p)}%.2f/${passCpuSeconds(p)}%.2f").mkString(" ")
    System.err.println(s"[joinbench] pass seconds, wall/cpu: warm-up ${show(warm)}, timed ${show(timed.map(_._1).toSeq)}")
    val execs = timed.flatMap(_._1).toSeq
    // one sample per pass: the queries cost 0.2-5 s each, so a percentile
    // over single executions jumps between queries from run to run
    def perPass(f: Seq[Exec] => Double) = timed.map(t => f(t._1)).toSeq
    def groupMean(qs: Set[String])(es: Seq[Exec]) = es.filter(e => qs(e.query)).map(_.cpuMs).sum / qs.size
    val joinMs = perPass(groupMean(JoinQueries))
    val timeoutMs = perPass(groupMean(TimeoutQueries))
    val execMs = perPass(es => Stats.median(es.map(_.execCpuMs)))
    val queryMs = perPass(es => Stats.median(es.map(_.cpuMs)))
    val eventExecs = execs.filter(e => EventQueries(e.query))
    val passS = Stats.median(perPass(passCpuSeconds))
    val metrics = Map(
      "join_latency_p50_ms" -> Stats.median(joinMs),
      "join_latency_tail_ms" -> Stats.tail(joinMs, 90),
      "timeout_latency_p50_ms" -> Stats.median(timeoutMs),
      "timeout_latency_tail_ms" -> Stats.tail(timeoutMs, 90),
      "events_per_s" -> TableGen.eventRows(Scale) * eventExecs.size / (eventExecs.map(_.cpuMs).sum / 1000.0),
      "batch_ms_p50" -> Stats.median(execMs),
      "batch_ms_tail" -> Stats.tail(execMs, 90),
      "pass_s" -> passS,
      "query_ms_p50" -> Stats.median(queryMs),
      "query_ms_tail" -> Stats.tail(queryMs, 90),
      "heap_mb" -> Stats.median(timed.map(_._2).toSeq))
    val layers = if (!tr.requested) Map.empty[String, Double] else {
      // passes traced, each after the bench's own table loads, then as
      // many untraced
      tr.enable()
      val before = Exec.counts(tr)
      val loads = ArrayBuffer[Double]()
      val traced = (1 to TracedPasses).map { _ =>
        loads ++= Exec.loadTables(spark, tr, dataDir, Seq(Tables.events, Tables.orders, Tables.lineitem))
        tr.span("pass")(pass())._1
      }
      val layers = Exec.layers(tr, before, traced, loads.toSeq)
      tr.disable()
      val after = (1 to TracedPasses).map(_ => passCpuSeconds(pass()._1))
      layers + ("trace_overhead_pct" ->
        Stats.overheadPct(passS, Stats.median(traced.map(passCpuSeconds)), Stats.median(after)))
    }
    Result(metrics, layers, Queries.size + execs.size.toLong, checkFailed,
      if (checkFailed > 0) Seq(s"$checkFailed queries failed in the check pass") else Nil)
  }
}

/** One query execution split into the layers the bench times from
  * outside: construction, then the action (`save()`), which plans and
  * executes. `planMs`, the action's optimization and physical planning, is
  * part of `execMs` and read only while tracing. The `*Ms` are wall time;
  * `cpuMs` (construction and action) and `execCpuMs` (the action) are
  * [[Cpu]] time, which the end-to-end metrics report.
  */
final case class Exec(query: String, constructMs: Double, planMs: Double,
    execMs: Double, leakedBlocks: Long, leakedBytes: Long, cpuMs: Double, execCpuMs: Double) {
  def totalMs: Double = constructMs + execMs
}

object Exec {
  /** Construct (`build`), then run the frame through `action`; read what
    * it left pinned, and the heap if asked, then drop the pins.
    */
  def measure(spark: SparkSession, tr: Trace, name: String, build: => DataFrame,
      action: DataFrame => Unit, readHeap: Boolean = false): (Exec, Double) = {
    val c0 = Cpu.nowNs
    val t0 = System.nanoTime()
    val df = tr.span("construct")(build)
    val t1 = System.nanoTime()
    val c1 = Cpu.nowNs
    val plan0 = if (tr.enabled) tr.planMs else 0L
    val c2 = Cpu.nowNs
    val t2 = System.nanoTime()
    tr.span("exec")(action(df))
    val t3 = System.nanoTime()
    val c3 = Cpu.nowNs
    val planMs = if (tr.enabled) tr.planMs - plan0 else 0L
    val info = spark.sparkContext.getRDDStorageInfo
    val heap = if (readHeap) Heap.usedMbAfterGc() else 0.0
    dropPins(spark)
    (Exec(name, (t1 - t0) / 1e6, planMs.toDouble, (t3 - t2) / 1e6,
      info.map(_.numCachedPartitions.toLong).sum, info.map(r => r.memSize + r.diskSize).sum,
      (c1 - c0 + c3 - c2) / 1e6, (c3 - c2) / 1e6), heap)
  }

  /** Drops every pinned block, as the engine's own bench does between rows. */
  def dropPins(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** The bench's own timed `Tables` calls, in ms each. */
  def loadTables(spark: SparkSession, tr: Trace, dir: String,
      loaders: Seq[(SparkSession, String) => DataFrame]): Seq[Double] =
    loaders.map { f =>
      val t0 = System.nanoTime()
      tr.span("load")(f(spark, dir))
      (System.nanoTime() - t0) / 1e6
    }

  private val Layers = Seq("load", "construct", "exec")

  /** Listener counts per layer so far (complete once the bus is drained). */
  def counts(tr: Trace): Map[String, Seq[Long]] = {
    tr.drain()
    Layers.map { l =>
      val c = tr.count(l)
      l -> Seq(c.jobs, c.stages, c.tasks, c.cpuNs, c.gcMs, c.shuffleRead, c.shuffleWrite, c.spill).map(_.get)
    }.toMap
  }

  /** Per-pass layer numbers over `passes`, counting only work since `before`. */
  def layers(tr: Trace, before: Map[String, Seq[Long]], passes: Seq[Seq[Exec]],
      loads: Seq[Double]): Map[String, Double] = {
    val after = counts(tr)
    val n = passes.size.toDouble
    def d(layer: String, k: Int) = (after(layer)(k) - before(layer)(k)) / n
    def perPass(f: Exec => Double) = Stats.median(passes.map(_.map(f).sum))
    Map(
      "tables_load_ms" -> Stats.median(loads),
      "load_jobs" -> (after("load")(0) - before("load")(0)).toDouble / loads.size,
      "construct_ms" -> perPass(_.constructMs),
      "construct_jobs" -> d("construct", 0),
      "plan_ms" -> perPass(_.planMs),
      "exec_ms" -> perPass(_.execMs),
      "jobs" -> d("exec", 0),
      "stages" -> d("exec", 1),
      "tasks" -> d("exec", 2),
      "task_cpu_ms" -> d("exec", 3) / 1e6,
      "task_gc_ms" -> d("exec", 4),
      "shuffle_read_bytes" -> d("exec", 5),
      "shuffle_write_bytes" -> d("exec", 6),
      "spill_bytes" -> d("exec", 7),
      "leaked_blocks" -> perPass(_.leakedBlocks.toDouble),
      "leaked_bytes" -> perPass(_.leakedBytes.toDouble))
  }
}

object BatchWork {
  val Queries: Seq[String] = Seq(
    "q1_clicked_display", "q2_missed_display", "q3_time_shift", "q4_join_merge_json",
    "q5_view_outcomes", "q33_click_attribution", "q20_pricing_summary", "q158_pagerank")
  /** Queries whose rows are joined display/click pairs. */
  val JoinQueries = Set("q1_clicked_display", "q4_join_merge_json", "q33_click_attribution")
  /** Queries whose rows are missed-display verdicts. */
  val TimeoutQueries = Set("q2_missed_display", "q5_view_outcomes")
  val EventQueries: Set[String] = Queries.take(6).toSet
  /** Generated data size, as a scale factor of the test data (TESTDATA.md). */
  val Scale = 0.01
  /** Warm-up passes after the (cold) check pass. Pass times fall over the
    * first passes of a run (8.5, 6.8, 6.2, 5.8 s, then 5.2-6.0 s on a 4-core
    * host): the timed passes sit at the same place of that curve in every
    * run, and their median is that of at least three, so one pass slowed
    * by the host does not move it.
    */
  val WarmupPasses = 1
  val MinTimed = 3
  /** Traced passes of a traced run, and untraced ones after them. */
  val TracedPasses = 2
}
