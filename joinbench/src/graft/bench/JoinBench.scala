package graft.bench

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: String)

object Config {
  val Workloads = Seq("stream_latency", "batch_queries")

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val c = Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
    require(Workloads.contains(c.workload), s"unknown workload ${c.workload}")
    require(c.seconds > 0, "--seconds must be positive")
    c
  }
}

/** End-to-end samples, the traced run's layer numbers, and the check. */
final case class Result(
    metrics: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, notes: Seq[String])

trait Workload {
  /** Session, generated inputs and (for streams) a started query. */
  def setup(cores: Int): Unit
  def run(): Result
  def teardown(): Unit
}

/** One benchmark run: set up [[Setups]] times (reporting the median; once
  * when traced), run the workload on the last set-up, check it, and print
  * one JSON line prefixed by [[ResultTag]].
  *
  * {{{
  * java ... graft.bench.JoinBench --workload stream_latency --seed 1 \
  *   --seconds 10 --trace 0 --work <dir>
  * }}}
  */
object JoinBench {
  val ResultTag = "JOINBENCH_RESULT "
  val Setups = 5
  /** Task threads: one fewer than the host's cores, so the generator and
    * Spark's scheduling thread keep a core.
    */
  val Cores: Int = math.max(1, Runtime.getRuntime.availableProcessors - 1)

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cfg.workDir))
    val tr = new Trace(cfg.trace, s"${cfg.workload}-${cfg.seed}")
    val work: Workload =
      if (cfg.workload == "batch_queries") new BatchWork(cfg, tr) else new StreamWork(cfg, tr)
    // set-up time is an end-to-end metric, which a traced run does not report
    val setups = (1 to (if (cfg.trace) 1 else Setups)).map { _ =>
      val (t0, c0) = (System.nanoTime(), Cpu.nowNs)
      work.setup(Cores)
      ((System.nanoTime() - t0) / 1e9, (Cpu.nowNs - c0) / 1e9)
    }
    // CPU time, as every CPU-bound figure of the bench: set-up (session
    // and Spark context start) keeps no core waiting
    val setupS = setups.map(_._2)
    System.err.println(s"[joinbench] set-up seconds, wall/cpu: ${setups.map(s => f"${s._1}%.3f/${s._2}%.3f").mkString(" ")}")
    val own = work.run()
    val res = if (cfg.trace) withProbes(cfg, tr, work, own) else own
    work.teardown()
    tr.write(s"${cfg.workDir}/trace.jsonl")
    val out = Map(
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "notes" -> res.notes,
      "metrics" -> (res.metrics + ("setup_s" -> Stats.median(setupS))),
      "layers" -> (res.layers + ("setup_s_max" -> setupS.max)),
      "cores" -> Cores)
    println(ResultTag + Stats.json(out))
  }

  /** The traced run's probes, so every layer is read on every workload:
    * a stream workload checks stream ≡ batch through the batch join (the
    * batch layers), and every workload replays the closed loop on one core
    * (`events_per_s_1core`, and the stream layers of `batch_queries`).
    * The workload's own layer numbers take precedence.
    */
  private def withProbes(cfg: Config, tr: Trace, work: Workload, own: Result): Result = {
    tr.enable()
    val (parityLayers, differ) = work match {
      case s: StreamWork => s.parity()
      case _ => (Map.empty[String, Double], 0L)
    }
    work.teardown()
    val one = StreamWork.oneCore(cfg, tr)
    val notes = own.notes ++ one.notes.map("one-core probe: " + _) ++
      (if (differ > 0) Seq(s"$differ displays differ between stream and batch") else Nil)
    // the closed loop is deterministic: these must repeat exactly for a seed
    val repeatable = Seq("outcomes_joined", "outcomes_missed", "state_rows_peak")
      .map(k => s"closed_loop_$k" -> one.layers(k))
    Result(own.metrics,
      one.layers ++ parityLayers ++ own.layers ++ repeatable +
        ("events_per_s_1core" -> one.metrics("events_per_s")),
      own.attempted + one.attempted, own.failed + one.failed + differ, notes)
  }
}
