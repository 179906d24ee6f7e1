package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** CPU time of this JVM as the bench's CPU-bound figures count it: every
  * thread's, ended ones included, but the JIT compiler's.
  *
  * The kernel does not charge a thread for time its virtual CPU was stolen
  * by the host or spent waiting for a core, so these figures move much
  * less than wall time when neighbours load the host (wall time slowed
  * 1.3-2.5x there). The JIT's threads (compilers and code-cache sweeper)
  * are left out: in this engine they still compile Spark's generated code
  * after several passes, 6-10 CPU-seconds a batch pass, and that work
  * lands wherever the compile queue happens to be. The launcher fixes the
  * number of compiler threads (`-XX:-UseDynamicNumberOfCompilerThreads`),
  * so the threads found at the first call are all of them, for the run.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val JitThread = "C[12] CompilerThre.*|Sweeper thread".r

  private lazy val jitThreads: Seq[Path] = {
    val ts = Files.list(Paths.get("/proc/self/task"))
    try ts.iterator.asScala.filter(t => JitThread.matches(read(t.resolve("comm")).trim))
      .map(_.resolve("schedstat")).toList
    finally ts.close()
  }

  /** CPU ns the bench counts: the process's, but the JIT's. */
  def nowNs: Long = {
    val jit = jitThreads.map(p => read(p).split(' ')(0).toLong).sum
    os.getProcessCpuTime - jit
  }

  private def read(p: Path) = new String(Files.readAllBytes(p), "US-ASCII")
}

/** Samples [[Cpu.nowNs]] against `clock` every `periodMs` on its own
  * thread until [[stop]], so the CPU time of an interval known only
  * afterwards (a micro-batch, from its progress record) can be read back.
  */
final class CpuSampler(clock: Clock, periodMs: Long = 5) {
  private val atUs, ns = scala.collection.mutable.ArrayBuffer[Long]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val (t, c) = (clock.nowUs, Cpu.nowNs)
      atUs.synchronized { atUs += t; ns += c }
      Thread.sleep(periodMs)
    }
  }, "joinbench-cpu-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  /** CPU ns spent between clock µs `fromUs` and `toUs`, interpolated
    * between the samples around each end.
    */
  def between(fromUs: Long, toUs: Long): Double = atUs.synchronized {
    CpuSampler.interpolate(atUs, ns, toUs) - CpuSampler.interpolate(atUs, ns, fromUs)
  }
}

object CpuSampler {
  /** CPU ns at clock µs `us`, linear between the samples (`atUs`
    * ascending) around it; the nearest sample outside them.
    */
  def interpolate(atUs: scala.collection.Seq[Long], ns: scala.collection.Seq[Long], us: Long): Double = {
    val i = atUs.search(us).insertionPoint
    if (i <= 0) ns.head.toDouble
    else if (i >= atUs.size) ns.last.toDouble
    else {
      val (t0, t1) = (atUs(i - 1), atUs(i))
      ns(i - 1) + (ns(i) - ns(i - 1)) * (us - t0).toDouble / math.max(1L, t1 - t0)
    }
  }
}
