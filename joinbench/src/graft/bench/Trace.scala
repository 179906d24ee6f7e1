package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the calls the bench makes into each layer, Spark
  * listener counts attributed to the span that submitted the work, and the
  * planning time of each query execution. `requested` by `--trace 1`, it
  * is on only between [[enable]] and [[disable]], so a traced run measures
  * untraced, traced, then untraced again; everything stays in memory until
  * [[write]].
  */
final class Trace(val requested: Boolean, runId: String) {
  import Trace._

  private final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var spark: SparkSession = _
  @volatile private var on = false
  def enabled: Boolean = on
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageBatch = new ConcurrentHashMap[Int, String]()
  private val batchTasks = new ConcurrentHashMap[String, AtomicLong]()
  private val planMsTotal = new AtomicLong

  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) listen(s)
  }

  /** Starts tracing on the attached session, if tracing was requested. */
  def enable(): Unit = if (requested && !on) {
    on = true
    listen(spark)
  }

  def disable(): Unit = if (on) {
    on = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  private def listen(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(planListener)
  }

  /** Optimization and physical-planning ms of every query execution that
    * finished while tracing was on, read once the listeners caught up.
    */
  def planMs: Long = { drain(); planMsTotal.get }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
        spans += s
        open = s.id :: open
        s
      }
      spark.sparkContext.setLocalProperty(LayerKey, name)
      try body
      finally synchronized {
        s.endNs = System.nanoTime()
        open = open.tail
        spark.sparkContext.setLocalProperty(LayerKey, open.headOption.map(spans(_).name).orNull)
      }
    }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = if (on && spark != null) org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  def count(layer: String): Counters = counters.computeIfAbsent(layer, _ => new Counters)

  /** Tasks per micro-batch of one streaming query, over the given batches. */
  def tasksPerBatch(queryId: String, batchIds: Set[Long]): Double = {
    drain()
    if (batchIds.isEmpty) 0.0
    else batchIds.toSeq.map(b => Option(batchTasks.get(s"$queryId/$b")).map(_.get).getOrElse(0L))
      .sum.toDouble / batchIds.size
  }

  /** One JSON line per span: name, start, end (ns, relative), parent, run id. */
  def write(path: String): Unit = if (requested) {
    val lines = synchronized(spans.toSeq).map { s =>
      Stats.json(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      planMsTotal.addAndGet(Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(phases.get).map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val listener = new SparkListener {
    private def layerOf(props: java.util.Properties) =
      Option(props).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("other")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = layerOf(e.properties)
      count(layer).jobs.incrementAndGet()
      val batch = Option(e.properties).flatMap(p =>
        Option(p.getProperty(BatchIdKey)).map(b => s"${p.getProperty(QueryIdKey)}/$b"))
      e.stageIds.foreach { s =>
        stageLayer.putIfAbsent(s, layer)
        batch.foreach(b => stageBatch.putIfAbsent(s, b))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      count(stageLayer.getOrDefault(e.stageInfo.stageId, layerOf(e.properties))).stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = count(stageLayer.getOrDefault(e.stageId, "other"))
      c.tasks.incrementAndGet()
      Option(stageBatch.get(e.stageId)).foreach(b =>
        batchTasks.computeIfAbsent(b, _ => new AtomicLong).incrementAndGet())
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

object Trace {
  val LayerKey = "graft.bench.layer"
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"

  final class Counters {
    val jobs, stages, tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  }
}
