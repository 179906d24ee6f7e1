package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan and stage probe over [[SparkEntry.queries]], a diagnostic tool
  * (Verify and Bench do not use it):
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<scale-factor dir> \
  *   sbt "runMain graft.tools.Probe <plan|stages|scans> [name-substrings...]"
  * }}}
  *
  * Every query whose name contains one of the substrings (every query when
  * none is given) runs through the noop sink twice: a warm-up that pays
  * codegen and JIT, then the measured run. A QueryExecutionListener
  * captures the measured run's QueryExecution — the one that executed, so
  * its adaptive plan is final — and one SparkListener its stages:
  *  - `plan`: the formatted AQE-final physical plan;
  *  - `stages`: the run's total time, the generated classes it compiled
  *    (count and compile time) and its top stages by duration;
  *  - `scans`: `Scan parquet` and `ReusedExchange` counts of the final
  *    plan. A query scanning a table more often than its logical form
  *    needs (the q90 spine-join case: column pruning defeating
  *    ReuseExchange) silently doubles the corpus read at scale; self-joins
  *    with different filters legitimately scan twice, so this counts, it
  *    does not judge.
  *
  * Queries that compute eagerly at construction (they collect rounds
  * while building: the q193/q200/q250/q284 class) end in a LocalRelation or
  * checkpoint scan, so `plan` and `scans` show only that leaf; `stages`
  * covers the construction jobs too.
  */
object Probe {

  final case class Stage(name: String, ms: Long, tasks: Int, maxTaskMs: Long,
      runMs: Long, gcMs: Long, deserMs: Long, shuffleRead: Long,
      shuffleWrite: Long, input: Long)

  /** The measured run of one query; `compiles` generated classes were
    * compiled during it, in `compileMs`.
    */
  final case class Run(query: String, seconds: Double, qe: QueryExecution,
      stages: Seq[Stage], compiles: Long, compileMs: Double)

  /** Janino compilations so far in this JVM and their total time in ns. A
    * hit in Spark's generated-class cache adds to neither.
    */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** One run of `query` through the noop sink. */
  def save(spark: SparkSession, sfDir: String, query: String): Unit = {
    val kept = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries(query)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    // same isolation as Bench.once: drop the pin blocks the query leaked
    (spark.sparkContext.getPersistentRDDs -- kept).values
      .foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, sfDir: String, query: String): Run = {
    save(spark, sfDir, query)
    GraftBridge.drainListeners(spark)
    val executions = new ConcurrentLinkedQueue[QueryExecution]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val maxTaskMs = new ConcurrentHashMap[Int, Long]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val stageListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        maxTaskMs.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val ms = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(-1L)
        stages.add(Stage(si.name.takeWhile(_ != '\n'), ms, si.numTasks,
          maxTaskMs.getOrDefault(si.stageId, -1L), m.executorRunTime, m.jvmGCTime,
          m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
    }
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(stageListener)
    try {
      val (n0, ns0) = codegen()
      val t0 = System.nanoTime()
      save(spark, sfDir, query)
      val seconds = (System.nanoTime() - t0) / 1e9
      val (n1, ns1) = codegen()
      GraftBridge.drainListeners(spark)
      // construction-time collects come first; the noop save runs last
      Run(query, seconds, executions.asScala.last, stages.asScala.toVector,
        n1 - n0, (ns1 - ns0) / 1e6)
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(stageListener)
    }
  }

  /** The formatted physical plan of the measured run. */
  def plan(r: Run): String = r.qe.explainString(FormattedMode)

  /** The executed plan with each adaptive wrapper replaced by the plan it
    * finally ran, so that initial-plan nodes are not counted.
    */
  private def finalPlan(r: Run): SparkPlan = r.qe.executedPlan.transformDown {
    case a: AdaptiveSparkPlanExec => a.executedPlan
  }

  /** (`Scan parquet` count, `ReusedExchange` count) of the final plan. */
  def scans(r: Run): (Int, Int) = {
    val text = finalPlan(r).toString
    ("Scan parquet".r.findAllIn(text).length,
      "ReusedExchange".r.findAllIn(text).length)
  }

  def stages(r: Run): String =
    ((f"[probe] ${r.query} total ${r.seconds}%.2f s, ${r.stages.size} stages, " +
      f"codegen ${r.compiles} classes ${r.compileMs}%.0f ms") +:
      r.stages.sortBy(-_.ms).take(14).map { s =>
        f"[probe]   ${s.ms}%6d ms  tasks=${s.tasks}%4d maxTask=${s.maxTaskMs}%5d " +
          f"run=${s.runMs}%6d gc=${s.gcMs}%5d deser=${s.deserMs}%5d  " +
          f"shufR=${s.shuffleRead / 1e6}%7.1fMB shufW=${s.shuffleWrite / 1e6}%7.1fMB " +
          f"in=${s.input / 1e6}%6.1fMB  ${s.name.take(60)}"
      }).mkString("\n")

  private val modes: Map[String, Run => String] = Map(
    "plan" -> (r => s"===== ${r.query} =====\n${plan(r)}"),
    "stages" -> stages,
    "scans" -> { r =>
      val (n, reused) = scans(r)
      f"[scan] ${r.query}%-28s scans=$n reused=$reused"
    })

  def main(args: Array[String]): Unit = {
    val usage = "usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> " +
      "graft.tools.Probe <plan|stages|scans> [name-substrings...]"
    val report = args.headOption.flatMap(modes.get).getOrElse(sys.error(usage))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val names = args.drop(1).toSeq
    val spark = Tables.session("graft-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(q => names.isEmpty || names.exists(q.contains))
      .foreach { q =>
        println(try report(run(spark, sfDir, q))
          catch { case e: Throwable => s"[probe] $q ERROR ${e.getMessage}" })
      }
    spark.stop()
  }
}
