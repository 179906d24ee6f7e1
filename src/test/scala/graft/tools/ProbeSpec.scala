package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The probe reports the plan that ran: the measured run's AQE-final plan,
  * not a pre-execution snapshot of a DataFrame that never executed.
  */
class ProbeSpec extends SparkSpec {
  private lazy val q1 = Probe.run(spark, sf, "q1_clicked_display")

  test("plan mode prints the AQE-final plan") {
    val plan = Probe.plan(q1)
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!plan.contains("isFinalPlan=false"), plan)
  }

  test("scans mode counts the Scan parquet nodes of that same plan") {
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(q1.qe.executedPlan) { case s: FileSourceScanExec => s }
    val reused = helper.collect(q1.qe.executedPlan) { case r: ReusedExchangeExec => r }
    assert(scans.nonEmpty)
    assert(Probe.scans(q1) == (scans.size, reused.size))
  }

  test("stages mode reports the measured run's codegen: 0 classes after the warm-up") {
    val header = Probe.stages(q1).linesIterator.next()
    assert(q1.compiles == 0, header)
    assert(header.contains("codegen 0 classes 0 ms"), header)
  }

  test("stages mode shows no table-load stage: loading a table runs no job") {
    val q2 = Probe.run(spark, sf, "q2_missed_display")
    assert(q2.stages.nonEmpty)
    assert(!q2.stages.exists(_.name.contains("Tables.scala")), Probe.stages(q2))
  }
}
