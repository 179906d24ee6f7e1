package graft

import graft.tools.Probe

/** Spark's generated-class cache holds the engine's working set: a second
  * pass over the joinbench queries compiles nothing. At Spark's default
  * cap of 100 entries the pass's ~111 classes evict each other in LRU
  * order, so every pass recompiles them all.
  */
class CodegenCacheSpec extends SparkSpec {
  private val benchQueries = Seq("q1_clicked_display", "q2_missed_display",
    "q3_time_shift", "q4_join_merge_json", "q5_view_outcomes",
    "q33_click_attribution", "q20_pricing_summary", "q158_pagerank")

  test("a second pass over the joinbench queries at sf0.01 compiles 0 classes") {
    // the session before the counters: CodeGenerator reads the cap from the
    // active session's conf when it first loads, and without one it keeps
    // Spark's default
    val session = spark
    def pass(): Long = {
      val (n0, _) = Probe.codegen()
      benchQueries.foreach(Probe.save(session, "/root/testdata/sf0.01", _))
      Probe.codegen()._1 - n0
    }
    val first = pass()
    assert(pass() == 0, s"the first pass compiled $first classes")
  }
}
