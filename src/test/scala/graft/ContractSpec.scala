package graft

/** Guards the driver contract itself: a typo'd oracle key would silently
  * detach a query from the correctness gate, and an accidental oracle for
  * an LSH/sketch query would FAIL the gate (they are not SQL-expressible).
  */
class ContractSpec extends SparkSpec {

  // round 7: the last 5 LSH/ANN queries moved OUT of this set — their
  // validated forms emit the exact pair/top-k rows plus an in-band
  // recall_ok flag, so every query now oracles. Empty set retained so a
  // future approximate query must be DECLARED here to skip the gate.
  private val declaredRowsOnly = Set.empty[String]

  test("every oracle key names a query; rows-only set is exactly the declared one") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle keys without a query: ${o -- q}")
    assert((q -- o) == declaredRowsOnly,
      s"rows-only drift: ${(q -- o).toSeq.sorted} vs declared ${declaredRowsOnly.toSeq.sorted}")
  }

  test("oracle SQL is non-empty and single-statement") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k: empty oracle")
      assert(!sql.trim.stripSuffix(";").contains(";"), s"$k: multiple statements")
    }
  }

  test("query numbers run gapless from q1 to the highest") {
    val nums = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_').drop(1).toInt)
    val gaps = (1 to nums.max).filterNot(nums)
    assert(gaps.isEmpty, s"gaps below q${nums.max}: $gaps")
  }

  test("the entry query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
