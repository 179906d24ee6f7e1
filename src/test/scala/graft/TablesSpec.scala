package graft

/** Loading a table is free of side effects on the session: every conf the
  * loaders need is set once, by the session factory.
  */
class TablesSpec extends SparkSpec {
  test("loading events, batch or stream, leaves the session conf unchanged") {
    // a fresh session sees only the factory's confs, whatever ran before
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.events(s, sf)
    Tables.eventsStream(s, sf)
    assert(s.conf.getAll == before)
  }
}
