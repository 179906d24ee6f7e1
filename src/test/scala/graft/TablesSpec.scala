package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** Loading a table is free of side effects on the session: every conf the
  * loaders need is set once, by the session factory. It also starts no
  * Spark job: the schema comes from one footer read on the driver, and it
  * is the schema Spark's own inference gives.
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

  test("every testdata table loads with the schema Spark infers") {
    val root = new java.io.File(sf).getParent
    for (dir <- Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"$root/$d");
         name <- Tables.all) {
      assert(Tables.load(spark, dir, name).schema ==
        spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir/$name")
    }
  }

  test("a directory table loads with the schema Spark infers") {
    val dir = Files.createTempDirectory("tables_spec").toString
    val t = s"$dir/t.parquet"
    // two writes with different columns: the schema is the first file's
    spark.range(5).selectExpr("id", "cast(id AS string) AS name").repartition(2)
      .write.parquet(t)
    spark.range(5).selectExpr("id", "id * 0.5 AS x", "id > 2 AS big").repartition(2)
      .write.mode("append").parquet(t)
    assert(Tables.load(spark, dir, "t").schema == spark.read.parquet(t).schema)
    // with summary files, the schema is `_common_metadata`'s
    val s = spark.newSession()
    s.conf.set("parquet.summary.metadata.level", "ALL")
    val u = s"$dir/u.parquet"
    s.range(5).selectExpr("id", "named_struct('a', id, 'b', array(id)) AS nested")
      .write.parquet(u)
    assert(new java.io.File(s"$u/_common_metadata").exists)
    assert(Tables.load(s, dir, "u").schema == s.read.parquet(u).schema)
  }

  test("loading fails loudly under spark.sql.parquet.mergeSchema=true") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    val e = intercept[IllegalArgumentException](Tables.load(s, sf, "region"))
    assert(e.getMessage.contains("spark.sql.parquet.mergeSchema"))
  }

  test("building q1-q5 and q20 starts no Spark job") {
    val group = "tables-spec-construct"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "build queries")
    try {
      Seq("q1_clicked_display", "q2_missed_display", "q3_time_shift",
        "q4_join_merge_json", "q5_view_outcomes", "q20_pricing_summary")
        .foreach(SparkEntry.queries(_)(spark, sf))
      GraftBridge.drainListeners(spark)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0)
  }
}
