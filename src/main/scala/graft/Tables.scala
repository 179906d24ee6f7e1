package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Catalog of the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference's only "catalog" is topic names
  * (`/root/reference/src/test/scala/me/dummy/TopicShifter.scala:20`); here the
  * catalog is a plain loader over parquet so Catalyst sees a file scan it can
  * push filters/pruning into. At cluster scale these reads become partitioned
  * multi-file scans — nothing here assumes single-file or local data.
  *
  * A table's schema comes from one parquet footer, read on the driver: the
  * footer Spark's own inference reads, converted by Spark's own converter,
  * so the schema equals `spark.read.parquet(path).schema` — but loading a
  * table starts no Spark job (inference runs a one-task job per read).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The schema Spark infers for a parquet path without `mergeSchema`:
    * that of the first of `_common_metadata`, `_metadata` and the data
    * files in path order (`ParquetUtils.inferSchema`). With `mergeSchema`
    * Spark unions every file's schema, which one footer cannot give.
    */
  private def schema(spark: SparkSession, path: String): StructType = {
    require(!spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean,
      "Tables.load reads one parquet footer per table, so it cannot honour " +
        s"spark.sql.parquet.mergeSchema=true ($path)")
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val picked = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    require(picked.nonEmpty, s"no parquet file under $path")
    GraftBridge.parquetFooterSchema(spark, picked.get)
  }

  /** Normalize the `ts` column to session-timezone TimestampType whatever
    * the parquet writer emitted. Driver generations have flipped encodings
    * between rounds — TIMESTAMP(NANOS) (unreadable by the vectorized
    * reader; surfaces as LONG nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain timestamp[us] with
    * isAdjustedToUTC=false (surfaces as TIMESTAMP_NTZ) — so the loader
    * dispatches on the OBSERVED type instead of assuming one. All engine
    * sessions pin `spark.sql.session.timeZone=UTC`, so the NTZ→TZ cast
    * reinterprets the same wall-clock instant the oracle (DuckDB, also
    * tz-naive UTC) sees. Nanos→micros is exact: driver data carries no
    * sub-µs component.
    */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      // LongType is assumed to be NANOS (the nanosAsLong surfacing of
      // TIMESTAMP(NANOS)) — but a future generator flip to raw int64
      // micros/millis would ALSO surface as LongType and silently land
      // 1000x off. Guard per row: after the nanos→micros division the
      // value must be a plausible epoch instant (1990..2100); anything
      // else fails loudly instead of desyncing every event query. The
      // range check is one codegen'd compare — no extra job, no footer
      // read.
      case LongType => df.withColumn("ts", expr(
        """CASE
          |  WHEN ts IS NULL THEN NULL
          |  WHEN ts div 1000 BETWEEN 631152000000000 AND 4102444800000000
          |    THEN timestamp_micros(ts div 1000)
          |  ELSE timestamp_micros(CAST(raise_error(concat(
          |    'events.ts: LongType value ', ts,
          |    ' is not plausible epoch nanos (1990..2100); ',
          |    'generator encoding drifted - fix Tables.normalizeTs'))
          |    AS BIGINT))
          |END""".stripMargin))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other => sys.error(s"events.ts: unexpected parquet type $other")
    }
  }

  /** The events table with `ts` normalized to TimestampType (see
    * [[normalizeTs]] for the encoding-drift story).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(load(spark, sfDir, "events"))
  /** The events table as a bounded file STREAM (same rows as [[events]]) —
    * drives the streaming operators from real testdata. The stream source
    * cannot infer schema, so the declared schema is the batch [[load]]'s
    * (cheap: one footer read on the driver, no Spark job), then `ts` runs
    * through the same normalization as the batch path.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = load(spark, sfDir, "events").schema
    // the file-stream source requires a directory; glob-filter to the table
    normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Defensive date normalization (same drift class as [[normalizeTs]]):
    * if a generator round rewrites a date column as timestamp[/_ntz] or
    * string, cast it back — every date predicate/function in the query
    * suite assumes DateType, and DuckDB reads whatever the file says, so
    * an un-normalized drift desyncs the engines on all date queries at
    * once.
    */
  private def normalizeDate(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.types._
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case DateType => d
        case _ => d.withColumn(c,
          org.apache.spark.sql.functions.col(c).cast(DateType))
      }
    }
  }

  /** Defensive embedding normalization: the vector kernels accept float
    * OR double arrays, but the oracle SQL casts to DOUBLE[] — a
    * float→double generator flip is absorbed by both sides already, so
    * only assert the shape here (fail loudly on anything non-numeric).
    */
  private def checkEmbedding(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("embedding").dataType match {
      case ArrayType(FloatType | DoubleType, _) => df
      case other => sys.error(s"embeddings.embedding: unexpected type $other")
    }
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    checkEmbedding(load(spark, sfDir, "embeddings"))
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    normalizeDate(load(spark, sfDir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    normalizeDate(load(spark, sfDir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")

  /** The one session factory: Verify, Bench, the tools and the specs all
    * build through it, so correctness runs under the confs the bench times.
    */
  def session(appName: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // testdata tables are single ~1-30MB files; the 128MB default would
      // scan each on ONE task. 4MB splits parallelize the scan stage while
      // staying far above per-task overhead. At real scale (many files /
      // row groups) this conf is harmless.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet surfaces as LONG nanos, which
      // [[normalizeTs]] converts; set here, once, so loading `events`
      // changes no session state
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB is the streaming state-store DEFAULT here, not an opt-in:
      // the HDFS-backed store keeps every key on the executor heap, which
      // caps stateful queries (dedup sets, top-k heaps, attribution maps)
      // at heap size — RocksDB spills to local disk, supports changelog
      // checkpointing, and is what transformWithState's column families
      // require anyway. This is the 100 TB default; specs assert the
      // stateful paths stay green under it.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // ... and with changelog checkpointing: each batch commits the small
      // CHANGELOG file, full snapshots roll up asynchronously in the
      // maintenance thread — at 100 TB the per-batch checkpoint cost is
      // O(changed keys), not O(state size)
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // Spark keeps compiled generated classes in one JVM-wide LRU whose
      // default cap is 100 entries. One pass over the joinbench queries
      // (q1-q5, q33, q20, q158) compiles about 111 distinct classes and one
      // pass over all 345 queries about 4.4k (4,391 at sf0.001, 4,410 at
      // sf0.1), so at the default cap each class is evicted before its next
      // use and every later pass recompiles all of them (a second full pass
      // at sf0.001: 6,451 compiles in 189 s at the default cap, 275 in
      // 102 s at this one). LRU over a cyclic scan misses on every access
      // once the working set exceeds the cap, hence a bound well above it
      // rather than just above it. It stays bounded: a stateful stream
      // compiles one new watermark predicate per micro-batch, so an
      // unbounded cache would grow with stream length. An entry costs about
      // 34 KB of heap (GC'd heap after a full pass: 342 MB with 4.4k
      // entries, 197 MB at the default cap). Static conf, read once per JVM
      // when CodeGenerator first loads, from the session active then: code
      // that touches CodeGenerator before any session is built leaves the
      // JVM at Spark's default.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
