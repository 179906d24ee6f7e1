package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column <-> Expression conversions that
  * Spark 4 classic mode keeps internal. Standard extension-library pattern:
  * the object lives in the `org.apache.spark.sql` package purely to widen
  * visibility; no Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression builder as a SQL temp function. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The reliable-checkpoint file behind a `checkpoint()`ed Dataset's
    * LogicalRDD leaf, when one exists — None for localCheckpoint
    * (executor blocks, no files) and for un-checkpointed plans. Lets
    * specs prove lineage actually truncated to surviving files under
    * `spark.graft.reliableCheckpointDir`.
    */
  def reliableCheckpointFile(df: Dataset[_]): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.flatMap(_.getCheckpointFile)

  /** Create a DataFrame straight from an `RDD[InternalRow]` with a known
    * schema — the `private[sql]` constructor `createDataFrame(rdd: RDD[Row],
    * ...)` would otherwise force an external-Row encode/decode per row.
    * Used by the ExactSubstr neighbor passes (guide §5: no external-Row
    * stage in the hot path). The rows must already match `schema`.
    */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Free the block-manager storage behind a `localCheckpoint()`ed
    * Dataset. `Dataset.unpersist` reaches only the cache manager, not the
    * checkpoint RDD the plan's `LogicalRDD` leaf wraps — without this,
    * every round of an iterative localCheckpoint loop stays materialized
    * until JVM GC + ContextCleaner get around to it.
    */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The Spark schema of one parquet file, read from its footer on the
    * driver and converted as Spark's own schema inference converts it
    * (the stored Spark schema when the writer left one, else the parquet
    * types under the session's parquet confs) — with no Spark job.
    */
  def parquetFooterSchema(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val metadata = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
        spark.sessionState.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, metadata),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Block until the listener bus has delivered every event posted so
    * far — listeners run asynchronously, so a caller reading what they
    * captured must drain first.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
