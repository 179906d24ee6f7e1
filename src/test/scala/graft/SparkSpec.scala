package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.shared
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val shared: SparkSession = {
    // static conf, so it must be in place before the session is built
    // (SparkConf reads `spark.*` system properties): BucketedTablesSpec's
    // saveAsTable tables go to a temp warehouse, not the working directory
    sys.props("spark.sql.warehouse.dir") =
      s"${System.getProperty("java.io.tmpdir")}/graft_test_warehouse"
    val s = Tables.session("graft-test", 4)
    // checkpoint file checksums OFF in tests only: Spark 4.1's checksum
    // file manager issues Hadoop RawLocalFileSystem metadata calls that
    // fork a shell per file (FileUtil.readLink); combined with RocksDB's
    // many-small-file uploads this livelocks micro-batch tests for
    // minutes (observed: 32 task threads parked in
    // ChecksumCancellableFSDataOutputStream.close while the checksum
    // pool fork/execs). Cluster filesystems (HDFS/S3) don't shell out,
    // so Tables.session keeps the corruption-detection default.
    s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
