package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark guide: one per suite,
  * lazy; sharing across suites in one JVM avoids repeated 10 s starts).
  *
  * Built by the production factory, [[Session.tuneStreaming]] at
  * parallelism 4, so every plan, checkpoint, parquet write, compile and
  * shuffle in the suite runs on the configuration Bench and Verify run
  * — including the RocksDB state store the transformWithState state
  * machines require. Tests that pin the HDFS-backed provider set it
  * explicitly (StreamingRecoverySpec's provider-matrix case).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Session.tuneStreaming(
        SparkSession.builder().master("local[4]").appName("graft-test"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
