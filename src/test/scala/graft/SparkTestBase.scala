package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark guide: one per suite,
  * lazy; sharing across suites in one JVM avoids repeated 10 s starts).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions) // dogfood the library packaging
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // match Session.tune: the occupancy-cap rank filters (k up to
      // 2·2048) must rewrite to WindowGroupLimit here too, or PlanSpec
      // pins a different plan than the one Bench/Verify run
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
    // RocksDB state store as the session default — the library's
    // recommended production posture (Session.tuneStreaming), and a
    // REQUIREMENT of the transformWithState state machines the CEP /
    // order-timeout / blacklist streams now ride. Tests that pin the
    // HDFS-backed provider set it explicitly (StreamingRecoverySpec's
    // provider-matrix case).
    // Session.tune's `file:` filesystem too, so every checkpoint and
    // parquet write in the suite runs on the production path.
    val s = (Session.RocksDbStateStore ++ Session.LocalFileSystemImpl)
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
