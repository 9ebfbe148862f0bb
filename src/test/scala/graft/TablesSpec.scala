package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.StreamingAnalytics
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' schema memo: each table's schema is inferred once per
  * listing stamp and inference conf, and re-inferred when either moves.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Jobs `body` submits. A marker job after `body` is the barrier: the
    * listener bus delivers events in order, so once the marker's start
    * arrives every job `body` started has been counted. */
  private def jobsIn(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val sc = spark.sparkContext
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("tables.spec.marker") != null))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty("tables.spec.marker", "1")
      try spark.range(1).rdd.count() finally sc.setLocalProperty("tables.spec.marker", null)
      assert(marker.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  /** An `events.parquet` whose `ts` is parquet TIMESTAMP(NANOS), the
    * encoding of early data generations (Spark cannot write it). */
  private def writeNanosEvents(dir: String, rows: Seq[(Long, Long)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, nanos) =>
      w.write(g.newGroup().append("event_id", id).append("ts", nanos)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.5))
    } finally w.close()
  }

  test("Tables: an unchanged table is inferred once; one rewritten in place is re-resolved") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "s"))
    assert(jobsIn(Tables.load(spark, dir, "t")) == 0,
      "a second read of an unchanged table ran a schema-inference job")
    // same session, same path, new files and a different schema
    Seq((1.5, 3), (2.5, 4), (3.5, 5)).toDF("x", "y")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("x", "y"))
    assert(again.as[(Double, Int)].collect().sorted.toSeq ==
      Seq((1.5, 3), (2.5, 4), (3.5, 5)))
    // a missing table keeps Spark's own error, not the listing's
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, dir, "absent"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("Tables.events: both ts encodings load as TIMESTAMP, batch and stream alike") {
    // TIMESTAMP(MICROS) without UTC adjustment (TIMESTAMP_NTZ): the testdata
    val ntz = Tables.events(spark, SparkTestBase.sf)
    assert(ntz.schema("ts").dataType == TimestampType)
    // TIMESTAMP(NANOS): read as long nanos, divided exactly to micros
    val dir = Files.createTempDirectory("graft-nanos").toString
    val ns = Seq(1L -> 1717370965180000123L, 2L -> 1717370965180001000L)
    writeNanosEvents(dir, ns)
    val nanos = Tables.events(spark, dir)
    assert(nanos.schema("ts").dataType == TimestampType)
    assert(nanos.selectExpr("event_id", "unix_micros(ts)").as[(Long, Long)]
      .collect().sorted.toSeq == ns.map { case (id, n) => (id, n / 1000) })
    for (d <- Seq(SparkTestBase.sf, dir)) {
      val stream = StreamingAnalytics.eventsStream(spark, d)
      assert(stream.isStreaming)
      assert(stream.schema == Tables.events(spark, d).schema, d)
    }
  }

  test("Tables: flipping nanosAsLong re-resolves the schema") {
    val dir = Files.createTempDirectory("graft-nanos-conf").toString
    writeNanosEvents(dir, Seq(1L -> 1717370965180000000L))
    val before = spark.conf.getOption(NanosConf)
    try {
      spark.conf.set(NanosConf, "true")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType == LongType)
      // without the legacy conf Spark rejects TIMESTAMP(NANOS): the memo
      // must not hand back the schema inferred under the other value
      spark.conf.set(NanosConf, "false")
      val e = intercept[Exception](Tables.load(spark, dir, "events"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
        e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally before match {
      case Some(v) => spark.conf.set(NanosConf, v)
      case None => spark.conf.unset(NanosConf)
    }
  }
}
