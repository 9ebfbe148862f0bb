package graft

import scala.jdk.CollectionConverters._

import graft.analytics._
import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream == batch parity on identical input — the unified-API claim,
  * verified. Events are fed through MemoryStream in event-time order
  * with a final far-future flush row to advance the watermark so
  * event-time timers fire (the reference's onTimer analog).
  */
case class EvFull(event_id: Long, ts_us: Long, user_id: Long,
                  event_type: String, props: String)

case class EvVal(event_id: Long, ts_us: Long, user_id: Long,
                 event_type: String, value: Double)

class StreamingParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sf = SparkTestBase.sf

  import spark.implicits._

  lazy val batchEvents = Tables.events(spark, sf).cache()

  lazy val rows: Seq[EvFull] = batchEvents
    .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
      $"event_type", $"props")
    .as[EvFull].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))

  lazy val valRows: Seq[EvVal] = batchEvents
    .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
      $"event_type", $"value")
    .as[EvVal].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))

  private def flush(kind: String) =
    EvFull(-1L, rows.map(_.ts_us).max + 30L * 86400 * 1000000, -1L, kind, "{}")

  private def toEventsDF(ms: MemoryStream[EvFull]) =
    ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)"))

  test("pageViews: stream (complete mode) == batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    ms.addData(rows)
    val q = StreamingAnalytics.pageViewsStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("pv_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pv_stream").select($"window_end", $"pv")
        .as[(java.sql.Timestamp, Long)].collect().toSet
      val want = UserBehaviorAnalytics.pageViews(spark, sf)
        .as[(java.sql.Timestamp, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("uniqueVisitors: streaming dropDuplicates+count (append) == batch countDistinct") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.uniqueVisitorsStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("uv_stream")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      ms.addData(flush("view")) // advance watermark → close all windows
      q.processAllAvailable()
      val want = UserBehaviorAnalytics.uniqueVisitors(spark, sf)
        .as[(java.sql.Timestamp, Long)].collect().toSet
      val maxEnd = want.map(_._1.getTime).max
      val got = spark.table("uv_stream").select($"window_end", $"uv")
        .as[(java.sql.Timestamp, Long)].collect().toSet
        .filter(_._1.getTime <= maxEnd) // drop the sentinel's own window
      assert(got == want)
    } finally q.stop()
  }

  test("hot items: per-micro-batch rank over streamed window counts == batch topN") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    ms.addData(rows)
    val q = StreamingAnalytics.itemWindowCountsStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("hi_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // R1 divergence: rank applied after the streaming agg (foreachBatch
      // in production; on the final micro-batch state here)
      val ranked = UserBehaviorAnalytics.rankTopN(spark.table("hi_stream"), 5)
        .select($"window_end", $"item_id", $"cnt", $"rnk")
        .as[(java.sql.Timestamp, Long, Long, Int)].collect().toSet
      val want = UserBehaviorAnalytics.hotItemsTopN(spark, sf)
        .select($"window_end", $"item_id", $"cnt", $"rnk")
        .as[(java.sql.Timestamp, Long, Long, Int)].collect().toSet
      assert(ranked == want)
    } finally q.stop()
  }

  // transformWithState requires the RocksDB state store — which is
  // already the SparkTestBase SESSION default, so these tests run on
  // it without any per-test conf juggling; StreamingRecoverySpec's
  // provider-matrix case pins the non-default provider explicitly.

  test("hot items Top-N via transformWithState: in-query event-time timers == batch topN") {
    implicit val ctx = spark.sqlContext
    implicit val ss = spark
    locally {
      val ms = MemoryStream[EvFull]
      val q = StreamingAnalytics.hotItemsTopNStream(toEventsDF(ms))
        .writeStream.format("memory").queryName("hi_tws_stream")
        .outputMode("append").start()
      try {
        ms.addData(rows)
        q.processAllAvailable()
        // flush 1 finalizes most windows in the agg; the LAST windows
        // (within the 10-min watermark delay of the data's max ts) only
        // emit on flush 2 — and a timer registered in batch N fires in
        // batch N+1, so flush 3 drives those final timers
        for (day <- 0 to 2) {
          ms.addData(flush("view").copy(
            ts_us = flush("view").ts_us + day * 86400L * 1000000))
          q.processAllAvailable()
        }
        val want = UserBehaviorAnalytics.hotItemsTopN(spark, sf)
          .select($"window_end", $"item_id", $"cnt", $"rnk")
          .as[(java.sql.Timestamp, Long, Long, Int)].collect().toSet
        val maxEnd = want.map(_._1.getTime).max
        val got = spark.table("hi_tws_stream")
          .select($"window_end", $"item_id", $"cnt", $"rnk")
          .as[(java.sql.Timestamp, Long, Long, Int)].collect().toSet
          .filter(_._1.getTime <= maxEnd) // drop the sentinels' own windows
        assert(got == want,
          s"sizes got=${got.size} want=${want.size} " +
            s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      } finally q.stop()
    }
  }

  test("login-fail state machine: stream == batch lag-based pairs") {
    implicit val ctx = spark.sqlContext
    implicit val ss = spark
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.loginFailPairs(
        ms.toDS().map(e => Ev(e.event_id, e.ts_us, e.user_id, e.event_type)))
      .writeStream.format("memory").queryName("lf_stream")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      ms.addData(flush("error"))
      q.processAllAvailable()
      val got = spark.table("lf_stream")
        .where($"user_id" =!= -1L)
        .select($"user_id", $"first_fail_us", $"last_fail_us")
        .as[(Long, Long, Long)].collect().toSet
      val want = DetectionAnalytics.loginFailDetect(spark, sf)
        .select($"user_id", unix_micros($"first_fail"), unix_micros($"last_fail"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("order-timeout state machine: stream (with event-time timers) == batch join") {
    implicit val ctx = spark.sqlContext
    implicit val ss = spark
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.orderTimeoutStream(
        ms.toDS().map(e => Ev(e.event_id, e.ts_us, e.user_id, e.event_type)))
      .writeStream.format("memory").queryName("ot_stream")
      .outputMode("append").start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      ms.addData(flush("purchase"))
      q.processAllAvailable()
      val got = spark.table("ot_stream")
        .where($"user_id" =!= -1L)
        .select($"order_id", $"user_id", $"create_us",
          coalesce($"pay_us", lit(-1L)), $"status")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val want = DetectionAnalytics.orderTimeout(spark, sf)
        .select($"order_id", $"user_id", unix_micros($"create_ts"),
          coalesce(unix_micros($"pay_ts"), lit(-1L)), $"status")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("order-timeout under out-of-order arrival: shuffled micro-batches == batch join") {
    implicit val ctx = spark.sqlContext
    implicit val ss = spark
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.orderTimeoutStream(
        ms.toDS().map(e => Ev(e.event_id, e.ts_us, e.user_id, e.event_type)))
      .writeStream.format("memory").queryName("ot_ooo_stream")
      .outputMode("append").start()
    try {
      // shuffle WITHIN time-contiguous batches (bounded out-of-orderness
      // the 1 h watermark admits); the buffered machine must still pay
      // the right orders
      val batches = rows.grouped(math.max(rows.size / 5, 1)).toSeq
        .map(b => new scala.util.Random(7).shuffle(b))
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      ms.addData(flush("purchase"))
      q.processAllAvailable()
      val got = spark.table("ot_ooo_stream")
        .where($"user_id" =!= -1L)
        .select($"order_id", $"user_id", $"create_us",
          coalesce($"pay_us", lit(-1L)), $"status")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val want = DetectionAnalytics.orderTimeout(spark, sf)
        .select($"order_id", $"user_id", unix_micros($"create_ts"),
          coalesce(unix_micros($"pay_ts"), lit(-1L)), $"status")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("order-timeout timer firing: the machine deletes no timer Spark deletes itself") {
    implicit val ctx = spark.sqlContext
    implicit val ss = spark
    // TimerStateImpl warns once per delete of a timer that does not
    // exist; capture its lines on a logger-local appender
    val timerLogger = "org.apache.spark.sql.execution.streaming.operators" +
      ".stateful.transformwithstate.timers.TimerStateImpl"
    Class.forName(timerLogger) // a renamed class would make this test vacuous
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-timer-log", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(timerLogger).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.orderTimeoutStream(
        ms.toDS().map(e => Ev(e.event_id, e.ts_us, e.user_id, e.event_type)))
      .writeStream.format("memory").queryName("ot_timer_stream")
      .outputMode("append").start()
    try {
      val base = 1700000000000000L
      val hourUs = 3600L * 1000000
      // user 1's order gets no later input: only its timer can time it
      // out, once user 2's and user 3's signups move the watermark past
      // create + 24 h
      for (e <- Seq(EvFull(1L, base, 1L, "signup", "{}"),
                    EvFull(2L, base + 26 * hourUs, 2L, "signup", "{}"),
                    EvFull(3L, base + 52 * hourUs, 3L, "signup", "{}"))) {
        ms.addData(e); q.processAllAvailable()
      }
      val fired = spark.table("ot_timer_stream").where($"user_id" === 1L)
        .select($"order_id", $"status").as[(Long, String)].collect().toSeq
      assert(fired == Seq((1L, "timeout")), s"user 1's timer never fired: $fired")
      val missing = logged.asScala.filter(_.contains("Failed to delete timer"))
      assert(missing.isEmpty,
        s"${missing.size} deletes of a missing timer:\n${missing.mkString("\n")}")
    } finally {
      q.stop()
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("blacklist state machine: stream warnings == batch (user, ad, day) set") {
    implicit val ctx = spark.sqlContext
    implicit val ss = spark
    val ms = MemoryStream[StreamingAnalytics.ClickEv]
    val clickRows = rows.filter(_.event_type == "click").map(e =>
      StreamingAnalytics.ClickEv(e.event_id, e.ts_us, e.user_id,
        (get_json_k(e.props) % 10).toInt))
    val q = StreamingAnalytics.blacklistStream(ms.toDS())
      .writeStream.format("memory").queryName("bl_stream")
      .outputMode("append").start()
    try {
      ms.addData(clickRows)
      q.processAllAvailable()
      // flush: advance the watermark past every real click so the
      // buffered state machines drain (single click → no warning row)
      ms.addData(StreamingAnalytics.ClickEv(-1L,
        clickRows.map(_.ts_us).max + 30L * 86400 * 1000000, -1L, 0))
      q.processAllAvailable()
      val got = spark.table("bl_stream")
        .where($"user_id" =!= -1L)
        .select($"user_id", $"ad_id", (col("day_us") / 1000000).cast("long"))
        .as[(Long, Int, Long)].collect().toSet
      val want = MarketingAnalytics.blacklistUsers(spark, sf)
        .select($"user_id", $"ad_id",
          (unix_micros($"day".cast("timestamp")) / 1000000).cast("long"))
        .as[(Long, Int, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("uv_approx stream: estimates within rsd of batch exact counts") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    ms.addData(rows)
    val q = StreamingAnalytics.uvApproxStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("uva_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val exact = UserBehaviorAnalytics.uniqueVisitors(spark, sf)
      val bad = spark.table("uva_stream")
        .join(exact, "window_end")
        .where(abs($"uv_approx" - $"uv") > greatest($"uv" * 0.05, lit(2.0)))
      assert(bad.isEmpty)
    } finally q.stop()
  }

  test("uvKmvStream: bounded-state sketch agg == batch uv_approx_kmv bit-for-bit") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.uvKmvStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(rows.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = UserBehaviorAnalytics.uvKmvFinish(spark.table("kmv_stream"))
        .as[(java.sql.Timestamp, Double)].collect().toSet
      val want = UserBehaviorAnalytics.uvApproxKmv(spark, sf)
        .as[(java.sql.Timestamp, Double)].collect().toSet
      assert(want.nonEmpty && got == want,
        "incrementally-maintained KMV sketch diverged from the batch query")
    } finally q.stop()
  }

  test("retentionKmvStream: incrementally-maintained day sketches == batch retention_kmv") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.retentionKmvStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("retkmv_stream")
      .outputMode("complete").start()
    try {
      rows.grouped(math.max(rows.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val cols = Seq("day", "day_next", "uv_a", "uv_b", "uv_union",
        "jaccard", "est_retained")
      val got = UserBehaviorAnalytics.retentionKmvFinish(
          spark.table("retkmv_stream")).selectExpr(cols: _*)
        .collect().toSeq.map(_.toSeq).toSet
      val want = UserBehaviorAnalytics.retentionKmv(spark, sf)
        .selectExpr(cols: _*).collect().toSeq.map(_.toSeq).toSet
      assert(want.nonEmpty && got == want,
        "streamed retention estimates diverged from the batch query")
    } finally q.stop()
  }

  test("simulated marketing source (S3 analog): rate stream synthesizes valid columns") {
    val q = StreamingAnalytics.simulatedMarketingStream(spark, rowsPerSecond = 500)
      .writeStream.format("memory").queryName("sim_stream")
      .outputMode("append").start()
    try {
      // rate source is wall-clock driven; give it a couple of ticks
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("sim_stream").isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        q.processAllAvailable()
      }
      val df = spark.table("sim_stream")
      assert(!df.isEmpty, "rate source produced no rows in 15s")
      assert(df.where(!$"channel".isin(
        "AppStore", "XiaomiStore", "HuaweiStore", "weibo", "wechat", "tieba")).isEmpty)
      assert(df.where(!$"behavior".isin(
        "BROWSE", "CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL")).isEmpty)
    } finally q.stop()
  }

  private def get_json_k(props: String): Long = {
    val m = """"k":\s*(\d+)""".r.findFirstMatchIn(props)
    m.map(_.group(1).toLong).getOrElse(0L)
  }

  test("session windows: streaming merge (append) == batch session_window") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.userSessionsStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // two micro-batches: sessions straddling the boundary must merge
      val (b1, b2) = rows.splitAt(rows.size / 2)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(flush("view")) // advance watermark → finalize all
      q.processAllAvailable()
      val want = UserBehaviorAnalytics.userSessions(spark, sf)
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      val got = spark.table("sess_stream")
        .where($"user_id" =!= -1L)
        .select($"user_id", $"session_start", $"session_end", $"n_events")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("doc dedup stream: dropDuplicatesWithinWatermark keeps batch dedup_exact's keepers") {
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").orderBy($"doc_id")
      .as[(Long, String)].collect().toSeq
    // arrival order = doc_id order, so first-arrival == min doc_id:
    // the streaming result must equal the batch keeper set
    case class DocArr(doc_id: Long, text: String, ts_us: Long)
    // +1: a ts of exactly epoch 0 sits ON the initial watermark and is
    // dropped as late before reaching the dedup state
    val arrivals = docs.map { case (id, t) => DocArr(id, t, (id + 1) * 1000000L) }
    val ms = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.StreamingAnalytics.docDedupStream(
        ms.toDF().toDF("doc_id", "text", "ts_us")
          .withColumn("ts", expr("timestamp_micros(ts_us)")))
      .writeStream.format("memory").queryName("dd_stream")
      .outputMode("append").start()
    try {
      // feed across several batches: state must carry between them
      arrivals.map(a => (a.doc_id, a.text, a.ts_us))
        .grouped(math.max(arrivals.size / 4, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("dd_stream").select($"doc_id")
        .as[Long].collect().toSet
      val want = graft.textops.Dedup.dedupExact(spark, sf).select($"keep_id")
        .as[Long].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("adStats: stream-static broadcast dim join (complete mode) == batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    ms.addData(rows)
    val q = StreamingAnalytics.adStatsStream(toEventsDF(ms), Tables.nation(spark, sf))
      .writeStream.format("memory").queryName("ads_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ads_stream")
        .select($"window_end", $"province", $"cnt")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val want = graft.analytics.MarketingAnalytics.adStatsByProvince(spark, sf)
        .select($"window_end", $"province", $"cnt")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("eventsCompact: streaming max-struct latest state (complete) == batch row_number") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvVal]
    ms.addData(valRows)
    val q = StreamingAnalytics.eventsCompactStream(
        ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)")))
      .writeStream.format("memory").queryName("compact_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val cols = Seq($"user_id", $"last_event_id", $"last_event_type",
        $"last_ts", $"last_value")
      val got = spark.table("compact_stream").select(cols: _*).collect().toSet
      val want = RelationalAnalytics.eventsCompact(spark, sf)
        .select(cols: _*).collect().toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("eventsCompact foreachBatch: parquet snapshot tracks latest state across batches") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graftsnap").toString
    val ms = MemoryStream[EvVal]
    val q = StreamingAnalytics.eventsCompactForeachBatch(
        ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)")), dir)
      .start()
    try {
      val (h1, h2) = valRows.splitAt(valRows.size / 2)
      ms.addData(h1); q.processAllAvailable()
      // mid-stream: snapshot is a consistent latest-state over h1
      val mid = spark.read.parquet(dir)
      assert(mid.count() == h1.map(_.user_id).distinct.size)
      ms.addData(h2); q.processAllAvailable()
      val cols = Seq($"user_id", $"last_event_id", $"last_event_type",
        $"last_ts", $"last_value")
      val got = spark.read.parquet(dir).select(cols: _*).collect().toSet
      val want = RelationalAnalytics.eventsCompact(spark, sf)
        .select(cols: _*).collect().toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("tx-match outer: unmatched pays fire with null receipt after watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.txMatchOuterStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("txo_stream")
      .outputMode("append").start()
    try {
      ms.addData(rows); q.processAllAvailable()
      // advance BOTH side watermarks past every pay's 24h bound so the
      // join state for unmatched pays times out and emits null rows;
      // eviction applies the watermark computed at the END of the prior
      // batch, so one more batch runs after the last advance. The flush
      // rows need a VALID join key: a null-keyed row on the right side
      // suppresses the final outer-state eviction pass (observed on
      // Spark 4.1 — tail nulls never emit when the watermark-advancing
      // row carries a null key).
      val fTs = rows.map(_.ts_us).max + 30L * 86400 * 1000000
      ms.addData(EvFull(-1L, fTs, -1L, "purchase", "{\"k\":\"0\"}"))
      q.processAllAvailable()
      ms.addData(EvFull(-1L, fTs, -1L, "click", "{\"k\":\"0\"}"))
      q.processAllAvailable()
      ms.addData(EvFull(-1L, fTs, -1L, "purchase", "{\"k\":\"0\"}"))
      q.processAllAvailable()
      val got = spark.table("txo_stream")
        .where($"pay_event" =!= -1L)
        .select($"tx_id", $"pay_event", coalesce($"receipt_event", lit(-1L)))
        .as[(String, Long, Long)].collect().toSet
      val ev = batchEvents
      val pays = ev.where($"event_type" === "purchase")
        .select(concat($"user_id", lit("-"), get_json_object($"props", "$.k")).as("tx_id"),
          $"ts".as("pay_ts"), $"event_id".as("pay_event"))
      val receipts = ev.where($"event_type" === "click")
        .select(concat($"user_id", lit("-"), get_json_object($"props", "$.k")).as("rc_tx_id"),
          $"ts".as("receipt_ts"), $"event_id".as("receipt_event"))
      val want = pays.join(receipts,
          $"tx_id" === $"rc_tx_id" &&
            $"receipt_ts" >= $"pay_ts" - expr("interval 24 hours") &&
            $"receipt_ts" <= $"pay_ts" + expr("interval 24 hours"),
          "left_outer")
        .select($"tx_id", $"pay_event", coalesce($"receipt_event", lit(-1L)))
        .as[(String, Long, Long)].collect().toSet
      assert(got == want)
      // sanity: the timeout path actually fired (some pay has no receipt)
      assert(got.exists(_._3 == -1L), "expected at least one unmatched pay")
    } finally q.stop()
  }

  test("corpusPrepStream: ingest-time dedup+quality+split == batch exact-dedup equivalent") {
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").orderBy($"doc_id")
      .as[(Long, String, String)].collect().toSeq
    // arrival order = doc_id order → first arrival == min doc_id keeper
    val arrivals = docs.map { case (id, lg, t) => (id, lg, t, (id + 1) * 1000000L) }
    val ms = MemoryStream[(Long, String, String, Long)]
    val q = graft.streaming.StreamingAnalytics.corpusPrepStream(
        ms.toDF().toDF("doc_id", "lang", "text", "ts_us")
          .withColumn("ts", expr("timestamp_micros(ts_us)")))
      .writeStream.format("memory").queryName("prep_stream")
      .outputMode("append").start()
    try {
      arrivals.grouped(math.max(arrivals.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      // unique far-future text advances the watermark and drains dedup
      ms.addData((-1L, "en", "FLUSH-SENTINEL",
        arrivals.map(_._4).max + 30L * 86400 * 1000000))
      q.processAllAvailable()
      val got = spark.table("prep_stream")
        .where($"doc_id" =!= -1L)
        .select($"doc_id", $"lang", $"n_tokens", $"quality")
        .as[(Long, String, Long, Double)].collect().toSet
      val keepers = graft.textops.Dedup.dedupExact(spark, sf)
        .select($"keep_id".as("doc_id"))
      val want = graft.textops.TextStats.textStats(spark, sf)
        .join(keepers, "doc_id")
        .where($"quality" >= 0.5 &&
          expr("poly_hash(cast(doc_id as string)) % 100 < 90"))
        .select($"doc_id", $"lang", $"n_tokens", $"quality")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("tx-match: stream-stream join matches batch pair join") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    ms.addData(rows)
    val q = StreamingAnalytics.txMatchStream(toEventsDF(ms))
      .writeStream.format("memory").queryName("tx_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tx_stream")
        .select($"tx_id", $"pay_event", $"receipt_event")
        .as[(String, Long, Long)].collect().toSet
      val ev = batchEvents
      val pays = ev.where($"event_type" === "purchase")
        .select(concat($"user_id", lit("-"), get_json_object($"props", "$.k")).as("tx_id"),
          $"ts".as("pay_ts"), $"event_id".as("pay_event"))
      val receipts = ev.where($"event_type" === "click")
        .select(concat($"user_id", lit("-"), get_json_object($"props", "$.k")).as("rc_tx_id"),
          $"ts".as("receipt_ts"), $"event_id".as("receipt_event"))
      val want = pays.join(receipts,
          $"tx_id" === $"rc_tx_id" &&
            $"receipt_ts" >= $"pay_ts" - expr("interval 24 hours") &&
            $"receipt_ts" <= $"pay_ts" + expr("interval 24 hours"))
        .select($"tx_id", $"pay_event", $"receipt_event")
        .as[(String, Long, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("docChunksFrom on a stream == batch doc_chunks (narrow transform, no state)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = graft.textops.Packing.docChunksFrom(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks_stream")
      .outputMode("append").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("chunks_stream")
        .as[(Long, Int, Long, String)].collect().toSet
      val want = graft.textops.Packing.docChunks(spark, sf)
        .as[(Long, Int, Long, String)].collect().toSet
      assert(want.nonEmpty && got == want)
    } finally q.stop()
  }

  test("phraseHitsFrom on a stream == batch phrase_search (narrow transform, no state)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = graft.textops.TextStats.phraseHitsFrom(
        ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("phrase_stream")
      .outputMode("append").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("phrase_stream")
        .as[(Long, Long, Int)].collect().toSet
      val want = graft.textops.TextStats.phraseSearch(spark, sf)
        .as[(Long, Long, Int)].collect().toSet
      assert(want.nonEmpty && got == want,
        "ingest-time phrase monitor diverged from the batch posting join")
    } finally q.stop()
  }

  test("piiScrubFrom on a stream == batch pii_scrub (narrow transform, no state)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = graft.textops.Scrub.piiScrubFrom(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq :+
        (100000L, "leak me at a.user@example.com or 415-555-1234 / 10.0.0.7")
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("pii_stream")
        .as[(Long, Int, Int, Int, Int, String)].collect().toSet
      val want = graft.textops.Scrub.piiScrubFrom(
          docs.toDF("doc_id", "text"))
        .as[(Long, Int, Int, Int, Int, String)].collect().toSet
      assert(want.nonEmpty && got == want)
      // the planted row actually scrubbed on the stream path
      assert(got.exists { case (id, e, p, i, _, t) =>
        id == 100000L && e == 1 && p == 1 && i == 1 &&
          t == "leak me at <EMAIL> or <PHONE> / <IP>" })
    } finally q.stop()
  }

  test("oovRateFrom on a stream vs static vocab (complete mode) == batch oov_rate") {
    implicit val ctx = spark.sqlContext
    import graft.textops.TextStats
    // the batch query's own vocabulary, as the static broadcast side
    val toks = Tables.documents(spark, sf)
      .selectExpr("doc_id", s"explode(${graft.textops.TextHash.tokensSpark}) as token")
    val vocab = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token".asc).limit(20)
      .select($"token", lit(1L).as("in_vocab"))
      .cache()
    val ms = MemoryStream[(Long, String)]
    val q = TextStats.oovRateFrom(ms.toDF().toDF("doc_id", "text"), vocab)
      .writeStream.format("memory").queryName("oov_stream")
      .outputMode("complete").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("oov_stream")
        .as[(Long, Long, Long, Double)].collect().toSet
      val want = TextStats.oovRate(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(want.nonEmpty && got == want)
    } finally { q.stop(); vocab.unpersist() }
  }

  test("bpeEncodeFrom on a stream vs static dictionary (complete mode) == batch bpe_encode") {
    implicit val ctx = spark.sqlContext
    import graft.textops.Bpe
    val dict = Bpe.encodeDict(spark, sf).cache()
    val ms = MemoryStream[(Long, String)]
    val q = Bpe.bpeEncodeFrom(ms.toDF().toDF("doc_id", "text"), dict)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("complete").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("bpe_stream")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val want = Bpe.bpeEncode(spark, sf)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      assert(want.nonEmpty && got == want)
    } finally { q.stop(); dict.unpersist() }
  }

  test("cmsSketchFrom on a stream (complete mode) == batch sketch — mergeable counters") {
    implicit val ctx = spark.sqlContext
    import graft.textops.Sketch
    val ms = MemoryStream[(Long, String)]
    val q = Sketch.cmsSketchFrom(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("cms_stream")
        .as[(Int, Long, Long)].collect().toSet
      val want = Sketch.cmsSketchFrom(
          Tables.documents(spark, sf).select($"text"))
        .as[(Int, Long, Long)].collect().toSet
      assert(want.nonEmpty && got == want,
        "incrementally-maintained sketch diverged from the batch sketch")
    } finally q.stop()
  }

  test("dedupIncrementalStream: micro-batched crawl == one-shot dedup_incremental") {
    implicit val ctx = spark.sqlContext
    import graft.textops.{Dedup, Pipelines}
    val dir = java.nio.file.Files.createTempDirectory("graftsidx").toString
    Pipelines.materialize(spark, sf, dir)
    val ms = MemoryStream[(Long, String)]
    val q = Pipelines.dedupIncrementalStream(
      ms.toDF().toDF("doc_id", "text"), dir, s"$dir/verdicts").start()
    try {
      // block hygiene: each micro-batch checkpointTracks its band table
      // and the bracket must release it (BlockHygiene) — a long-running
      // crawl loop must not accumulate one persisted RDD per batch
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      // feed the "new" docs in ascending doc_id order across three
      // micro-batches — arrival order then matches the one-shot
      // replay's doc_id-based keep-first rule
      val newDocs = Tables.documents(spark, sf)
        .where(expr(
          "poly_hash37(concat(cast(doc_id as string), '-incr')) % 10 = 0"))
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .sortBy(_._1).toSeq
      newDocs.grouped(math.max(newDocs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"dedupIncrementalStream leaked ${leaked.size} persisted RDDs across batches")
      val cols = Seq("doc_id", "keep", "n_dups", "dup_of", "best_sim")
      val got = spark.read.parquet(s"$dir/verdicts")
        .selectExpr(cols: _*)
        .as[(Long, Boolean, Long, Option[Long], Option[Double])]
        .collect().toSet
      val want = Dedup.dedupIncremental(spark, sf)
        .selectExpr(cols: _*)
        .as[(Long, Boolean, Long, Option[Long], Option[Double])]
        .collect().toSet
      assert(want.nonEmpty && got == want,
        "continuous judge+ingest diverged from the one-shot batch replay")
    } finally q.stop()
  }

  test("spanDedupStream: micro-batched crawl from day zero == one-shot span_dedup") {
    implicit val ctx = spark.sqlContext
    import graft.textops.{Dedup, Pipelines}
    // fresh dir, NO materialize: the loop must start from an empty
    // index (day-zero crawl), and an arrival-ordered replay must then
    // reproduce the one-shot keep-first output exactly
    val dir = java.nio.file.Files.createTempDirectory("graftspanidx").toString
    val ms = MemoryStream[(Long, String)]
    val q = Pipelines.spanDedupStream(
      ms.toDF().toDF("doc_id", "text"), dir, s"$dir/clean").start()
    try {
      // block hygiene: the tracked span-table checkpoint must be
      // released per micro-batch (see dedupIncrementalStream test)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .sortBy(_._1).toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"spanDedupStream leaked ${leaked.size} persisted RDDs across batches")
      val cols = Seq("doc_id", "clean_text", "n_spans", "n_dropped")
      val got = spark.read.parquet(s"$dir/clean").selectExpr(cols: _*)
        .as[(Long, String, Long, Long)].collect().toSet
      val want = Dedup.spanDedup(spark, sf).selectExpr(cols: _*)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(want.nonEmpty && got == want,
        "continuous span dedup diverged from the one-shot replay")
    } finally q.stop()
  }

  test("annSearchStream: streamed query batches == batch annSearchFrom == live IVF") {
    implicit val ctx = spark.sqlContext
    import graft.textops.{Pipelines, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graftsann").toString
    Pipelines.materializeAnn(spark, sf, dir)
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = Pipelines.annSearchStream(
      ms.toDF().toDF("vec_id", "v"), dir, s"$dir/results",
      excludeSelfId = true).start()
    try {
      // block hygiene: the probe path checkpoints the batch's ranked
      // cells (ivfRankedFrom) — the foreachBatch bracket must release
      // it per micro-batch (regression: before round 14 this stream
      // pinned one ranked-cells RDD per batch for its whole life)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val queries = Tables.embeddings(spark, sf)
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
        .as[(Long, Seq[Double])].collect().toSeq
      queries.grouped(math.max(queries.size / 2, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"annSearchStream leaked ${leaked.size} persisted RDDs across batches")
      val cols = Seq("query_id", "neighbor_id", "rnk")
      val got = spark.read.parquet(s"$dir/results")
        .selectExpr(cols: _*).as[(Long, Long, Int)].collect().toSet
      val want = Similarity.similarityIvf(spark, sf)
        .selectExpr(cols: _*).as[(Long, Long, Int)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed per-batch serving diverged from the live IVF query")
    } finally q.stop()
  }

  test("embDedupStream: micro-batched embedding crawl == one-shot dedup_embedding_incremental") {
    implicit val ctx = spark.sqlContext
    import graft.textops.{Pipelines, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graftsembidx").toString
    Pipelines.materializeEmbDedup(spark, sf, dir)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = Pipelines.embDedupStream(
      ms.toDF().toDF("vec_id", "embedding"), dir, s"$dir/verdicts").start()
    try {
      // block hygiene: each micro-batch's ranked-cells checkpoint must
      // be released by the bracket (see dedupIncrementalStream test)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      // ascending vec_id order across three micro-batches — arrival
      // order then matches the one-shot replay's id-based keep-first
      val newVecs = Tables.embeddings(spark, sf)
        .where(expr(Similarity.EmbIncrNewGate))
        .selectExpr("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
      newVecs.grouped(math.max(newVecs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"embDedupStream leaked ${leaked.size} persisted RDDs across batches")
      val cols = Seq("vec_id", "keep", "n_dups", "dup_of", "best_cosine")
      val got = spark.read.parquet(s"$dir/verdicts").selectExpr(cols: _*)
        .as[(Long, Boolean, Long, Option[Long], Option[Double])]
        .collect().toSet
      val want = Similarity.dedupEmbeddingIncremental(spark, sf)
        .selectExpr(cols: _*)
        .as[(Long, Boolean, Long, Option[Long], Option[Double])]
        .collect().toSet
      assert(want.nonEmpty && got == want,
        "continuous embedding judge+ingest diverged from the one-shot replay")
    } finally q.stop()
  }

  test("outlierGateStream: streamed vector batches == batch embedding_outliers verdicts") {
    implicit val ctx = spark.sqlContext
    import graft.textops.{Pipelines, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graftsproto").toString
    Pipelines.materializeProtos(spark, sf, dir)
    val ms = MemoryStream[(Long, Int, Seq[Double])]
    val q = Pipelines.outlierGateStream(
      ms.toDF().toDF("vec_id", "label", "v"), dir, s"$dir/results").start()
    try {
      val vecs = Tables.embeddings(spark, sf)
        .selectExpr("vec_id", "label", "cast(embedding as array<double>) as v")
        .as[(Long, Int, Seq[Double])].collect().toSeq
      vecs.grouped(math.max(vecs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.read.parquet(s"$dir/results")
        .select($"vec_id", $"label", $"is_outlier")
        .as[(Long, Int, Boolean)].collect().toSet
      val want = Similarity.embeddingOutliers(spark, sf)
        .select($"vec_id", $"label", $"is_outlier")
        .as[(Long, Int, Boolean)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed gate verdicts diverged from the batch corpus run")
    } finally q.stop()
  }

  test("semanticDecontaminateStream: streamed train batches == batch embedding_decontamination") {
    implicit val ctx = spark.sqlContext
    import graft.textops.{Pipelines, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graftsemdcs").toString
    Pipelines.materializeEvalVecs(spark, sf, dir)
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = Pipelines.semanticDecontaminateStream(
      ms.toDF().toDF("vec_id", "v"), dir, s"$dir/results").start()
    try {
      val n = Tables.embeddings(spark, sf).count()
      val mod = Similarity.autoSampleMod(n)
      val train = Tables.embeddings(spark, sf)
        .where(expr(s"vec_id % $mod <> 0"))
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
        .as[(Long, Seq[Double])].collect().toSeq
      train.grouped(math.max(train.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.read.parquet(s"$dir/results")
        .select($"train_id", $"eval_id", $"contaminated")
        .as[(Long, Long, Boolean)].collect().toSet
      val want = Similarity.embeddingDecontamination(spark, sf)
        .select($"train_id", $"eval_id", $"contaminated")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed contamination screen diverged from the batch corpus run")
    } finally q.stop()
  }

  test("valueQuantilesStream: bounded-sample state converges to batch sketch quantiles") {
    implicit val ctx = spark.sqlContext
    import graft.analytics.RelationalAnalytics
    val dir = java.nio.file.Files.createTempDirectory("graftvqs").toString
    val ms = MemoryStream[(Long, String, Double)]
    val q = RelationalAnalytics.valueQuantilesStream(
      ms.toDF().toDF("event_id", "event_type", "value"),
      s"$dir/quantiles").start()
    try {
      val evs = Tables.events(spark, sf)
        .select($"event_id", $"event_type", $"value")
        .as[(Long, String, Double)].collect().toSeq
      evs.grouped(math.max(evs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val cols = Seq("event_type", "n_sample", "p50", "p90")
      val got = spark.read.parquet(s"$dir/quantiles").selectExpr(cols: _*)
        .as[(String, Long, Double, Double)].collect().toSet
      val want = RelationalAnalytics.valueQuantilesSketch(spark, sf)
        .selectExpr(cols: _*)
        .as[(String, Long, Double, Double)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed bounded-sample quantiles diverged from the batch sketch")
    } finally q.stop()
  }

  test("tsSearchStream: streamed query series == batch ts_similarity on the panel") {
    implicit val ctx = spark.sqlContext
    import graft.analytics.TimeSeriesAnalytics
    val dir = java.nio.file.Files.createTempDirectory("grafttss").toString
    TimeSeriesAnalytics.materializeSeries(spark, sf, dir)
    val ms = MemoryStream[(Long, Seq[Long])]
    val q = TimeSeriesAnalytics.tsSearchStream(
      ms.toDF().toDF("query_id", "arr"), dir, s"$dir/results",
      excludeSelfId = true).start()
    try {
      // feed the batch query's own panel through the stream
      val mod = TimeSeriesAnalytics.autoMod(
        spark.read.parquet(s"$dir/ts_series").count())
      val panel = spark.read.parquet(s"$dir/ts_series")
        .where(expr(s"user_id % $mod = 0"))
        .selectExpr("user_id as query_id", "arr")
        .as[(Long, Seq[Long])].collect().toSeq
      panel.grouped(math.max(panel.size / 2, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val cols = Seq("query_id", "neighbor_id", "dist2", "rnk")
      val got = spark.read.parquet(s"$dir/results")
        .selectExpr(cols: _*).as[(Long, Long, Long, Int)].collect().toSet
      val want = TimeSeriesAnalytics.tsSimilarity(spark, sf)
        .selectExpr(cols: _*).as[(Long, Long, Long, Int)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed TS search diverged from the live panel query")
    } finally q.stop()
  }

  test("tsMatchPaaStream: stored PAA threshold match == live ts_similarity_paa") {
    implicit val ctx = spark.sqlContext
    import graft.analytics.TimeSeriesAnalytics
    val dir = java.nio.file.Files.createTempDirectory("grafttpaa").toString
    TimeSeriesAnalytics.materializePaa(spark, sf, dir)
    // batch parity: the corpus probed against its own stored index
    // must reproduce the live near-pair set exactly (undirected form —
    // the serve reports both directions, the live tier u1 < u2)
    val corpus = spark.read.parquet(s"$dir/ts_paa_sig")
      .selectExpr("user_id as query_id", "arr")
    val served = TimeSeriesAnalytics.tsMatchPaaFrom(spark, dir, corpus)
      .selectExpr("least(query_id, neighbor_id) as u1",
        "greatest(query_id, neighbor_id) as u2", "dist2")
      .distinct().as[(Long, Long, Long)].collect().toSet
    val live = TimeSeriesAnalytics.tsSimilarityPaa(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(live.nonEmpty && served == live,
      "stored PAA threshold match diverged from the live near-pair query")
    // stream wiring: the same queries through foreachBatch, two
    // micro-batches, replay-idempotent partitioned results
    val ms = MemoryStream[(Long, Seq[Long])]
    val q = TimeSeriesAnalytics.tsMatchPaaStream(
      ms.toDF().toDF("query_id", "arr"), dir, s"$dir/results").start()
    try {
      val rows = corpus.as[(Long, Seq[Long])].collect().toSeq
      rows.grouped(math.max(rows.size / 2, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.read.parquet(s"$dir/results")
        .selectExpr("least(query_id, neighbor_id) as u1",
          "greatest(query_id, neighbor_id) as u2", "dist2")
        .distinct().as[(Long, Long, Long)].collect().toSet
      assert(got == live,
        "streamed PAA match diverged from the live near-pair query")
    } finally q.stop()
    // the quantizer knob freezes into the snapshot: a scale-4 index
    // serves exactly the scale-4 live tier (and, grids being nested,
    // a superset of the default's pairs)
    val dir4 = java.nio.file.Files.createTempDirectory("grafttpaa4").toString
    TimeSeriesAnalytics.materializePaa(spark, sf, dir4, quantScale = 4)
    val corpus4 = spark.read.parquet(s"$dir4/ts_paa_sig")
      .selectExpr("user_id as query_id", "arr")
    val served4 = TimeSeriesAnalytics.tsMatchPaaFrom(spark, dir4, corpus4)
      .selectExpr("least(query_id, neighbor_id) as u1",
        "greatest(query_id, neighbor_id) as u2", "dist2")
      .distinct().as[(Long, Long, Long)].collect().toSet
    val live4 = TimeSeriesAnalytics.tsSimilarityPaa(spark, sf, quantScale = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(served4 == live4,
      "scale-4 stored PAA match diverged from the scale-4 live query")
    assert(live.subsetOf(live4),
      "nested grids must make the coarse tier a superset of the fine one")
  }

  test("rangeJoinStream: bucket-keyed stream-stream join == batch range_join") {
    implicit val ctx = spark.sqlContext
    import graft.analytics.DetectionAnalytics
    val ms = MemoryStream[(Long, String, Long)]
    val q = StreamingAnalytics.rangeJoinStream(
        ms.toDF().toDF("event_id", "event_type", "ts_us")
          .withColumn("ts", expr("timestamp_micros(ts_us)")))
      .writeStream.format("memory").queryName("range_join_stream")
      .outputMode("append").start()
    try {
      // arrival in event-time order so the 10 min watermark never
      // drops a genuine pair; 3 chunks exercise cross-batch state
      val evs = Tables.events(spark, sf)
        .selectExpr("event_id", "event_type", "unix_micros(ts) as us")
        .orderBy($"us").as[(Long, String, Long)].collect().toSeq
      evs.grouped(math.max(evs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("range_join_stream")
        .select($"err_id", $"event_id", $"offset_us")
        .as[(Long, Long, Long)].collect().toSet
      val want = DetectionAnalytics.rangeJoin(spark, sf)
        .select($"err_id", $"event_id", $"offset_us")
        .as[(Long, Long, Long)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed keyless range join diverged from the batch bucketized join")
    } finally q.stop()
  }

  test("mixturePlanStream: live ledger converges to batch mixture_plan") {
    implicit val ctx = spark.sqlContext
    import graft.textops.Sampling
    val dir = java.nio.file.Files.createTempDirectory("graftmixs").toString
    val ms = MemoryStream[(Long, String, String)]
    val q = Sampling.mixturePlanStream(
      ms.toDF().toDF("doc_id", "source", "text"), s"$dir/plan").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val cols = Seq("source", "n_docs", "src_tokens", "w_share", "epochs",
        "capped", "deficit_tokens")
      val got = spark.read.parquet(s"$dir/plan").selectExpr(cols: _*)
        .as[(String, Long, Long, Double, Double, Boolean, Double)]
        .collect().toSet
      val want = Sampling.mixturePlan(spark, sf).selectExpr(cols: _*)
        .as[(String, Long, Long, Double, Double, Boolean, Double)]
        .collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed mixture ledger diverged from the batch plan")
    } finally q.stop()
  }

  test("corpusDriftStream: live (source, token) counts converge to batch corpus_drift") {
    implicit val ctx = spark.sqlContext
    import graft.textops.TextStats
    val dir = java.nio.file.Files.createTempDirectory("graftdrift").toString
    val ms = MemoryStream[(String, String)]
    val q = TextStats.corpusDriftStream(
      ms.toDF().toDF("source", "text"), s"$dir/drift").start()
    try {
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val docs = Tables.documents(spark, sf)
        .select($"source", $"text").as[(String, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      // block hygiene: each micro-batch's localCheckpoint blocks must be
      // released when its report is written — a long-running stream must
      // not accumulate persisted RDDs (BlockHygiene.releasingNewPersists)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"corpusDriftStream leaked ${leaked.size} persisted RDDs across batches")
      val got = spark.read.parquet(s"$dir/drift")
        .as[(String, String, Long, Long, Long, Long)].collect().toSet
      val want = TextStats.corpusDrift(spark, sf)
        .as[(String, String, Long, Long, Long, Long)].collect().toSet
      assert(want.nonEmpty && got == want,
        "streamed drift report diverged from the batch report")
    } finally q.stop()
  }

  test("qualityGopherFrom on a stream == batch quality_gopher (narrow rep_ratio form)") {
    implicit val ctx = spark.sqlContext
    import graft.textops.TextStats
    val ms = MemoryStream[(Long, String)]
    val q = TextStats.qualityGopherFrom(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      val docs = Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      docs.grouped(math.max(docs.size / 3, 1))
        .foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.table("gopher_stream")
        .as[(Long, Long, Double, Long, Double, Boolean, Boolean, Boolean, Boolean, Boolean)]
        .collect().toSet
      val want = TextStats.qualityGopher(spark, sf)
        .as[(Long, Long, Double, Long, Double, Boolean, Boolean, Boolean, Boolean, Boolean)]
        .collect().toSet
      assert(want.nonEmpty && got == want,
        "narrow per-row rep_ratio diverged from the distributed explode-count form")
    } finally q.stop()
  }

  test("Monitoring listener: per-batch progress rows match the fed stream") {
    implicit val ctx = spark.sqlContext
    val mon = graft.streaming.Monitoring.attach(spark)
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
    val q = docs
      .writeStream.format("memory").queryName("monitored_stream")
      .outputMode("append").start()
    val qs = docs.groupBy($"text").count()
      .writeStream.format("memory").queryName("monitored_state")
      .outputMode("update").start()
    try {
      ms.addData(Seq((1L, "a b c"), (2L, "d e")))
      q.processAllAvailable(); qs.processAllAvailable()
      ms.addData(Seq((3L, "f")))
      q.processAllAvailable(); qs.processAllAvailable()
      assert(mon.awaitBatches("monitored_stream", 2) >= 2 &&
        mon.awaitBatches("monitored_state", 2) >= 2,
        "listener bus delivered fewer than 2 progress events per query")
      val snap = mon.snapshot.where($"query" === "monitored_stream")
      // all 3 fed rows accounted for across batches, batch ids distinct
      assert(snap.agg(sum($"input_rows")).as[Long].head() == 3L)
      assert(snap.select($"batch_id").distinct().count() == snap.count())
      // phase times and state size are columns, never negative; only
      // the stateful query holds state rows
      val all = mon.snapshot.where($"query".isin("monitored_stream", "monitored_state"))
      val cols = Seq("wal_commit_ms", "commit_offsets_ms", "trigger_ms",
        "state_rows", "state_commit_ms")
      assert(all.where(cols.map(c => col(c) < 0).reduce(_ || _)).isEmpty)
      assert(all.where($"trigger_ms" > 0).count() > 0)
      def stateRows(query: String) = all.where($"query" === query)
        .agg(max($"state_rows")).as[Long].head()
      assert(stateRows("monitored_stream") == 0L)
      assert(stateRows("monitored_state") == 3L, "3 distinct texts in the store")
    } finally { q.stop(); qs.stop(); mon.detach() }
  }
}
