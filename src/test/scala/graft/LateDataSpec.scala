package graft

import graft.analytics.LateDataAnalytics
import graft.streaming.StreamingAnalytics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Late-data surface (T3/T4): the batch watermark replay is pinned
  * against a sequential in-memory recompute, split totals must be
  * conservative, and the streaming update-mode variant is driven with
  * genuinely out-of-order micro-batches.
  */
class LateDataSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sf = SparkTestBase.sf

  import spark.implicits._

  test("two-level arrival watermark == sequential replay (sf0.001)") {
    val got = LateDataAnalytics.withArrivalWatermark(Tables.events(spark, sf))
      .select($"event_id", unix_micros($"ts").as("ts_us"),
        coalesce(unix_micros($"wm"), lit(Long.MinValue)).as("wm_us"), $"late")
      .as[(Long, Long, Long, Boolean)].collect()
    // sequential truth: jitter arrival order, running max of prior ts
    val arr = got.map { case (id, ts, _, _) =>
      (id, ts, ts + LateDataAnalytics.jitterSec(id) * 1000000L)
    }.sortBy { case (id, _, a) => (a, id) }
    var mx = Long.MinValue
    val wantWm = scala.collection.mutable.Map.empty[Long, Option[Long]]
    for ((id, ts, _) <- arr) {
      wantWm(id) = if (mx == Long.MinValue) None else Some(mx)
      mx = math.max(mx, ts)
    }
    val lateBound = 5L * 60 * 1000000
    for ((id, ts, wmUs, late) <- got) {
      assert(wantWm(id).getOrElse(Long.MinValue) == wmUs, s"wm mismatch for event $id")
      val wantLate = wantWm(id).exists(w => ts < w - lateBound)
      assert(late == wantLate, s"late flag mismatch for event $id")
    }
    assert(got.count(_._4) > 0, "expected at least one late event at sf0.001")
  }

  test("late split totals reconstruct the plain tumbling counts") {
    val split = LateDataAnalytics.hotPagesLateSplit(spark, sf)
      .select($"window_end", $"url", ($"cnt_ontime" + $"cnt_late").as("cnt"))
    val plain = Tables.events(spark, sf)
      .filter($"event_type" === "click")
      .select(concat(lit("/page/"), get_json_object($"props", "$.k")).as("url"), $"ts")
      .groupBy(window($"ts", "10 minutes").getField("end").as("window_end"), $"url")
      .agg(count(lit(1)).as("cnt"))
    assert(split.except(plain).isEmpty && plain.except(split).isEmpty)
  }

  test("hotPagesUpdateStream: late-within-watermark row re-fires, beyond-watermark row is dropped") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val base = 1700000400000000L // µs epoch, aligned to the 10-min window grid
    def click(id: Long, offsetSec: Long) =
      EvFull(id, base + offsetSec * 1000000, 7L, "click", """{"k": 1}""")
    val q = StreamingAnalytics.hotPagesUpdateStream(
        ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)")))
      .writeStream.format("memory").queryName("hp_update")
      .outputMode("update").start()
    try {
      def cnts() = spark.table("hp_update")
        .filter($"url" === "/page/1" &&
          $"window_end" === expr(s"timestamp_micros(${base + 600 * 1000000})"))
        .select($"cnt").as[Long].collect().toSeq
      // batch 1: two on-time clicks in window [base, base+10m)
      ms.addData(click(1, 60), click(2, 120)); q.processAllAvailable()
      assert(cnts().max == 2)
      // batch 2: advance event time to base+12m → wm (next batch) = base+7m,
      // window end base+10m still ahead of it
      ms.addData(click(3, 720)); q.processAllAvailable()
      // batch 3: LATE row at base+3m — within watermark → T3 re-fire with cnt=3
      ms.addData(click(4, 180)); q.processAllAvailable()
      assert(cnts().max == 3, "late-but-within-watermark row must re-fire the window")
      // batch 4: advance far (base+40m) → wm = base+35m, window expired
      ms.addData(click(5, 2400)); q.processAllAvailable()
      // batch 5: too-late row at base+4m — beyond watermark → dropped
      ms.addData(click(6, 240)); q.processAllAvailable()
      assert(cnts().max == 3, "row behind the watermark must be dropped")
    } finally q.stop()
  }

  test("foreachBatch top-N with update mode + bounded store == batch topN") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val rows = Tables.events(spark, sf)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
        $"event_type", $"props")
      .as[EvFull].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
    val got = scala.collection.mutable
      .Map.empty[java.sql.Timestamp, Map[Long, (Long, Int)]]
    val store = new StreamingAnalytics.InMemoryTopNStore
    val q = StreamingAnalytics.hotItemsTopNForeachBatch(
        ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)")), 5, store) { ranked =>
        // a re-fire replaces the window's WHOLE top-N (items can drop out)
        ranked.select($"window_end", $"item_id", $"cnt", $"rnk")
          .as[(java.sql.Timestamp, Long, Long, Int)].collect()
          .groupBy(_._1).foreach { case (w, rows) =>
            got(w) = rows.map { case (_, i, c, r) => i -> (c, r) }.toMap
          }
      }.start()
    try {
      val (b1, b2) = rows.splitAt(rows.size / 2)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val want = analytics.UserBehaviorAnalytics.hotItemsTopN(spark, sf)
        .select($"window_end", $"item_id", $"cnt", $"rnk")
        .as[(java.sql.Timestamp, Long, Long, Int)].collect()
        .groupBy(_._1).map { case (w, rows) =>
          w -> rows.map { case (_, i, c, r) => i -> (c, r) }.toMap
        }
      assert(got.toMap == want)
      // bounded state: the retention prune must have dropped windows
      // older than maxEnd - 75 min (the stream spans ~15 days)
      val held = store.windows(spark,
          got.keySet.toSet).select($"window_end").distinct().count()
      val retained = got.keySet.count(w =>
        w.getTime >= got.keySet.map(_.getTime).max - 75L * 60 * 1000)
      assert(held <= retained,
        s"store retained $held windows, expected <= $retained (75-min retention)")
    } finally q.stop()
  }

  test("streaming LateCapture == batch lateEvents on arrival-ordered micro-batches") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graftlatecap").toString
    // arrival order, NOT event-time order: the capture's contract is
    // that micro-batch boundaries segment the arrival sequence
    val rows = Tables.events(spark, sf)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
        $"event_type", $"props")
      .as[EvFull].collect().toSeq
      .sortBy(e => (e.ts_us + LateDataAnalytics.jitterSec(e.event_id) * 1000000L,
        e.event_id))
    val ms = MemoryStream[EvFull]
    val q = LateDataAnalytics.lateCaptureWriter(
      ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)")), root).start()
    try {
      // block hygiene: each micro-batch checkpoints its split frame, and
      // the stream's bracket must release it (see StreamingParitySpec's
      // dedupIncrementalStream test)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      // 4 uneven chunks → 4 micro-batches, so the carried cross-batch
      // max is exercised (a single batch would test only the prefix)
      for (chunk <- rows.grouped(rows.size / 4 + 1)) {
        ms.addData(chunk); q.processAllAvailable()
      }
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
      assert(leaked.isEmpty,
        s"lateCaptureWriter leaked ${leaked.size} persisted RDDs across batches")
    } finally q.stop()
    val want = LateDataAnalytics.lateEvents(spark, sf)
      .select($"event_id", $"watermark")
      .as[(Long, java.sql.Timestamp)].collect().toSet
    val got = spark.read.parquet(s"$root/late")
      .select($"event_id", $"watermark")
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(got == want, "stream-captured late split must equal the batch side output")
    // and nothing is lost: ontime + late partitions the input
    val nOntime = spark.read.parquet(s"$root/ontime").count()
    assert(nOntime + got.size == rows.size)
  }

  test("LateCapture replay clears stale partitions even when a split is empty") {
    val root = java.nio.file.Files.createTempDirectory("graftlatereplay").toString
    // a previous partial attempt left rows under batch_id=7 in BOTH splits
    def plant(sub: String): Unit =
      Seq((999L, 1L, "click", new java.sql.Timestamp(0L), new java.sql.Timestamp(0L)))
        .toDF("event_id", "user_id", "event_type", "ts", "watermark")
        .write.mode("overwrite").parquet(s"$root/$sub/batch_id=7")
    plant("late"); plant("ontime")
    val cap = new LateDataAnalytics.LateCapture(root)
    // replayed batch 7: a single on-time row → the late split is EMPTY,
    // so dynamic partition overwrite alone would never touch late/batch_id=7
    val batch = Seq((1L, 10L, "view", new java.sql.Timestamp(1700000000000L)))
      .toDF("event_id", "user_id", "event_type", "ts")
    cap.onBatch(batch, 7L)
    assert(!new java.io.File(s"$root/late/batch_id=7").exists(),
      "stale late rows from the previous attempt must be cleared")
    val ontime = spark.read.parquet(s"$root/ontime").filter($"batch_id" === 7)
    assert(ontime.select($"event_id").as[Long].collect().toSeq == Seq(1L))
    // and an EMPTY replayed batch clears its partitions too
    plant("ontime")
    // planting recreated stale rows under ontime/batch_id=7
    cap.onBatch(batch.limit(0), 7L)
    assert(!new java.io.File(s"$root/ontime/batch_id=7").exists(),
      "empty replay must still clear the stale batch partition")
  }
}
