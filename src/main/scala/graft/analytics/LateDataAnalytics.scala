package graft.analytics

import graft.Tables
import graft.streaming.BlockHygiene
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Late-data surface — the batch-exact form of Flink's
  * `allowedLateness` / `sideOutputLateData` (T3/T4).
  *
  * REF: NetworkFlow.scala § main —
  * `.assignTimestampsAndWatermarks(BoundedOutOfOrdernessTimestampExtractor)`
  * `.allowedLateness(Time.minutes(1)).sideOutputLateData(OutputTag("late"))`
  * (reconstructed, SURVEY.md §0/§2.4). Flink re-fires windows for rows
  * that arrive after the watermark but within the lateness bound, and
  * diverts rows beyond it to a side output.
  *
  * Structured Streaming has no re-fire-with-side-output; the batch
  * re-expression makes the semantics EXACT instead: replay the arrival
  * order, carry the running watermark, and split every row into
  * on-time vs late against it.
  *
  * Arrival model (the data is stored in event-time order, so arrival
  * order must be modeled): each event's delivery is delayed by a
  * deterministic per-event network jitter,
  * `arrival = ts + (event_id * 2654435761) % 600 seconds`
  * (Knuth multiplicative hash — portable arithmetic, identical in
  * DuckDB). This is exactly the bounded-out-of-orderness model the
  * reference's `BoundedOutOfOrdernessTimestampExtractor(Time.seconds(1))`
  * assumes: jitter ≤ 10 min, watermark trails max-seen-ts by
  * [[Lateness]].
  *
  * Scale shape: the running max over arrival order is a prefix
  * aggregate — inherently sequential if computed in one window. It is
  * computed two-level instead: per arrival-day block, a running max
  * partitioned BY block (parallel across blocks), combined with the
  * cumulative max of prior blocks (computed on the tiny per-block
  * aggregate — one row per day, broadcast back). At 100 TB the block
  * granularity drops to an hour; the per-block aggregate stays
  * thousands of rows.
  */
object LateDataAnalytics {

  /** Knuth multiplicative hash constant — jitter = (id * Mult) % ModSec.
    * Computed in modular form, `((id % M) * (Mult % M)) % M`, which is
    * mathematically identical for every non-negative id but keeps the
    * intermediate product ≤ 599·361 — the naive `id * Mult` overflows
    * Long (ANSI abort) once ids carry the sf1 tier's c·10⁹ copy
    * offsets (id ≳ 3.5·10⁹). Mirrored in the oracle CTE.
    */
  private val JitterMult = 2654435761L
  private val JitterModSec = 600L
  private val JitterMultMod = JitterMult % JitterModSec // = 361
  private val BlockUs = 86400L * 1000000 // 1 arrival-day blocks
  val Lateness = "5 minutes"

  /** The per-event arrival jitter in seconds, shared with the specs so
    * the constant and the overflow-safe modular form live in ONE place
    * (a raw `id * 2654435761` Long-overflows under ANSI at sf1-tier
    * ids).
    */
  private[graft] def jitterSec(eventId: Long): Long =
    ((eventId % JitterModSec) * JitterMultMod) % JitterModSec

  /** Column form of [[jitterSec]]: arrival time in epoch-µs. */
  private[graft] def arrivalUs(eventId: Column, ts: Column): Column =
    unix_micros(ts) +
      ((eventId % JitterModSec) * JitterMultMod % JitterModSec) * 1000000L

  /** Events + `wm` (the running watermark max-ts over all PRIOR
    * arrivals, before subtracting the lateness bound) + `late` flag.
    */
  def withArrivalWatermark(events: DataFrame, lateness: String = Lateness): DataFrame = {
    val arr = events
      .withColumn("arrival_us", arrivalUs(col("event_id"), col("ts")))
      // integer div — epoch-µs exceeds double's exact-int range (Tables)
      .withColumn("blk", expr(s"arrival_us div $BlockUs"))
    // level 1: running max within each arrival-day block (parallel)
    val inBlock = Window.partitionBy(col("blk"))
      .orderBy(col("arrival_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // level 2: cumulative max across the tiny per-block aggregate
    val perBlock = arr.groupBy(col("blk")).agg(max(col("ts")).as("bmax"))
      .withColumn("prev_bmax", max(col("bmax")).over(
        Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("blk"), col("prev_bmax"))
    arr
      .withColumn("in_blk_max", max(col("ts")).over(inBlock))
      .join(broadcast(perBlock), Seq("blk"))
      .withColumn("wm", greatest(col("in_blk_max"), col("prev_bmax")))
      .withColumn("late",
        coalesce(col("ts") < col("wm") - expr(s"interval $lateness"), lit(false)))
      .drop("arrival_us", "blk", "in_blk_max", "prev_bmax")
  }

  /** T4: the late side output itself — rows whose event time is more
    * than [[Lateness]] behind the watermark at their arrival.
    */
  def lateEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    withArrivalWatermark(Tables.events(spark, sfDir))
      .filter($"late")
      .select($"event_id", $"user_id", $"event_type", $"ts", $"wm".as("watermark"))
      .orderBy($"event_id")
  }

  /** T3: hot-pages counts split on-time vs late per tumbling window —
    * `cnt_late` is exactly what an `allowedLateness` re-fire would have
    * added to each window after its first emission.
    */
  def hotPagesLateSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    withArrivalWatermark(Tables.events(spark, sfDir))
      .filter($"event_type" === "click")
      .select(UserBehaviorAnalytics.pageUrl($"props").as("url"), $"ts", $"late")
      .groupBy(window($"ts", "10 minutes").getField("end").as("window_end"), $"url")
      .agg(count(when(!$"late", 1)).as("cnt_ontime"),
        count(when($"late", 1)).as("cnt_late"))
      .orderBy($"window_end", $"url")
  }

  /** Shared oracle CTE: arrival jitter + single-window running max
    * (the oracle replays sequentially; only the Spark side needs the
    * two-level parallel form).
    */
  private val oracleRm =
    s"""arr AS (
       |  SELECT event_id, user_id, event_type, ts, props,
       |         epoch_us(ts) + (((event_id % $JitterModSec) * $JitterMultMod) % $JitterModSec) * 1000000 AS arrival_us
       |  FROM events
       |), rm AS (
       |  SELECT *, max(ts) OVER (ORDER BY arrival_us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
       |  FROM arr
       |)""".stripMargin

  val lateEventsOracle: String =
    s"""WITH $oracleRm
       |SELECT event_id, user_id, event_type, ts, wm AS watermark
       |FROM rm WHERE ts < wm - INTERVAL 5 MINUTE
       |ORDER BY event_id""".stripMargin

  val hotPagesLateSplitOracle: String =
    s"""WITH $oracleRm, clicks AS (
       |  SELECT '/page/' || json_extract_string(props, '$$.k') AS url, ts,
       |         coalesce(ts < wm - INTERVAL 5 MINUTE, false) AS late
       |  FROM rm WHERE event_type = 'click'
       |)
       |SELECT time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS window_end,
       |       url,
       |       count(*) FILTER (WHERE NOT late) AS cnt_ontime,
       |       count(*) FILTER (WHERE late) AS cnt_late
       |FROM clicks GROUP BY 1, 2 ORDER BY window_end, url""".stripMargin

  /** T4 in TRUE streaming (REF: NetworkFlow.scala § sideOutputLateData
    * — reconstructed, SURVEY §2.4): Structured Streaming silently drops
    * rows older than the watermark — there is no built-in side output
    * for them. This foreachBatch capture recreates the reference's
    * late side output by computing the arrival watermark itself:
    *
    *  - within a micro-batch: [[withArrivalWatermark]]'s two-level
    *    prefix max over arrival order (parallel across day blocks);
    *  - across micro-batches: the max event time seen by all PRIOR
    *    batches, carried forward and persisted per batch under
    *    `root/wm` — a restarted query restores it from storage
    *    (filtered to batches before the one being replayed), never
    *    from driver memory.
    *
    * A micro-batch IS an arrival segment, so carried-max + in-batch
    * prefix equals the global arrival-prefix watermark exactly and the
    * union of `root/late` partitions equals the batch [[lateEvents]]
    * split on the same input (pinned in LateDataSpec;
    * restart-from-checkpoint pinned in StreamingRecoverySpec).
    *
    * Sink contract matches the serving streams: both splits and the
    * wm record are partitioned by `batch_id` and written with dynamic
    * partition overwrite, so a replayed micro-batch rewrites exactly
    * its own partition — idempotent without a transactional sink.
    * Scale shape: per batch, one bounded window pass + three appends;
    * carried state is ONE long regardless of stream length.
    */
  final class LateCapture(root: String, lateness: String = Lateness) {
    @volatile private var carriedUs: Option[Long] = None

    // Existence checks go through the Hadoop FileSystem of the root
    // path, not java.io.File — the sink root is an HDFS/S3/dbfs URI in
    // production, where a local-file check would silently report
    // "missing" and reset the carried watermark after every restart.
    private def fsOf(spark: SparkSession, path: String) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }

    private def restore(spark: SparkSession, batchId: Long): Long = {
      val (fs, p) = fsOf(spark, s"$root/wm")
      if (!fs.exists(p)) Long.MinValue
      else {
        val r = spark.read.parquet(s"$root/wm")
          .filter(col("batch_id") < batchId)
          .agg(max(col("max_us"))).head()
        if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      }
    }

    /** Dynamic partition overwrite only rewrites partitions PRESENT in
      * the new data, so a replayed batch whose late (or ontime) split
      * comes out empty — or an empty batch short-circuiting — would
      * leave rows from a previous partial attempt stale. Clear this
      * batch's partition under all three outputs up front; the
      * subsequent writes then always leave exactly this attempt's rows.
      */
    private def clearBatchPartitions(spark: SparkSession, batchId: Long): Unit =
      for (sub <- Seq("late", "ontime", "wm")) {
        val (fs, p) = fsOf(spark, s"$root/$sub/batch_id=$batchId")
        if (fs.exists(p)) fs.delete(p, true)
      }

    def onBatch(batch: DataFrame, batchId: Long): Unit = {
      val spark = batch.sparkSession
      clearBatchPartitions(spark, batchId)
      if (batch.isEmpty) return
      if (carriedUs.isEmpty) carriedUs = Some(restore(spark, batchId))
      val carried = carriedUs.get
      // greatest() skips nulls: first rows of the first batch have a
      // null in-batch wm and no carried max -> on-time by coalesce
      val carriedCol =
        if (carried == Long.MinValue) lit(null).cast("timestamp")
        else expr(s"timestamp_micros(${carried}L)")
      val out = withArrivalWatermark(batch, lateness)
        .withColumn("wm_all", greatest(col("wm"), carriedCol))
        .withColumn("late", coalesce(
          col("ts") < col("wm_all") - expr(s"interval $lateness"), lit(false)))
        .withColumn("batch_id", lit(batchId))
        // one compute: feeds both splits + the max
        .transform(BlockHygiene.checkpointTracked)
      def part(df: DataFrame, sub: String): Unit =
        df.select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), col("wm_all").as("watermark"), col("batch_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(s"$root/$sub")
      part(out.filter(col("late")), "late")
      part(out.filter(!col("late")), "ontime")
      val batchMax = out.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val newMax = math.max(carried, batchMax)
      spark.range(1).select(lit(batchId).as("batch_id"), lit(newMax).as("max_us"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$root/wm")
      carriedUs = Some(newMax)
    }
  }

  /** [[LateCapture]] wired to a stream: events in, on-time/late splits
    * under `root`, checkpoint at `root/ck`. Start with `.start()`.
    */
  def lateCaptureWriter(events: DataFrame, root: String,
                        lateness: String = Lateness) =
    events.writeStream
      .foreachBatch(new LateCapture(root, lateness).onBatch _)
      .option("checkpointLocation", s"$root/ck")
}
