package graft.streaming

import graft.analytics.UserBehaviorAnalytics
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Structured Streaming parity layer.
  *
  * The reference is a pure DataStream program: event-time windows +
  * watermarks + keyed state + timers (REF: every main sets
  * TimeCharacteristic.EventTime — reconstructed, SURVEY.md §0). Spark's
  * unified API means the batch transforms in `graft.analytics` run
  * unchanged under `readStream`; this module adds
  *   - the streaming source (watermarked events),
  *   - windowed aggs under watermark (A1–A7 analogs),
  *   - `transformWithState` state machines (typed ListState/ValueState
  *     + first-class event-time timers, on [[BufferedEventProcessor]])
  *     for the reference's KeyedProcessFunction semantics (T5, L1/L2,
  *     O2 — login-fail pairing, order-pay timeout),
  *   - per-micro-batch Top-N via foreachBatch (R1/R2: rank-after-agg is
  *     unsupported inside a streaming query — documented divergence,
  *     SURVEY.md §7.4).
  *
  * Lateness (T3/T4, SURVEY.md §2.4): `allowedLateness` re-fires map to
  * [[hotPagesUpdateStream]] (update mode re-emits a window's count on
  * each late-but-within-watermark arrival); the late-data side output
  * is batch-exact in graft.analytics.LateDataAnalytics (streams drop
  * rows past the watermark silently — the split query recovers them).
  */
object StreamingAnalytics {

  /** Typed event for stateful operators. ts in epoch MICROseconds
    * (java.sql.Timestamp round-trips only millis; the state machines
    * compare at the data's native µs precision).
    */
  case class Ev(event_id: Long, ts_us: Long, user_id: Long, event_type: String)

  case class FailPair(user_id: Long, first_fail_us: Long, last_fail_us: Long)

  case class OrderResult(order_id: Long, user_id: Long, create_us: Long,
                         pay_us: Option[Long], status: String)

  case class ClickEv(event_id: Long, ts_us: Long, user_id: Long, ad_id: Int)
  case class BlackWarn(user_id: Long, ad_id: Int, day_us: Long)
  case class ClickState(dayUs: Long, cnt: Long, warned: Boolean)

  /** Streaming events source: the same parquet file tail-read as a
    * stream (each new file = one micro-batch at scale; here the single
    * file arrives as one batch). readStream needs the schema up front:
    * it is the batch loader's ([[graft.Tables.eventsSchema]]), and `ts`
    * goes through the same [[graft.Tables.normalizeEventsTs]].
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.normalizeEventsTs(spark.readStream
      .schema(graft.Tables.eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/events.parquet"))

  /** S3 analog (REF: AppMarketingByChannel.scala § SimulatedEventSource
    * — reconstructed): the reference's RichSourceFunction loops
    * `ctx.collect(random channel/behavior)` + sleep; the Spark-native
    * generator is the rate source with deterministic column synthesis
    * (hash of the monotonic value picks channel/behavior) — same shape,
    * backpressure-aware, no custom source class.
    */
  def simulatedMarketingStream(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame = {
    val channels = array(
      lit("AppStore"), lit("XiaomiStore"), lit("HuaweiStore"),
      lit("weibo"), lit("wechat"), lit("tieba"))
    val behaviors = array(
      lit("BROWSE"), lit("CLICK"), lit("DOWNLOAD"), lit("INSTALL"), lit("UNINSTALL"))
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        col("value").as("user_id"),
        col("timestamp").as("ts"),
        element_at(channels, (pmod(col("value"), lit(6)) + 1).cast("int")).as("channel"),
        element_at(behaviors, (pmod(col("value") * 31 + 7, lit(5)) + 1).cast("int")).as("behavior"))
  }

  /** A1/A3 analog: tumbling PV count under a watermark. */
  def pageViewsStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    UserBehaviorAnalytics.pageViewsFrom(events.withWatermark("ts", watermark))

  /** A7 analog: windowed exact distinct. `countDistinct` is illegal on
    * streams; the exact streaming form is watermarked dropDuplicates
    * (keyed dedup state, GC'd at the watermark) feeding a windowed
    * count — two chained stateful operators, append mode. This is the
    * distributed version of the reference's in-memory Set[Long]
    * (REF: UniqueVisitor.scala § UvCountByWindow — reconstructed).
    */
  def uniqueVisitorsStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .filter(col("event_type") === "view")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w")).agg(count(lit(1)).as("uv"))
      .select(col("w.end").as("window_end"), col("uv"))

  /** A5 analog: stream-STATIC broadcast enrichment — the canonical
    * streaming dimension join (REF: AdStatisticsByGeo.scala § keyBy
    * province — reconstructed; the reference carries the province on
    * the event, a real pipeline joins a dim table). The static side is
    * broadcast once and never holds join state: unlike stream-stream
    * joins there is no watermark bookkeeping on the dim, so this stays
    * a map-side hash join per micro-batch at any stream rate.
    */
  def adStatsStream(events: DataFrame, nation: DataFrame,
                    watermark: String = "10 minutes"): DataFrame =
    events.filter(col("event_type") === "click")
      .select((col("user_id") % 25).cast("int").as("nk"), col("ts"))
      .withWatermark("ts", watermark)
      .join(broadcast(nation.select(col("n_nationkey").as("nk"),
        col("n_name").as("province"))), "nk")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("province"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.end").as("window_end"), col("province"), col("cnt"))

  /** A8 analog: approx distinct — the Bloom/Redis replacement. */
  def uvApproxStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("uv_approx"))
      .select(col("w.end").as("window_end"), col("uv_approx"))

  /** A8/A9 analog with a REPLAYABLE sketch: the KMV aggregator as
    * streaming state — per-window state is the sorted ≤ K-long hash
    * array (bounded, mergeable), where HLL++'s
    * `approx_count_distinct` state is engine-private and the
    * relational two-level rank isn't incrementalizable. Returns the
    * raw sketch stream; apply
    * `UserBehaviorAnalytics.uvKmvFinish` on the sink side (the
    * estimate is a per-row map, not state). Because the K-min
    * distinct set is arrival-order independent, the drained stream
    * equals the batch `uv_approx_kmv` bit-for-bit — the parity test
    * pins it, which no HLL-based form can promise.
    */
  def uvKmvStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .filter(col("event_type") === "view")
      .select(col("ts"),
        expr("poly_hash(concat(cast(user_id as string), '-kmv'))").as("h"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.KmvAggregator.kmvSketch(col("h")).as("sk"))
      .select(col("w.end").as("window_end"), col("sk"))

  /** The retention dashboard maintained incrementally: per-day KMV
    * sketches as bounded streaming state (1-day tumbling windows ==
    * `to_date`'s UTC day boundaries), consumed by
    * `UserBehaviorAnalytics.retentionKmvFinish` per micro-batch — the
    * day-pair set operations run on K-row sketches, not on users, so
    * the sink-side finish is trivially cheap at any stream rate.
    * Batch [[UserBehaviorAnalytics.retentionKmv]] parity is
    * bit-for-bit (the maintained sketch IS the k-min distinct set the
    * batch build ranks out).
    */
  def retentionKmvStream(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .select(col("ts"),
        expr("poly_hash(concat(cast(user_id as string), '-kmv'))").as("h"))
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(graft.functions.KmvAggregator.kmvSketch(col("h")).as("sk"))
      .select(col("w.start").cast("date").as("day"), col("sk"))

  /** R1 analog: sliding-window counts stream + per-micro-batch Top-N
    * rank applied in foreachBatch by the caller; this returns the
    * watermarked pre-rank stream (rank-after-streaming-agg is not
    * allowed inside the query).
    */
  def itemWindowCountsStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    UserBehaviorAnalytics.itemWindowCountsFrom(events.withWatermark("ts", watermark))

  /** L1/L2 analog (REF: LoginFail.scala § LoginFailWarning,
    * LoginFailAdvance.scala — reconstructed): consecutive 'error'
    * events within `deadlineUs`, per user — exactly
    * `Pattern(fail.times(2), within)` over the error-filtered stream,
    * so it delegates to the generic buffered NFA
    * (graft.cep.Pattern.compileStream). That upgrade also fixes the
    * caveat the reference's own basic version has (mis-pairing
    * out-of-order events — the course discusses it): events are
    * buffered and processed in event-time order at the watermark.
    */
  def loginFailPairs(events: Dataset[Ev], deadlineUs: Long = 30L * 60 * 1000000)
                    (implicit spark: SparkSession): Dataset[FailPair] = {
    import spark.implicits._
    import graft.cep.{Pattern, Step}
    val p = Pattern(Seq(Step("fail", lit(true), times = 2)), deadlineUs)
    p.compileStream(
        p.toPatternEvents(events.filter(_.event_type == "error").toDF(),
          col("user_id"), col("ts_us"), col("event_id")))
      .map(m => FailPair(m.key, m.start_us, m.end_us))
  }

  /** O2 state machine on [[BufferedEventProcessor]] (REF:
    * OrderTimeoutWithoutCep.scala § OrderPayMatch — reconstructed):
    * per-user pending-order `ListState`; a purchase pays the oldest
    * qualifying signup; the per-key event-time timer passing
    * create+deadline emits the timeout — `registerTimer` is the 1:1
    * `ctx.timerService().registerEventTimeTimer` analog (migrated from
    * the `GroupStateTimeout.EventTimeTimeout` encoding, VERDICT r11
    * ask #6). Events buffer until the watermark and apply in (ts, id)
    * order, so out-of-order arrival can't pay the wrong order.
    */
  class OrderTimeoutProcessor(deadlineUs: Long) extends BufferedEventProcessor[
      Long, (Long, Long, Long, String, java.sql.Timestamp),
      (Long, Long, String), OrderResult](
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING)) {
    @transient private var pendingState: ListState[(Long, Long)] = _

    override protected def initDomain(): Unit =
      pendingState = getHandle.getListState("pending",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override protected def toBuf(r: (Long, Long, Long, String, java.sql.Timestamp)) =
      (r._1, r._2, r._4)
    override protected def tsOf(b: (Long, Long, String)): Long = b._2
    override protected def ordOf(b: (Long, Long, String)): Long = b._1

    override protected def step(user: Long, ready: Seq[(Long, Long, String)],
                                wmUs: Long,
                                out: scala.collection.mutable.ListBuffer[OrderResult]): Seq[Long] = {
      var pending = pendingState.get().toList
      for ((eid, t, typ) <- ready) typ match {
        case "signup" => pending = pending :+ (eid, t)
        case "purchase" =>
          val (paid, rest) = pending.partition { case (_, c) =>
            t > c && t <= c + deadlineUs
          }
          paid.foreach { case (oid, c) =>
            out += OrderResult(oid, user, c, Some(t), "payed successfully")
          }
          pending = rest
      }
      // event-time timers: anything past create+deadline at the
      // current watermark can never be paid
      val (expired, stillLive) = pending.partition { case (_, c) =>
        c + deadlineUs < wmUs
      }
      expired.foreach { case (oid, c) =>
        out += OrderResult(oid, user, c, None, "timeout")
      }
      pendingState.clear()
      stillLive.foreach(pendingState.appendValue)
      stillLive.map(_._2 + deadlineUs)
    }
  }

  def orderTimeoutStream(events: Dataset[Ev], deadlineUs: Long = 24L * 3600 * 1000000)
                        (implicit spark: SparkSession): Dataset[OrderResult] = {
    import spark.implicits._
    events.filter(e => e.event_type == "signup" || e.event_type == "purchase")
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._3)
      .transformWithState(new OrderTimeoutProcessor(deadlineUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** M3 analog (REF: AdStatisticsByGeo.scala § FilterBlackListUser —
    * reconstructed): per-(user, ad) daily click counter; crossing the
    * threshold emits one warning per day. The reference registers a
    * timer at the NEXT MIDNIGHT (`(ts/86400000+1)*86400000`) to clear
    * the counter — here that is the event-time timeout that removes
    * state, and a day-rollover observed in-stream resets the count the
    * same way.
    */
  /** The M3 day-counter on [[BufferedEventProcessor]]: `ValueState`
    * holds the (day, count, warned) triple; the midnight-reset is a
    * real per-key event-time timer at the day's end (`registerTimer` —
    * the reference's `(ts/86400000+1)*86400000` timer, 1:1), which
    * drops the counter once the watermark passes it.
    */
  class BlacklistProcessor(threshold: Long) extends BufferedEventProcessor[
      (Long, Int), (Long, Long, Long, Int, java.sql.Timestamp),
      (Long, Long), BlackWarn](
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)) {
    private val DayUs = 86400L * 1000000
    @transient private var counter: org.apache.spark.sql.streaming.ValueState[ClickState] = _

    override protected def initDomain(): Unit =
      counter = getHandle.getValueState("counter",
        Encoders.product[ClickState], TTLConfig.NONE)

    override protected def toBuf(r: (Long, Long, Long, Int, java.sql.Timestamp)) =
      (r._1, r._2)
    override protected def tsOf(b: (Long, Long)): Long = b._2
    override protected def ordOf(b: (Long, Long)): Long = b._1

    override protected def step(key: (Long, Int), ready: Seq[(Long, Long)],
                                wmUs: Long,
                                out: scala.collection.mutable.ListBuffer[BlackWarn]): Seq[Long] = {
      val (user, ad) = key
      var st =
        if (counter.exists()) counter.get()
        else ClickState(-1L, 0L, warned = false)
      for ((_, t) <- ready) {
        val day = t / DayUs * DayUs
        if (day != st.dayUs) st = ClickState(day, 0L, warned = false)
        st = st.copy(cnt = st.cnt + 1)
        if (st.cnt >= threshold && !st.warned) {
          out += BlackWarn(user, ad, st.dayUs)
          st = st.copy(warned = true)
        }
      }
      // the reference's midnight-reset timer: the counter is dead
      // once the watermark passes its day's end
      val live = Option(st).filter(s => s.dayUs >= 0 && s.dayUs + DayUs > wmUs)
      live match {
        case Some(s) => counter.update(s)
        case None => counter.clear()
      }
      live.map(_.dayUs + DayUs).toSeq
    }
  }

  def blacklistStream(clicks: Dataset[ClickEv], threshold: Long = 2)
                     (implicit spark: SparkSession): Dataset[BlackWarn] = {
    import spark.implicits._
    clicks
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, Long, Int, java.sql.Timestamp)]
      .groupByKey(e => (e._3, e._4)) // (user_id, ad_id)
      .transformWithState(new BlacklistProcessor(threshold),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** T3 analog (REF: NetworkFlow.scala § main `.allowedLateness(
    * Time.minutes(1))` — reconstructed): update-mode windowed count —
    * a late-but-within-watermark click RE-EMITS its window's updated
    * count, which is exactly the allowedLateness re-fire; rows later
    * than the watermark are dropped (the T4 side output has a batch-
    * exact form in graft.analytics.LateDataAnalytics). Run with
    * `.outputMode("update")`; verified by the out-of-order MemoryStream
    * test in LateDataSpec.
    */
  def hotPagesUpdateStream(events: DataFrame, lateness: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .filter(col("event_type") === "click")
      .select(UserBehaviorAnalytics.pageUrl(col("props")).as("url"), col("ts"))
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.end").as("window_end"), col("url"), col("cnt"))

  /** Session windows under a watermark: Spark merges per-user session
    * state as events arrive and finalizes a session once the watermark
    * passes its end (append mode) — the streaming form of
    * UserBehaviorAnalytics.userSessions, parity-tested.
    */
  def userSessionsStream(events: DataFrame, gap: String = "24 hours",
                         watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  case class RankedItem(window_end: java.sql.Timestamp, item_id: Long,
                        cnt: Long, rnk: Int)

  /** R1, the reference's exact operator shape, on Spark 4's
    * `transformWithState` (REF: HotItems.scala § TopNHotItems —
    * reconstructed): keyed by windowEnd, every (item, cnt) row of the
    * window buffers into ListState; an EVENT-TIME TIMER at
    * windowEnd + 1 fires once the watermark passes and emits the
    * sorted top-N, then clears the key's state. This is the
    * `ListState + ctx.timerService().registerEventTimeTimer` +
    * `onTimer` triple, 1:1 — the piece the pre-Spark-4
    * `flatMapGroupsWithState` API only approximated with timeouts and
    * [[hotItemsTopNForeachBatch]] works around outside the query. State is bounded: one list per
    * in-flight window, dropped at emission.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — a transformWithState
    * constraint, set by the caller/test before starting the query.
    */
  class TopNProcessor(n: Int) extends StatefulProcessor[
      java.sql.Timestamp, (java.sql.Timestamp, Long, Long), RankedItem] {
    @transient private var buf: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState("items",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(
        key: java.sql.Timestamp,
        rows: Iterator[(java.sql.Timestamp, Long, Long)],
        tv: TimerValues): Iterator[RankedItem] = {
      rows.foreach(r => buf.appendValue((r._2, r._3)))
      // the reference's registerEventTimeTimer(windowEnd + 1); re-registering
      // the same instant across micro-batches is idempotent
      getHandle.registerTimer(key.getTime + 1)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: java.sql.Timestamp, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[RankedItem] = {
      val items = buf.get().toSeq
      buf.clear()
      items.sortBy { case (item, cnt) => (-cnt, item) }.take(n).zipWithIndex
        .map { case ((item, cnt), i) => RankedItem(key, item, cnt, i + 1) }
        .iterator
    }
  }

  /** Windowed counts (append) chained into [[TopNProcessor]]: two
    * stateful operators in one query — the watermark finalizes each
    * window in the agg, the rows flow to the keyed Top-N state, and
    * the timer emits the ranked result inside the query (no
    * foreachBatch divergence).
    */
  def hotItemsTopNStream(events: DataFrame, n: Int = 5)
                        (implicit spark: SparkSession): Dataset[RankedItem] = {
    import spark.implicits._
    itemWindowCountsStream(events)
      // null-safe, NOT a filter: an isNotNull filter here gets pushed
      // through the agg and below the EventTimeWatermark node, so a
      // corrupt-props row would be dropped BEFORE the watermark stats
      // and silently pin the watermark. Unparsable items rank under a
      // sentinel id instead — a DOCUMENTED divergence from the batch
      // rank, which keeps the null (batch has no watermark to protect;
      // on corrupt-free data, e.g. the testdata, the two are identical).
      .select(col("window_end"), coalesce(col("item_id"), lit(Long.MinValue))
        .as("item_id"), col("cnt"))
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TopNProcessor(n), TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** R1 production shape (REF: HotItems.scala § TopNHotItems onTimer —
    * reconstructed): rank-after-agg is unsupported inside a streaming
    * query, so the per-window Top-N is applied per micro-batch in
    * foreachBatch — the batch rank transform reused verbatim, emitted
    * to any sink the caller writes in `sink`.
    *
    * Update mode, not complete: complete mode would retain every
    * window's state forever despite the watermark (unbounded on a
    * long-running stream). Update emits only the (window, item) rows
    * changed in the micro-batch; [[TopNStore]] merges them into the
    * bounded per-window count state — the reference holds exactly this
    * state in its TopNHotItems ListState — and re-ranks only the
    * windows the batch touched, pruning state once the watermark
    * passes a window's end.
    */
  def hotItemsTopNForeachBatch(events: DataFrame, n: Int = 5,
                               store: TopNStore = new InMemoryTopNStore)
                              (sink: DataFrame => Unit) =
    BlockHygiene.eachBatch(
      itemWindowCountsStream(events).writeStream.outputMode("update")) {
      (batch, _) =>
        val touched = store.merge(batch)
        if (touched.nonEmpty) {
          sink(UserBehaviorAnalytics.rankTopN(
            store.windows(batch.sparkSession, touched), n))
          store.prune()
        }
    }

  /** Per-window count state behind the foreachBatch Top-N: the
    * production instance is an external KV (the reference writes
    * Redis); [[InMemoryTopNStore]] is the single-process test/bench
    * instance. State stays bounded: windows are pruned once the
    * stream's watermark passes their end.
    */
  trait TopNStore {
    /** Merge a micro-batch of updated (window_end, item_id, cnt) rows;
      * returns the set of windows touched. */
    def merge(batch: DataFrame): Set[java.sql.Timestamp]
    /** Full current counts for the given windows. */
    def windows(spark: SparkSession, ws: Set[java.sql.Timestamp]): DataFrame
    /** Drop windows that can no longer receive updates. */
    def prune(): Unit
  }

  /** Retention proof: a window [s, e) only re-emits while
    * e > watermark = maxEventTs − lateness, and every emitted window
    * end satisfies e ≤ maxEventTs + windowSize (an event joins windows
    * ending up to windowSize after it). So once
    * e < maxEndSeen − (windowSize + slide + lateness) the window is
    * strictly behind the watermark — safe to drop, no progress
    * introspection needed.
    */
  final class InMemoryTopNStore(
      retentionUs: Long = (60L + 5 + 10) * 60 * 1000000) extends TopNStore {
    private val state =
      scala.collection.mutable.Map.empty[(java.sql.Timestamp, Long), Long]
    private var maxEndUs = Long.MinValue

    def merge(batch: DataFrame): Set[java.sql.Timestamp] = {
      val rows = batch.select("window_end", "item_id", "cnt")
        .collect() // update-mode output: only changed rows, small by construction
      rows.foreach { r =>
        state((r.getTimestamp(0), r.getLong(1))) = r.getLong(2)
        maxEndUs = math.max(maxEndUs, r.getTimestamp(0).getTime * 1000)
      }
      rows.map(_.getTimestamp(0)).toSet
    }

    def windows(spark: SparkSession, ws: Set[java.sql.Timestamp]): DataFrame = {
      import spark.implicits._
      state.iterator.collect { case ((w, item), cnt) if ws(w) => (w, item, cnt) }
        .toSeq.toDF("window_end", "item_id", "cnt")
    }

    def prune(): Unit =
      if (maxEndUs != Long.MinValue) {
        val floorUs = maxEndUs - retentionUs
        state.filterInPlace { case ((w, _), _) => w.getTime * 1000 >= floorUs }
      }
  }

  /** Incremental exact dedup for a continuously-arriving corpus — the
    * streaming form of the batch `dedup_exact` pipeline stage:
    * `dropDuplicatesWithinWatermark` on the portable content hash
    * keeps each content's FIRST arrival and GCs the dedup state once
    * the watermark passes (bounded state on an unbounded stream). The
    * tradeoff is explicit: a duplicate arriving later than the
    * watermark delay after its twin is admitted again — at 100 TB/day
    * ingest the delay bounds state to a day's distinct hashes, and the
    * batch `Dedup.dedupExact` pass remains the exact backstop.
    */
  def docDedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    // xxhash64, not poly_hash: this operator is not DuckDB-oracled, so
    // it can use the engine's full-width hash — poly_hash's ~2^30 range
    // would birthday-collide (silently dropping distinct docs) within
    // ~50k documents per watermark window. The state key is composite
    // (hash, byte length): a 64-bit collision alone no longer drops a
    // distinct document — it would also need the same length, pushing
    // the false-positive drop probability below any realistic corpus
    // size while keeping state at 12 bytes/key.
    docs.withColumn("content_hash", expr("xxhash64(text)"))
      .withColumn("content_len", expr("octet_length(text)"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash", "content_len")
      // dedup-internal key columns are not part of the operator's
      // contract — the output schema is exactly the input schema
      .drop("content_hash", "content_len")

  /** Streaming corpus preparation — the ingest-time form of the batch
    * `corpus_prep` composite: first-arrival exact dedup
    * ([[docDedupStream]], bounded state), the per-row quality gate
    * (`TextStats.textStatsFrom` — narrow, stream-safe unchanged), and
    * the content-hash train-split filter. Documented divergence from
    * batch: the batch pipeline keeps near-dup CLUSTER canonicals
    * (a global clustering no unbounded stream can finalize); the
    * stream keeps exact-dup first arrivals and relies on the periodic
    * batch cluster pass as the near-dup backstop — the standard
    * lambda split for dedup at ingest.
    */
  def corpusPrepStream(docs: DataFrame, watermark: String = "1 hour",
                       minQuality: Double = 0.5): DataFrame =
    graft.textops.TextStats.textStatsFrom(docDedupStream(docs, watermark))
      .where(col("quality") >= minQuality &&
        expr("poly_hash(cast(doc_id as string)) % 100 < 90"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))

  /** Streaming CDC compaction — the update-mode analog of
    * [[graft.analytics.RelationalAnalytics.eventsCompact]]: per-key
    * latest state maintained as an unwindowed `max(struct(ts,
    * event_id, …))` aggregate. Struct ordering is lexicographic by
    * field position, so (ts, event_id) leads and the payload fields
    * ride along — the same total "latest" order as the batch
    * row_number form, as a partial-aggregatable streaming state (one
    * struct per key, merged map-side each micro-batch; a
    * mapGroupsWithState latest-value would hold the same state with
    * none of the partial aggregation).
    */
  def eventsCompactStream(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.ts").as("last_ts"), col("last.value").as("last_value"))

  /** Materialized latest-state table: [[eventsCompactStream]] kept as
    * a queryable parquet snapshot, refreshed per micro-batch through
    * [[BlockHygiene.eachBatch]] with a FULL overwrite — which makes the sink
    * idempotent under micro-batch retry for free (a retried batch
    * rewrites the identical complete-mode result; there is no
    * append/merge to double-apply). That is the exactly-once
    * materialization contract the reference's Redis sinks get from
    * key-overwrite semantics. At 100 TB the same shape keeps the
    * aggregate in update mode and overwrites only the key-range
    * partitions the batch touched (`partitionBy` + dynamic partition
    * overwrite); the complete-mode full rewrite here is the
    * bounded-key-space instance.
    */
  def eventsCompactForeachBatch(events: DataFrame, snapshotDir: String) =
    BlockHygiene.eachBatch(
      eventsCompactStream(events).writeStream.outputMode("complete")) {
      (batch, _) => batch.write.mode("overwrite").parquet(snapshotDir)
    }

  /** J1 analog (REF: TxMatch.scala § TxPayMatch — reconstructed):
    * two-stream reconciliation as a watermarked stream-stream inner
    * join with a time-range bound — Spark's
    * StreamingSymmetricHashJoinExec holds both sides' keyed state and
    * GCs it at the watermark, exactly the CoProcess + timer pattern.
    */
  def txMatchStream(events: DataFrame): DataFrame = txJoin(events, "inner")

  /** The timeout side of the reconciliation (REF: TxMatch.scala §
    * unmatchedPays side output — reconstructed): a LEFT OUTER
    * stream-stream interval join. Spark holds the pay in join state
    * and, once the watermark proves no receipt can still arrive inside
    * the ±24 h bound, emits it with a null right side — the literal
    * onTimer → side-output firing, without hand-written timer state.
    * Matched rows stream out immediately; null-receipt rows arrive
    * exactly one watermark delay later.
    */
  def txMatchOuterStream(events: DataFrame): DataFrame =
    txJoin(events, "left_outer")

  /** Both reconciliation streams: the watermarked pay and receipt
    * sides, interval-joined on tx id within ±24 h as `joinType`. */
  private def txJoin(events: DataFrame, joinType: String): DataFrame = {
    val pays = events.filter(col("event_type") === "purchase")
      .select(concat(col("user_id"), lit("-"),
        get_json_object(col("props"), "$.k")).as("tx_id"),
        col("ts").as("pay_ts"), col("event_id").as("pay_event"))
      .withWatermark("pay_ts", "1 hour")
    val receipts = events.filter(col("event_type") === "click")
      .select(concat(col("user_id"), lit("-"),
        get_json_object(col("props"), "$.k")).as("rc_tx_id"),
        col("ts").as("receipt_ts"), col("event_id").as("receipt_event"))
      .withWatermark("receipt_ts", "1 hour")
    pays.join(receipts,
        col("tx_id") === col("rc_tx_id") &&
          col("receipt_ts") >= col("pay_ts") - expr("interval 24 hours") &&
          col("receipt_ts") <= col("pay_ts") + expr("interval 24 hours"),
        joinType)
      .select(col("tx_id"), col("pay_event"), col("receipt_event"),
        col("pay_ts"), col("receipt_ts"))
  }

  /** [[graft.analytics.DetectionAnalytics.rangeJoin]] AS A
    * STREAM-STREAM JOIN — runnable ONLY because of the bucketization:
    * Spark's stream-stream join keys its state store on an equi
    * condition, and a keyless ±60 s interval join has none, so the
    * naive form is simply unsupported (no streaming nested loop
    * exists). The synthesized bucket column IS the equi key; exact
    * containment rides as the event-time range condition, which (with
    * both sides watermarked) also bounds state eviction — each side's
    * rows are dropped once the watermark clears their 120 s bucket
    * span. Inner join ⇒ matches emit on arrival; state, not output,
    * waits for the watermark.
    */
  def rangeJoinStream(events: DataFrame): DataFrame = {
    val BucketUs = 120000000L
    val HalfUs = 60000000L
    val probes = events
      .select(col("event_id"), col("event_type"), col("ts"))
      .withColumn("bucket", expr(s"unix_micros(ts) div $BucketUs"))
      .withWatermark("ts", "10 minutes")
    val windows = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
      .withColumn("wbucket", explode(expr(
        s"sequence((unix_micros(err_ts) - $HalfUs) div $BucketUs, " +
          s"(unix_micros(err_ts) + $HalfUs) div $BucketUs)")))
      .withWatermark("err_ts", "10 minutes")
    windows.join(probes,
        col("wbucket") === col("bucket") &&
          col("ts") >= col("err_ts") - expr("interval 60 seconds") &&
          col("ts") <= col("err_ts") + expr("interval 60 seconds") &&
          col("event_id") =!= col("err_id"))
      .select(col("err_id"), col("event_id"), col("event_type"),
        (unix_micros(col("ts")) - unix_micros(col("err_ts")))
          .as("offset_us"))
  }
}
