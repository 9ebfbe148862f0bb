package graft.analytics

import graft.Tables
import graft.streaming.BlockHygiene
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hot-item / traffic analytics over the `events` table.
  *
  * Re-expresses the reference's HotItemsAnalysis + NetworkFlowAnalysis
  * modules (REF: HotItemsAnalysis/src/main/scala/HotItems.scala § CountAgg,
  * § TopNHotItems; NetworkFlowAnalysis § NetworkFlow, § PageView,
  * § UniqueVisitor, § UvWithBloom — reconstructed, see SURVEY.md §0)
  * Spark-first:
  *
  *   - Flink `keyBy(itemId).timeWindow(1h, 5m).aggregate(CountAgg)` +
  *     `keyBy(windowEnd).process(TopNHotItems)` (two hand-built shuffles,
  *     ListState + event-time timers, ~70 LoC) collapses into
  *     `groupBy(window($"ts","1 hour","5 minutes"), $"item_id").count()`
  *     + `row_number` over a window-partitioned rank. Catalyst plans the
  *     partial→final HashAggregate (map-side combine) and Spark ≥3.5's
  *     WindowGroupLimit pushes `rank <= N` below the sort, so only N rows
  *     per window survive each partition — the 100 TB-safe shape.
  *   - Per-record mutable state (Flink's incremental `CountAgg`) is
  *     subsumed by whole-stage-codegen'd hash aggregation.
  *
  * Event mapping (SURVEY.md §7.1): behavior "pv" → event_type 'view';
  * itemId → `get_json_object(props, '$.k')`; url → same key for the
  * hot-pages variant on 'click' events.
  */
object UserBehaviorAnalytics {

  /** Item id proxy extracted from the JSON props payload. */
  private def itemId(c: org.apache.spark.sql.Column) =
    get_json_object(c, "$.k").cast("bigint")

  /** Click URL proxy — ONE definition shared by hot-pages batch,
    * streaming update-mode, and the late-split reconstruction (their
    * parity depends on deriving the url identically).
    */
  def pageUrl(props: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("/page/"), get_json_object(props, "$.k"))

  // ---- shared batch/stream transforms (unified DataFrame API) ----
  // Each takes the events DataFrame (batch scan OR readStream source)
  // and returns the un-sorted aggregation; batch entry points add the
  // presentation ORDER BY, streaming runs them under a watermark.

  /** Tumbling 1 h view count (no sort — stream-safe). */
  def pageViewsFrom(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("pv"))
      .select(col("w.end").as("window_end"), col("pv"))

  /** Tumbling 1 h exact distinct users (no sort — stream-safe). */
  def uniqueVisitorsFrom(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("uv"))
      .select(col("w.end").as("window_end"), col("uv"))

  /** Sliding-window per-item counts (pre-rank stage, stream-safe). */
  def itemWindowCountsFrom(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .select(itemId(col("props")).as("item_id"), col("ts"))
      .groupBy(window(col("ts"), "1 hour", "5 minutes").as("w"), col("item_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.end").as("window_end"), col("item_id"), col("cnt"))

  /** Rank stage of hot-items (batch; streaming applies it per
    * micro-batch via foreachBatch — SURVEY.md §2.6 R1).
    */
  def rankTopN(counts: DataFrame, n: Int, keyCol: String = "item_id"): DataFrame =
    counts.withColumn("rnk", row_number().over(
        Window.partitionBy(col("window_end"))
          .orderBy(col("cnt").desc, col(keyCol).asc)))
      .filter(col("rnk") <= n)

  /** Two-level sliding-window top-N, shared by the hot-items and
    * hot-pages queries: the naive `window(ts, size, slide)` expands
    * EVERY event size/slide× before the first aggregate. Instead
    * pre-aggregate per (key, slide-length tumbling bucket) — partial
    * agg collapses events map-side — then expand each bucket COUNT
    * into the size/slide sliding windows containing its bucket and
    * sum. Identical results (every event in bucket [b, b+slide)
    * belongs to exactly the windows ending b+slide … b+size), but the
    * expansion applies to distinct (key, bucket) rows, not events —
    * which also tames hot-key skew before the wide shuffle.
    */
  private def slidingTopN(rows: DataFrame, keyCol: String, size: String,
                          slide: String, n: Int): DataFrame = {
    val perBucket = rows
      .groupBy(window(col("ts"), slide).as("b"), col(keyCol))
      .agg(count(lit(1)).as("bcnt"))
    val counts = perBucket
      .select(col(keyCol), col("bcnt"), explode(expr(
        s"sequence(b.end, b.start + interval $size, interval $slide)"))
        .as("window_end"))
      .groupBy(col("window_end"), col(keyCol))
      .agg(sum(col("bcnt")).as("cnt"))
    rankTopN(counts, n, keyCol)
      .orderBy(col("window_end"), col("rnk"))
  }

  /** Top-N hot items per sliding window (flagship).
    * REF: HotItems.scala § main/CountAgg/TopNHotItems — 1h windows
    * sliding 5m, top 5 items by view count per window. The streaming
    * form (itemWindowCountsFrom) keeps the native window() — watermark
    * bookkeeping needs it — and the parity test pins the shapes equal.
    */
  def hotItemsTopN(spark: SparkSession, sfDir: String, n: Int = 5): DataFrame = {
    import spark.implicits._
    slidingTopN(
      Tables.events(spark, sfDir)
        .filter($"event_type" === "view")
        .select(itemId($"props").as("item_id"), $"ts"),
      "item_id", "60 minutes", "5 minutes", n)
  }

  /** Top-N hot pages per sliding window, url proxy = props.k of clicks.
    * REF: NetworkFlow.scala § PageCountAgg/TopNHotPages — 10 min windows
    * sliding 1 min (reference slides 5 s; widened so the window grid stays
    * sane on the 30-day synthetic stream), top 3 per window.
    */
  def hotPagesTopN(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    import spark.implicits._
    slidingTopN(
      Tables.events(spark, sfDir)
        .filter($"event_type" === "click")
        .select(pageUrl($"props").as("url"), $"ts"),
      "url", "10 minutes", "1 minute", n)
  }

  /** Hourly page views (tumbling window count).
    * REF: PageView.scala § PvCountAgg/TotalPvCountResult. The reference
    * salts keys to parallelize then re-merges per window with keyed state
    * + a timer; Spark's partial aggregation makes the salt + second stage
    * unnecessary (SURVEY.md §2.3 P6, §2.5 A3/A6).
    */
  def pageViews(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pageViewsFrom(Tables.events(spark, sfDir)).orderBy($"window_end")
  }

  /** Hourly page views through the reference's EXPLICIT salt (P6).
    * REF: PageView.scala § main (improved version) — reconstructed:
    * `map(d => (Random.nextInt(8).toString, 1L)).keyBy(_._1)` fans the
    * single "pv" key over 8 salted keys so the count parallelizes, then
    * a second keyed stage re-merges per window. [[pageViews]] documents
    * why Spark doesn't need this (partial aggregation IS the salt); this
    * variant demonstrates the technique itself for the genuinely-skewed
    * case partial agg can't save: a high-cardinality-state aggregate
    * (think countDistinct or collect_set) on one hot key, where every
    * partial buffer is as big as the final. Two-stage shape:
    * stage 1 groups by (window, salt) — 8-way parallel, salt is a
    * DETERMINISTIC hash of event_id (a `rand()` salt would make the
    * query unreplayable; skew mitigation needs spread, not randomness) —
    * stage 2 re-aggregates the 8 partials per window. Result is
    * bit-identical to [[pageViews]], so it shares that oracle.
    */
  def pageViewsSalted(spark: SparkSession, sfDir: String, buckets: Int = 8): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "view")
      .select(window($"ts", "1 hour").getField("end").as("window_end"),
        pmod(hash($"event_id"), lit(buckets)).as("salt"))
      .groupBy($"window_end", $"salt")
      .agg(count(lit(1)).as("partial_pv"))
      .groupBy($"window_end")
      .agg(sum($"partial_pv").cast("long").as("pv"))
      .orderBy($"window_end")
  }

  /** Hourly unique visitors — exact distinct.
    * REF: UniqueVisitor.scala § UvCountByWindow builds an in-memory
    * Set[Long] at parallelism 1; Spark's countDistinct is a distributed
    * two-phase (partial distinct → final) aggregate with no OOM cliff.
    */
  def uniqueVisitors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    uniqueVisitorsFrom(Tables.events(spark, sfDir)).orderBy($"window_end")
  }

  /** Hourly unique visitors — approximate (HLL++).
    * REF: UvWithBloom.scala § Bloom/UvCountWithBloom keeps a 64 MB Redis
    * bitmap + per-record FIRE_AND_PURGE trigger; the idiomatic Spark
    * replacement is approx_count_distinct (mergeable HLL++ sketch,
    * constant memory, map-side combinable). Not oracled (approximate —
    * driver records a rows-only check); the ScalaTest spec asserts the
    * estimate is within rsd of the exact count.
    */
  def uvApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "view")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(approx_count_distinct($"user_id", 0.01).as("uv_approx"))
      .select(col("w.end").as("window_end"), $"uv_approx")
      .orderBy($"window_end")
  }

  /** KMV (k-minimum-values) distinct sketch parameters — shared by the
    * Spark query and its DuckDB oracle.
    */
  // e0 suffix: `255.0` parses as DECIMAL in both Spark and DuckDB;
  // `255e0` is DOUBLE in both — the hash gate compares types
  private val KmvK = 256
  private val KmvEstimate =
    s"if(cnt < $KmvK, cast(cnt as double), ${KmvK - 1}e0 * ${graft.textops.TextHash.P}e0 / kth)"

  /** Hourly unique visitors — approximate via a KMV sketch that DuckDB
    * can replay EXACTLY (unlike HLL++): per window keep the K smallest
    * distinct portable hashes of user_id; with the K-th smallest hash
    * h_(K) of a P-ranged uniform hash, E[distinct] ≈ (K-1)·P/h_(K)
    * (Bar-Yossef et al. '02). Windows with fewer than K distinct
    * hashes report the exact count.
    *
    * Scale shape: the per-window distinct shuffles (window, hash)
    * pairs with map-side partial dedup; the K-smallest rank is
    * two-level — min-K of a union = min-K of the per-bucket min-Ks
    * (the same mergeability HLL++ relies on), so level 1 ranks within
    * (window, h%64) buckets in parallel and level 2 ranks ≤ 64·K
    * survivors per window. A window with 10⁹ distinct users never
    * funnels through one task.
    *
    * Hash salting: a bare short user_id string's char fold never wraps
    * the modulus (3 digits reach only ~8·10⁴ of the 10⁹ range), which
    * would inflate the (K−1)·P/h_(K) estimate ~10⁴× the moment a
    * window exceeds K distinct. The '-kmv' suffix pushes every input
    * past the wrap so h is genuinely P-ranged uniform (sketch-regime
    * accuracy is spec-pinned at 5 000 distinct).
    */
  def uvApproxKmv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    kmvFrom(Tables.events(spark, sfDir)
      .filter($"event_type" === "view")
      .select(window($"ts", "1 hour").getField("end").as("window_end"),
        expr("poly_hash(concat(cast(user_id as string), '-kmv'))").as("h"))
      .distinct())
  }

  /** [[uvApproxKmv]] through the bounded-state typed aggregator
    * ([[graft.functions.KmvAggregator]]) instead of the relational
    * two-level rank: one `groupBy(window).agg(kmv_sketch(h))` whose
    * per-group state is ≤ K longs — the shape a STREAMING aggregation
    * carries per window ([[graft.streaming.StreamingAnalytics
    * .uvKmvStream]] runs this identical transform under a watermark).
    * No pre-distinct: the aggregator deduplicates in-state. The K-min
    * distinct set is arrival- and partition-order independent, so the
    * result is bit-identical to the relational form and shares its
    * DuckDB oracle verbatim.
    */
  def uvApproxKmvAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    uvKmvFinish(Tables.events(spark, sfDir)
      .filter($"event_type" === "view")
      .select(window($"ts", "1 hour").getField("end").as("window_end"),
        expr("poly_hash(concat(cast(user_id as string), '-kmv'))").as("h"))
      .groupBy($"window_end")
      .agg(graft.functions.KmvAggregator.kmvSketch(col("h")).as("sk")))
      .orderBy($"window_end")
  }

  /** Estimate columns over a finished KMV sketch array — shared by the
    * batch aggregator query and the streaming form (which must apply
    * it per micro-batch output, after the stateful agg).
    */
  def uvKmvFinish(sketches: DataFrame): DataFrame =
    sketches
      .selectExpr("window_end", "size(sk) as cnt", "element_at(sk, -1) as kth")
      .select(col("window_end"), expr(KmvEstimate).as("uv_kmv"))

  /** KMV core over pre-deduped (window_end, h) rows — h must be a
    * P-ranged uniform hash (see the salting note on [[uvApproxKmv]]).
    */
  private[graft] def kmvFrom(distinctHashes: DataFrame): DataFrame = {
    val bucketTopK = distinctHashes
      .withColumn("brnk", row_number().over(
        Window.partitionBy(col("window_end"), pmod(col("h"), lit(64)))
          .orderBy(col("h").asc)))
      .filter(col("brnk") <= KmvK)
    bucketTopK
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("window_end")).orderBy(col("h").asc)))
      .filter(col("rnk") <= KmvK)
      .groupBy(col("window_end"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("kth"))
      .select(col("window_end"), expr(KmvEstimate).as("uv_kmv"))
      .orderBy(col("window_end"))
  }

  /** Gap-based sessionization (beyond the reference — Flink's session
    * windows exist but the course project never uses them; a
    * user-session rollup is a core behavior-analytics primitive).
    * Spark-native `session_window(ts, gap)`: sessions merge while
    * events are < gap apart; window end = last event + gap. Same
    * operator runs under Structured Streaming with a watermark
    * (state-merging session aggregation) — parity-tested.
    *
    * Scale shape: one shuffle on user_id with partial session merging
    * map-side; no per-user window sort (contrast the islands/gaps SQL
    * form the oracle replays, which needs two window passes).
    */
  def userSessions(spark: SparkSession, sfDir: String, gap: String = "24 hours"): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(session_window($"ts", gap).as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  val userSessionsOracle: String =
    """WITH m AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR ts - lag(ts) OVER w > INTERVAL 24 HOUR THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), g AS (
      |  SELECT user_id, ts,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                          ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 24 HOUR AS session_end,
      |       count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Cohort retention matrix — the D0/D1/D7 analysis every behavior
    * pipeline runs: users bucketed by first-activity day, and for each
    * (cohort, day-offset) the distinct users still active, plus the
    * retention rate against the cohort's size.
    *
    * Scale shape: ONE user-keyed exchange total for the event data —
    * `collect_set(day)` per user dedupes map-side and carries a
    * bounded payload (≤ the date range), and cohort day + offsets are
    * then per-row arithmetic on the set (array_min + explode), so the
    * naive plan's three data-sized shuffles ((user,day) distinct,
    * per-user min, activity⋈cohort join) collapse into one. The
    * (cohort, offset) matrix is aggregated once, checkpointed, and the
    * cohort-size join is a broadcast of O(days) rows against it — the
    * plan pin in PlanSpec counts exactly two pre-sort exchanges.
    */
  def userRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val matrix = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("day"))
      .groupBy($"user_id").agg(collect_set($"day").as("days"))
      .select(array_min($"days").as("cohort_day"), explode($"days").as("day"))
      .groupBy($"cohort_day", datediff($"day", $"cohort_day").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .transform(BlockHygiene.checkpointTracked)
    val sizes = matrix.where($"day_offset" === 0)
      .select($"cohort_day".as("c2"), $"n_users".as("cohort_size"))
    matrix.join(broadcast(sizes), $"cohort_day" === $"c2")
      .selectExpr("cohort_day", "day_offset", "n_users", "cohort_size",
        "cast(n_users as double) / cohort_size as retention")
      .orderBy($"cohort_day", $"day_offset")
  }

  val userRetentionOracle: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1
      |), matrix AS (
      |  SELECT c.cohort_day, datediff('day', c.cohort_day, a.day) AS day_offset,
      |         count(*) AS n_users
      |  FROM act a JOIN cohorts c ON a.user_id = c.user_id
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT cohort_day, n_users AS cohort_size FROM matrix WHERE day_offset = 0
      |)
      |SELECT m.cohort_day, CAST(m.day_offset AS INT) AS day_offset,
      |       m.n_users, s.cohort_size,
      |       CAST(m.n_users AS DOUBLE) / s.cohort_size AS retention
      |FROM matrix m JOIN sizes s ON m.cohort_day = s.cohort_day
      |ORDER BY m.cohort_day, day_offset""".stripMargin

  /** Pearson correlation of hourly page views vs unique visitors —
    * the metric-correlation check a traffic dashboard runs (a pv/uv
    * decoupling flags bot traffic or instrumentation drift). Both
    * series are integer counts, so every moment (Σx, Σy, Σx², Σy²,
    * Σxy) is an exact BIGINT — partition-order independent and
    * engine-identical — and r touches doubles only in the final
    * guarded expression, in one fixed op order. Zero-variance corpora
    * report r = 0 identically on both engines instead of a NaN whose
    * representation could diverge.
    *
    * Scale shape: one windowed aggregate (partial map-side; the
    * distinct inside is the same shuffle [[uniqueVisitors]] pays) then
    * a six-sum fold to ONE row — the moment sums are classic
    * partial-aggregatable accumulators.
    */
  def pvUvCorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"event_type" === "view")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("pv"), countDistinct($"user_id").as("uv"))
      .agg(count(lit(1)).as("n"), sum($"pv").as("sx"), sum($"uv").as("sy"),
        sum($"pv" * $"pv").as("sxx"), sum($"uv" * $"uv").as("syy"),
        sum($"pv" * $"uv").as("sxy"))
      .selectExpr("n as n_windows",
        "n * sxx - sx * sx as dx", "n * syy - sy * sy as dy",
        "n * sxy - sx * sy as num")
      .selectExpr("n_windows",
        "case when dx = 0 or dy = 0 then 0e0 else " +
          "cast(num as double) / sqrt(cast(dx as double) * cast(dy as double)) " +
          "end as pearson_r")
  }

  val pvUvCorrelationOracle: String =
    """WITH h AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w,
      |         CAST(count(*) AS BIGINT) AS pv,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS uv
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_windows,
      |         CAST(sum(pv) AS BIGINT) AS sx, CAST(sum(uv) AS BIGINT) AS sy,
      |         CAST(sum(pv * pv) AS BIGINT) AS sxx,
      |         CAST(sum(uv * uv) AS BIGINT) AS syy,
      |         CAST(sum(pv * uv) AS BIGINT) AS sxy
      |  FROM h
      |), d AS (
      |  SELECT n_windows,
      |         n_windows * sxx - sx * sx AS dx,
      |         n_windows * syy - sy * sy AS dy,
      |         n_windows * sxy - sx * sy AS num
      |  FROM s
      |)
      |SELECT n_windows,
      |       CASE WHEN dx = 0 OR dy = 0 THEN 0e0
      |            ELSE CAST(num AS DOUBLE)
      |                   / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
      |       END AS pearson_r
      |FROM d""".stripMargin

  /** Sketch-based day-over-day retention — the KMV SET-OPERATION tier
    * the exact [[userRetention]] cohort matrix can't reach at 100 TB:
    * exact retention shuffles every (user, day) pair; this touches the
    * corpus once for per-day distinct hashes and then operates
    * entirely on K-row daily sketches (K·days rows total). Mergeable
    * set ops on KMV sketches (Beyer et al., SIGMOD '07): for days
    * (d, d+1), min-K of the sketch UNION gives the union estimate,
    * the fraction of those K values present in BOTH sides estimates
    * Jaccard, and retained ≈ J · |A∪B|. Same P-ranged salted
    * poly_hash as [[uvApproxKmv]], so DuckDB replays every estimate
    * bit-for-bit — unlike HLL++ there is no engine-private hashing.
    *
    * Scale shape: the daily sketch build is the two-level min-K
    * ([[kmvFrom]]'s mergeability argument — a day with 10⁹ distinct
    * users never funnels one task); everything after runs on
    * O(K · days) rows, and the consecutive-day pair join is a join of
    * day-count-sized aggregates. Sketches are localCheckpoint'd once
    * and feed the union, both membership probes, and the estimates.
    */
  def retentionKmv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .select(to_date($"ts").as("day"),
        expr("poly_hash(concat(cast(user_id as string), '-kmv'))").as("h"))
      .distinct()
    val sk = daily
      .withColumn("brnk", row_number().over(
        Window.partitionBy($"day", pmod($"h", lit(64))).orderBy($"h".asc)))
      .where($"brnk" <= KmvK)
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"day").orderBy($"h".asc)))
      .where($"rnk" <= KmvK)
      .select($"day", $"h")
    retentionTail(sk)
  }

  /** The set-operation tail of [[retentionKmv]] over per-day sketch
    * ROWS (day, h) — shared with the streaming form, which maintains
    * the daily sketches incrementally (KmvAgg state) and explodes
    * them back to rows per micro-batch. Everything here runs on
    * O(K · days) rows; the input is localCheckpoint'd once because it
    * feeds the estimates, the union rank, and both membership probes
    * (and self-join attribute lineage must be broken regardless of
    * which build produced it).
    */
  private[graft] def retentionTail(sk0: DataFrame): DataFrame = {
    val sk = BlockHygiene.checkpointTracked(sk0)
    import sk.sparkSession.implicits._
    val est = sk.groupBy($"day")
      .agg(count(lit(1)).as("cnt"), max($"h").as("kth"))
      .select($"day", expr(KmvEstimate).as("uv"))
    // consecutive-day pairing via lead() over the day-count-sized
    // aggregate — a one-row-per-day global window (the late_events
    // two-level precedent), cheaper and lineage-safe vs a self-join
    val pairs = est
      .withColumn("day_next", lead($"day", 1).over(Window.orderBy($"day")))
      .withColumn("uv_b", lead($"uv", 1).over(Window.orderBy($"day")))
      .where(expr("date_add(day, 1) = day_next"))
      .select($"day", $"day_next", $"uv".as("uv_a"), $"uv_b")
    // union sketch keyed by the pair's FIRST day: day d's rows as-is,
    // day d+1's rows shifted back one day
    val unionRows = sk
      .unionByName(sk.select(expr("date_add(day, -1)").as("day"), $"h"))
      .distinct()
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"day").orderBy($"h".asc)))
      .where($"rnk" <= KmvK)
      .select($"day", $"h")
    val j = unionRows
      .join(sk.select($"day", $"h", lit(1L).as("in_a")), Seq("day", "h"), "left_outer")
      .join(sk.select(expr("date_add(day, -1)").as("day"), $"h", lit(1L).as("in_b")),
        Seq("day", "h"), "left_outer")
      .groupBy($"day")
      .agg(count(lit(1)).as("cnt"), max($"h").as("kth"),
        sum(coalesce($"in_a", lit(0L)) * coalesce($"in_b", lit(0L))).as("both"))
      .select($"day", expr(KmvEstimate).as("uv_union"),
        expr("cast(both as double) / cnt").as("jaccard"))
    pairs.join(j, "day")
      .selectExpr("day", "day_next", "uv_a", "uv_b", "uv_union", "jaccard",
        "jaccard * uv_union as est_retained")
      .orderBy($"day")
  }

  /** [[retentionTail]] over finished per-day sketch ARRAYS — the sink
    * side of [[graft.streaming.StreamingAnalytics.retentionKmvStream]]:
    * explode each day's ≤K-long sketch back to (day, h) rows and run
    * the identical set-operation tail. Sketch arrays are the exact
    * K-min distinct sets the batch build ranks out, so stream == batch
    * bit-for-bit.
    */
  def retentionKmvFinish(sketches: DataFrame): DataFrame =
    retentionTail(sketches.select(col("day"), explode(col("sk")).as("h")))

  val retentionKmvOracle: String = {
    import graft.textops.TextHash.{phDuck, P}
    val kmvCase = s"CASE WHEN cnt < $KmvK THEN CAST(cnt AS DOUBLE) " +
      s"ELSE ${KmvK - 1}e0 * ${P}e0 / kth END"
    s"""WITH daily AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day,
       |         ${phDuck("CAST(user_id AS VARCHAR) || '-kmv'", "rk")} AS h
       |  FROM events
       |), sk AS (
       |  SELECT day, h FROM (
       |    SELECT day, h,
       |           row_number() OVER (PARTITION BY day ORDER BY h ASC) AS rnk
       |    FROM daily) WHERE rnk <= $KmvK
       |), est AS (
       |  SELECT day, count(*) AS cnt, max(h) AS kth FROM sk GROUP BY 1
       |), estv AS (
       |  SELECT day, $kmvCase AS uv FROM est
       |), pairs AS (
       |  SELECT ea.day AS day, eb.day AS day_next, ea.uv AS uv_a, eb.uv AS uv_b
       |  FROM estv ea JOIN estv eb ON ea.day + 1 = eb.day
       |), unionrows AS (
       |  SELECT DISTINCT day, h FROM (
       |    SELECT day, h FROM sk
       |    UNION ALL
       |    SELECT day - 1 AS day, h FROM sk)
       |), uk AS (
       |  SELECT day, h FROM (
       |    SELECT day, h,
       |           row_number() OVER (PARTITION BY day ORDER BY h ASC) AS rnk
       |    FROM unionrows) WHERE rnk <= $KmvK
       |), j AS (
       |  SELECT u.day, count(*) AS cnt, max(u.h) AS kth,
       |         sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
       |                  THEN 1 ELSE 0 END) AS nboth
       |  FROM uk u
       |  LEFT JOIN sk a ON a.day = u.day AND a.h = u.h
       |  LEFT JOIN sk b ON b.day - 1 = u.day AND b.h = u.h
       |  GROUP BY 1
       |), jv AS (
       |  SELECT day, $kmvCase AS uv_union,
       |         CAST(nboth AS DOUBLE) / cnt AS jaccard
       |  FROM j
       |)
       |SELECT p.day, p.day_next, p.uv_a, p.uv_b, jv.uv_union, jv.jaccard,
       |       jv.jaccard * jv.uv_union AS est_retained
       |FROM pairs p JOIN jv ON p.day = jv.day ORDER BY p.day""".stripMargin
  }

  /** Distinct-user estimates for EVERY cell of the (event_type × day)
    * cube lattice in ONE Expand pass — grouping sets married to the
    * mergeable KMV sketch. Exact `countDistinct` under CUBE shuffles
    * the full (user × lattice-cell) pair stream (each input row
    * expands into all 4 grouping sets BEFORE the distinct), which at
    * 100 TB is 4× the corpus through the exchange; the sketch cube's
    * agg state is a bounded sorted array per cell, so map-side partial
    * aggregation collapses every task's contribution to ≤ K longs per
    * cell and the exchange carries O(K · cells). Cells with < K
    * distinct hashes report the exact count (the whole lattice at the
    * correctness tiers' small cells; the global cell exercises the
    * sketch regime from sf0.1 up). DuckDB replays every estimate
    * bit-for-bit — one rank-KMV block per grouping set.
    */
  def uvCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_type", to_date($"ts").as("day"),
        expr("poly_hash(concat(cast(user_id as string), '-kmv'))").as("h"))
      .cube($"event_type", $"day")
      .agg(graft.functions.KmvAggregator.kmvSketch(col("h")).as("sk"))
      .selectExpr("coalesce(event_type, '(all)') as event_type",
        "coalesce(cast(day as string), '(all)') as day",
        "size(sk) as cnt", "element_at(sk, -1) as kth")
      .select($"event_type", $"day", expr(KmvEstimate).as("uv_kmv"))
      .orderBy($"event_type", $"day")
  }

  val uvCubeOracle: String = {
    import graft.textops.TextHash.{phDuck, P}
    // one rank-KMV block per grouping set: the distinct-hash set must
    // be re-deduped per set (collapsing a dim merges its hash sets)
    def block(et: String, day: String, keys: String): String =
      s"""  SELECT $et AS event_type, $day AS day, count(*) AS cnt, max(h) AS kth
         |  FROM (
         |    SELECT *, row_number() OVER (${
             if (keys.isEmpty) "" else s"PARTITION BY $keys "
           }ORDER BY h ASC) AS rnk
         |    FROM (SELECT DISTINCT ${if (keys.isEmpty) "" else s"$keys, "}h
         |          FROM base)
         |  ) rk WHERE rnk <= $KmvK
         |  GROUP BY ${if (keys.isEmpty) "1, 2" else keys}""".stripMargin
    s"""WITH base AS (
       |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       |         ${phDuck("CAST(user_id AS VARCHAR) || '-kmv'", "u")} AS h
       |  FROM events
       |), cells AS (
       |${block("event_type", "day", "event_type, day")}
       |  UNION ALL
       |${block("event_type", "'(all)'", "event_type")}
       |  UNION ALL
       |${block("'(all)'", "day", "day")}
       |  UNION ALL
       |${block("'(all)'", "'(all)'", "")}
       |)
       |SELECT event_type, day,
       |       CASE WHEN cnt < $KmvK THEN CAST(cnt AS DOUBLE)
       |            ELSE ${KmvK - 1}e0 * ${P}e0 / kth END AS uv_kmv
       |FROM cells ORDER BY event_type, day""".stripMargin
  }

  val uvApproxKmvOracle: String = {
    import graft.textops.TextHash.{phDuck, P}
    s"""WITH v AS (
       |  SELECT DISTINCT time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       |         ${phDuck("CAST(user_id AS VARCHAR) || '-kmv'", "u")} AS h
       |  FROM events WHERE event_type = 'view'
       |), r AS (
       |  SELECT window_end, h,
       |         row_number() OVER (PARTITION BY window_end ORDER BY h ASC) AS rnk
       |  FROM v
       |), agg AS (
       |  SELECT window_end, count(*) AS cnt, max(h) AS kth
       |  FROM r WHERE rnk <= $KmvK GROUP BY 1
       |)
       |SELECT window_end,
       |       CASE WHEN cnt < $KmvK THEN CAST(cnt AS DOUBLE)
       |            ELSE ${KmvK - 1}e0 * ${P}e0 / kth END AS uv_kmv
       |FROM agg ORDER BY window_end""".stripMargin
  }
}
