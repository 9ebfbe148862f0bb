package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.{Session, SparkEntry, Tables}
import graft.analytics.{DetectionAnalytics, UserBehaviorAnalytics}
import graft.streaming.StreamingAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Event row fed to the stream workload's MemoryStream. */
case class EvRow(event_id: Long, ts_us: Long, user_id: Long, event_type: String,
                 props: String)

/** The benchmark's JVM side: sets the session up, runs one workload's
  * ops in a closed loop with one client, and writes raw records
  * (set-up cycles, every op's latency and outcome, per-layer counters,
  * spans) for `run.py` to check and summarize.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *        <setups> <none|selftest>
  */
object Main {
  val Cores = 4
  val OpTimeoutS = 60L

  /** dashboard: three of the reference's analytics, a warehouse report
    * and a candidate-pair serving tier — an odd count, so the pooled
    * median lands inside one query's own distribution.
    */
  val Dashboard = Seq("hot_items_topn", "tx_match", "cep_funnel",
    "pricing_summary", "dedup_minhash_lsh_capped")
  /** stream: micro-batches per lap over the generated events. */
  val StreamBatches = 1
  /** Nominal duration of one timed pass (dashboard) or op (stream) on a
    * 4-core host. The timed window runs a fixed number of them,
    * round(seconds / nominal), so every run measures the same point of
    * the JIT warm-up curve. At 12 s that is 6 dashboard passes: 30 ops,
    * so the median and the tail rank (ten beyond) each fall inside one
    * query's block of samples rather than between two queries.
    */
  val NominalS = Map("dashboard" -> 2.15, "stream" -> 2.5)

  /** Tables each workload reads (the Tables layer's scan set). */
  val WorkloadTables = Map(
    "dashboard" -> Seq("events", "lineitem", "documents"),
    "stream" -> Seq("events"))

  /** One recorded op: a batch query or one micro-batch of the stream.
    * t0/t1 are ms since JVM start.
    */
  case class OpRec(name: String, pass: Int, timed: Boolean, ok: Boolean,
                   error: String, t0: Double, t1: Double, buildS: Double,
                   execS: Double, countS: Double, rows: Long,
                   inputRows: Long, plan: Map[String, (Long, Double)], span: String) {
    def latencyS: Double = (t1 - t0) / 1000
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, seconds, trace, setups, inject) = args
    require(WorkloadTables.contains(workload), s"unknown workload $workload")
    new File(workDir).mkdirs()
    new Bench(workload, dataDir, workDir, trace == "1", inject == "selftest")
      .run(seconds.toDouble, setups.toInt)
  }

  def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
}

class Bench(workload: String, dataDir: String, workDir: String, trace: Boolean,
            selftest: Boolean) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val nanoAtJvmStartMs =
    System.nanoTime / 1e6 - (System.currentTimeMillis - jvmStartMs)
  private def nowMs: Double = System.nanoTime / 1e6 - nanoAtJvmStartMs

  private val ops = mutable.ArrayBuffer[OpRec]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val passes = mutable.ArrayBuffer[(Long, Double)]() // (input rows, wall s)
  private val notes = mutable.LinkedHashMap[String, Any]()
  private val tableRows = mutable.LinkedHashMap[String, Long]()
  private val tableScanS = mutable.LinkedHashMap[String, Double]()
  private val pool = Executors.newSingleThreadExecutor()
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
  private var spark: SparkSession = _
  private var exec: ExecListener = _
  private var progress: ProgressListener = _
  private var opSeq = 0
  private var countPass = -1 // the pass whose ops also time count()

  /** Batch ops: name → query function. The self-test adds one op that
    * throws, one whose output is wrong and one with no final ORDER BY;
    * each must be counted as failed.
    */
  private val batchQueries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val base = if (workload == "dashboard") Dashboard.map(n => n -> SparkEntry.queries(n))
               else Nil
    if (!selftest) base
    else base ++ Seq(
      "selftest_throws" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("injected failure")),
      "selftest_wrong" -> ((s: SparkSession, d: String) =>
        SparkEntry.queries("hot_items_topn")(s, d).withColumn("cnt", col("cnt") + 1)),
      "selftest_unsorted" -> ((s: SparkSession, d: String) =>
        Tables.events(s, d).groupBy("event_type").count()))
  }

  /** Oracle SQL per batch op (the wrong-output op borrows its source's). */
  private def oracleFor(name: String): Option[String] =
    SparkEntry.oracleSql.get(if (name == "selftest_wrong") "hot_items_topn" else name)

  private def newSession(): SparkSession = {
    var b = Session.harnessBuilder(Cores.toString)
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
    if (workload == "stream")
      b = Session.RocksDbStateStore.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    exec = new ExecListener(jvmStartMs)
    s.sparkContext.addSparkListener(exec)
    progress = new ProgressListener
    s.streams.addListener(progress)
    s
  }

  /** Runs `body` on the client thread with a timeout; its jobs carry
    * `span` so the listener can attribute them.
    */
  private def timed[T](span: String)(body: => T): T = {
    val f = Future {
      spark.sparkContext.setLocalProperty("perfbench.span", span)
      spark.sparkContext.setJobGroup(span, span, interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    }
    try Await.result(f, OpTimeoutS.seconds)
    catch {
      case e: TimeoutException =>
        spark.sparkContext.cancelJobGroup(span)
        throw e
    }
  }

  // ---- Tables layer ----------------------------------------------------

  /** Loads each table the workload reads through `graft.Tables` and
    * scans it fully with a noop write.
    */
  private def loadTables(): Unit = for (t <- WorkloadTables(workload)) {
    val t0 = nowMs
    val df = if (t == "events") Tables.events(spark, dataDir) else Tables.load(spark, dataDir, t)
    timed(s"scan/$t")(df.write.format("noop").mode("overwrite").save())
    tableScanS(t) = (nowMs - t0) / 1000
    if (!tableRows.contains(t)) tableRows(t) = df.count()
  }

  // ---- batch ops -------------------------------------------------------

  /** One op: call the query function (build) and materialize every
    * output row of its final plan, presentation sort and output
    * columns included (exec).
    */
  private def batchOp(pass: Int, timedOp: Boolean, name: String,
                      q: (SparkSession, String) => DataFrame): OpRec = {
    opSeq += 1
    val id = s"op$opSeq"
    val t0 = nowMs
    var tb = t0
    try {
      val df = timed(s"$id/build")(q(spark, dataDir))
      tb = nowMs
      val qe = df.queryExecution
      val rows = timed(s"$id/exec") {
        SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.count())
      }
      val te = nowMs
      val sorted = Plans.hasFinalSort(qe.executedPlan)
      val plan = if (trace) Plans.metrics(qe.executedPlan) else Map.empty[String, (Long, Double)]
      // count() of the same query, outside the op's latency: the gap to
      // exec_s is the presentation work a count()-timed bench elides.
      // Timed on the last pass only, to keep the traced run short.
      val countS = if (!trace || pass != countPass) 0.0 else {
        val c0 = nowMs
        timed(s"$id/count")(df.count())
        spans += Span(s"$id/count", id, "count", "count", c0, nowMs)
        (nowMs - c0) / 1000
      }
      spans ++= Seq(Span(id, s"pass$pass", name, "op", t0, te),
        Span(s"$id/build", id, "build", "build", t0, tb),
        Span(s"$id/exec", id, "exec", "exec", tb, te))
      OpRec(name, pass, timedOp, sorted, if (sorted) "" else "no final ORDER BY in plan",
        t0, te, (tb - t0) / 1000, (te - tb) / 1000, countS, rows, 0L, plan, id)
    } catch {
      case e: Throwable =>
        val te = nowMs
        spans += Span(id, s"pass$pass", name, "op", t0, te)
        OpRec(name, pass, timedOp, ok = false, errorOf(e), t0, te, (tb - t0) / 1000,
          0.0, 0.0, 0L, 0L, Map.empty, id)
    }
  }

  private def batchPass(pass: Int, timedOp: Boolean): Unit = {
    val t0 = nowMs
    ops ++= batchQueries.map { case (n, q) => batchOp(pass, timedOp, n, q) }
    val te = nowMs
    spans += Span(s"pass$pass", "", s"pass $pass", "pass", t0, te)
    // pass wall = the ops' own latencies, so the traced run's extra
    // count() per op does not enter rows_per_s
    val wall = ops.filter(_.pass == pass).map(_.latencyS).sum
    if (timedOp) passes += ((WorkloadTables(workload).map(tableRows).sum, wall))
  }

  // ---- stream ops ------------------------------------------------------

  /** The events in event-time order, cut into [[StreamBatches]] batches. */
  private lazy val streamBatches: Seq[Seq[EvRow]] = {
    val s = spark
    import s.implicits._
    val rows = Tables.events(spark, dataDir)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
        $"event_type", $"props")
      .as[EvRow].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
    rows.grouped(math.ceil(rows.size.toDouble / StreamBatches).toInt).toSeq
  }
  private lazy val (minTs, maxTs) =
    (streamBatches.head.head.ts_us, streamBatches.last.last.ts_us)

  /** Lap `lap` of the events: shifted past the previous lap in event
    * time and id, so a sustained stream keeps advancing its watermark.
    */
  private def lapBatch(lap: Int, i: Int): Seq[EvRow] = {
    val dt = lap * (maxTs - minTs + 86400L * 1000000)
    streamBatches(i).map(e => e.copy(event_id = e.event_id + lap * 10000000000L,
      ts_us = e.ts_us + dt))
  }

  /** Starts the three stateful queries on one MemoryStream. */
  private def startStreams(tag: String): (MemoryStream[EvRow], Seq[StreamingQuery]) = {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    implicit val ss: SparkSession = s
    val ckpt = new File(workDir, s"ckpt/$tag").getAbsolutePath
    val ms = MemoryStream[EvRow]
    val events = ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)"))
    def start(df: DataFrame, q: String, mode: String): StreamingQuery =
      df.writeStream.format("memory").queryName(s"${q}_$tag").outputMode(mode)
        .option("checkpointLocation", s"$ckpt/$q").start()
    (ms, Seq(
      start(StreamingAnalytics.itemWindowCountsStream(events), "items", "update"),
      start(StreamingAnalytics.uniqueVisitorsStream(events), "uv", "append"),
      start(StreamingAnalytics.loginFailPairs(ms.toDS().map(e =>
        StreamingAnalytics.Ev(e.event_id, e.ts_us, e.user_id, e.event_type))).toDF(),
        "loginfail", "append")))
  }

  /** One op: add a batch, wait until every query has processed it. */
  private def streamOp(pass: Int, timedOp: Boolean, ms: MemoryStream[EvRow],
                       queries: Seq[StreamingQuery], batch: Seq[EvRow]): OpRec = {
    opSeq += 1
    val id = s"op$opSeq"
    val t0 = nowMs
    val err = try {
      timed(id) { ms.addData(batch); queries.foreach(_.processAllAvailable()) }
      ""
    } catch { case e: Throwable => errorOf(e) }
    val te = nowMs
    spans += Span(id, s"pass$pass", "batch", "op", t0, te)
    OpRec("batch", pass, timedOp, err.isEmpty, err, t0, te, 0.0, (te - t0) / 1000,
      0.0, 0L, batch.size.toLong, Map.empty, id)
  }

  /** Set-up pass: one lap plus far-future rows that advance every
    * watermark, so append-mode windows close and login-fail timers fire.
    */
  private def streamSetupPass(pass: Int): Unit = {
    val (ms, queries) = startStreams(s"p$pass")
    val t0 = nowMs
    val flushTs = maxTs + 30L * 86400 * 1000000
    val flush = Seq(EvRow(-1L, flushTs, -1L, "view", "{}"),
      EvRow(-2L, flushTs, -1L, "error", "{}"))
    ops ++= (streamBatches.indices.map(lapBatch(0, _)) :+ flush)
      .map(b => streamOp(pass, timedOp = false, ms, queries, b))
    spans += Span(s"pass$pass", "", s"pass $pass", "pass", t0, nowMs)
    queries.foreach(_.stop())
  }

  /** Correctness, outside every timed window: batch outputs are saved
    * for the DuckDB oracle; the last set-up pass's stream outputs are
    * compared with the batch transforms.
    */
  private def verify(outDir: String, lastPass: Int): Unit =
    if (workload == "stream") {
      if (ops.filter(_.pass == lastPass).forall(_.ok))
        notes("stream_parity") = timed("verify")(streamParity(s"p$lastPass"))
    } else {
      for ((n, q) <- batchQueries)
        try timed(s"save/$n")(q(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$n"))
        catch { case e: Throwable => notes(s"save_error.$n") = errorOf(e) }
      writeFile(s"$outDir/oracle_sql.json", Json(batchQueries.flatMap {
        case (n, _) => oracleFor(n).map(n -> _) }.toMap))
    }

  /** Timed window: one sustained stream, lap after lap, `n` ops. */
  private def streamWindow(pass: Int, n: Int): Unit = {
    val (ms, queries) = startStreams(s"p$pass")
    val t0 = nowMs
    for (i <- 0 until n)
      ops += streamOp(pass, timedOp = true, ms, queries,
        lapBatch(i / StreamBatches, i % StreamBatches))
    val te = nowMs
    queries.foreach(_.stop())
    spans += Span(s"pass$pass", "", s"pass $pass", "pass", t0, te)
    passes += ((ops.filter(o => o.timed).map(_.inputRows).sum, (te - t0) / 1000))
  }

  /** Stream output == the batch transform on the same events (the
    * StreamingParitySpec rule), per query.
    */
  private def streamParity(tag: String): Map[String, Boolean] = {
    val s = spark
    import s.implicits._
    val items = UserBehaviorAnalytics.itemWindowCountsFrom(Tables.events(spark, dataDir))
      .select($"window_end", $"item_id", $"cnt").as[(Timestamp, String, Long)].collect().toSet
    val itemsEnd = items.map(_._1.getTime).max
    val gotItems = spark.table(s"items_$tag")
      .groupBy($"window_end", $"item_id").agg(max($"cnt").as("cnt"))
      .select($"window_end", $"item_id", $"cnt").as[(Timestamp, String, Long)]
      .collect().toSet.filter(_._1.getTime <= itemsEnd)
    val uv = UserBehaviorAnalytics.uniqueVisitors(spark, dataDir)
      .as[(Timestamp, Long)].collect().toSet
    val uvEnd = uv.map(_._1.getTime).max
    val gotUv = spark.table(s"uv_$tag").select($"window_end", $"uv")
      .as[(Timestamp, Long)].collect().toSet.filter(_._1.getTime <= uvEnd)
    val lf = DetectionAnalytics.loginFailDetect(spark, dataDir)
      .select($"user_id", unix_micros($"first_fail"), unix_micros($"last_fail"))
      .as[(Long, Long, Long)].collect().toSet
    val gotLf = spark.table(s"loginfail_$tag").where($"user_id" =!= -1L)
      .select($"user_id", $"first_fail_us", $"last_fail_us")
      .as[(Long, Long, Long)].collect().toSet
    Map("itemWindowCountsStream" -> (items.nonEmpty && items == gotItems),
      "uniqueVisitorsStream" -> (uv.nonEmpty && uv == gotUv),
      "loginFailPairs" -> (lf.nonEmpty && lf == gotLf))
  }

  // ---- run -------------------------------------------------------------

  def run(seconds: Double, setups: Int): Unit = {
    val outDir = new File(workDir, "outputs").getAbsolutePath
    val setupS = mutable.ArrayBuffer[Double]()
    val sessionS = mutable.ArrayBuffer[Double]()
    var p = 0
    try {
      // Set-up cycles: session start, input load, one warm pass. The
      // first cycle counts from process start; later cycles restart the
      // session, so setup_s is a median over cycles.
      for (k <- 0 until setups) {
        if (spark != null) spark.stop()
        val c0 = if (k == 0) 0.0 else nowMs
        val s0 = nowMs
        spark = newSession()
        sessionS += (nowMs - s0) / 1000
        loadTables()
        p += 1
        if (workload == "stream") streamSetupPass(p) else batchPass(p, timedOp = false)
        setupS += (nowMs - c0) / 1000
      }
      verify(outDir, p)
      val scrub0 = nowMs
      Session.scrubBlocks(spark)
      notes("scrub_s") = (nowMs - scrub0) / 1000
      notes("heap_live_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

      // Timed window: one client, a fixed number of passes (or stream
      // ops) sized to take about `seconds`.
      val w0 = nowMs
      val n = math.max(1, math.round(seconds / NominalS(workload)).toInt)
      if (workload == "stream") { p += 1; streamWindow(p, n) }
      else {
        countPass = p + n
        for (_ <- 1 to n) { p += 1; batchPass(p, timedOp = true) }
      }
      notes("window_s") = (nowMs - w0) / 1000
      if (trace) loadTables() // traced scan timings on the warm session
      notes("session_start_s") = sessionS
    } finally {
      if (spark != null) spark.stop() // drains the listener bus
      pool.shutdownNow()
    }
    writeResult(setupS.toSeq)
  }

  private def writeFile(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try w.write(s) finally w.close()
  }

  private def countsJson(all: Seq[ExecCounts], buildJobs: Int): Map[String, Any] =
    Map("jobs" -> all.map(_.jobs).sum, "stages" -> all.map(_.stages).sum,
      "tasks" -> all.map(_.tasks).sum, "task_busy_s" -> all.map(_.busyS).sum,
      "shuffle_write_bytes" -> all.map(_.shuffleWrite).sum,
      "shuffle_read_bytes" -> all.map(_.shuffleRead).sum,
      "spill_bytes" -> all.map(_.spill).sum,
      "peak_exec_mem_bytes" -> all.map(_.peakMem).max, "build_jobs" -> buildJobs)

  private def writeResult(setupS: Seq[Double]): Unit = {
    val opJson = ops.map { o =>
      val counts =
        if (o.name == "batch") Seq(exec.streamCountsIn(o.t0, o.t1))
        else Seq(exec.countsFor(s"${o.span}/build"), exec.countsFor(s"${o.span}/exec"))
      Map("name" -> o.name, "pass" -> o.pass, "timed" -> o.timed, "ok" -> o.ok,
        "error" -> o.error, "latency_s" -> o.latencyS, "build_s" -> o.buildS,
        "exec_s" -> o.execS, "count_s" -> o.countS, "rows" -> o.rows,
        "input_rows" -> o.inputRows, "span" -> o.span,
        "exec" -> countsJson(counts, if (o.name == "batch") 0 else counts.head.jobs),
        "plan" -> o.plan.map { case (k, (r, t)) => k -> Map("rows_out" -> r, "time_ms" -> t) })
    }
    val prog = progress.all.map { p =>
      Map("name" -> p.name, "batch" -> p.batchId,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "event_time" -> p.eventTime.asScala.toMap, "input_rows" -> p.numInputRows,
        "state" -> p.stateOperators.toSeq.map(s => Map("rows" -> s.numRowsTotal,
          "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
          "dropped" -> s.numRowsDroppedByWatermark)))
    }
    writeFile(s"$workDir/result.json", Json(Map("workload" -> workload,
      "setup_s" -> setupS,
      "passes" -> passes.map { case (r, s) => Map("input_rows" -> r, "wall_s" -> s) },
      "table_rows" -> tableRows, "table_scan_s" -> tableScanS,
      "notes" -> notes, "ops" -> opJson, "progress" -> prog)))
    if (trace) writeFile(s"$workDir/spans.jsonl",
      (spans ++ streamSpans ++ exec.jobSpans).map(_.json).mkString("\n") + "\n")
  }

  /** One span per streaming query batch, parented to the benchmark op
    * whose interval contains it.
    */
  private def streamSpans: Seq[Span] = progress.all.map { p =>
    val dur = p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli - jvmStartMs.toDouble
    val parent = ops.find(o => o.name == "batch" && o.t0 <= start + 1 && start <= o.t1)
      .map(_.span).getOrElse("")
    Span(s"stream:${p.id}:${p.batchId}", parent, s"${p.name} batch ${p.batchId}",
      "query", start, start + dur)
  }
}
