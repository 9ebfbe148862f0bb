package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Minimal JSON writer: the benchmark's records are flat maps of
  * numbers, strings and nested maps/sequences.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** One span: a named interval with a parent, written when the run ends. */
case class Span(id: String, parent: String, name: String, kind: String,
                startMs: Double, endMs: Double) {
  def json: String = Json(Map("id" -> id, "parent" -> parent, "name" -> name,
    "kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs))
}

/** Spark execution counters for the jobs one span (op build or exec) ran. */
case class ExecCounts(jobs: Int, stages: Int, tasks: Int, busyS: Double,
                      shuffleWrite: Long, shuffleRead: Long, spill: Long,
                      peakMem: Long)

/** SparkListener registered by the benchmark: attributes every job to
  * the span named by the `perfbench.span` local property (or to the
  * streaming query that ran it) and sums task metrics per span.
  * Events arrive asynchronously; read the totals after the session's
  * listener bus has drained (SparkContext.stop drains it).
  */
class ExecListener(epochMs: Long) extends SparkListener {
  private case class Job(id: Int, span: String, parent: String, start: Long,
                         var end: Long = -1L) {
    val c = new Array[Double](8) // jobs stages tasks busy_ms shw shr spill peak
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val query = prop("sql.streaming.queryId")
    val span = prop("perfbench.span").orElse(query.map("stream:" + _)).getOrElse("untagged")
    val parent = (query, prop("streaming.sql.batchId")) match {
      case (Some(q), Some(b)) => s"stream:$q:$b"
      case _ => span
    }
    val j = Job(e.jobId, span, parent, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
    j.c(0) = 1; j.c(1) = e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId)) {
      val a = j.c
      a(2) += 1
      Option(e.taskMetrics).foreach { m =>
        a(3) += m.executorRunTime
        a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.diskBytesSpilled
        a(7) = math.max(a(7), m.peakExecutionMemory.toDouble)
      }
    }
  }

  private def sum(js: Iterable[Job]): ExecCounts = {
    val a = new Array[Double](8)
    for (j <- js; i <- 0 until 7) a(i) += j.c(i)
    js.foreach(j => a(7) = math.max(a(7), j.c(7)))
    ExecCounts(a(0).toInt, a(1).toInt, a(2).toInt, a(3) / 1000.0,
      a(4).toLong, a(5).toLong, a(6).toLong, a(7).toLong)
  }

  /** Jobs submitted under one benchmark span. */
  def countsFor(span: String): ExecCounts = synchronized {
    sum(jobs.values.filter(_.span == span))
  }

  /** Streaming-query jobs that started inside [t0, t1] (ms since JVM start). */
  def streamCountsIn(t0: Double, t1: Double): ExecCounts = synchronized {
    sum(jobs.values.filter { j =>
      val s = j.start - epochMs
      j.span.startsWith("stream:") && s >= t0 && s <= t1
    })
  }

  /** Job spans, each parented to the span (or stream batch) that ran it. */
  def jobSpans: Seq[Span] = synchronized {
    jobs.values.toSeq.map(j => Span(s"job${j.id}", j.parent, s"job ${j.id}",
      "job", (j.start - epochMs).toDouble,
      (if (j.end < 0) j.start else j.end) - epochMs.toDouble))
  }
}

/** Keeps every StreamingQueryProgress the benchmark's queries report. */
class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

/** Reads the executed physical plan of one op. */
object Plans {
  val Classes = Seq("scan", "exchange", "join", "aggregate", "window", "sort", "generate")

  /** Every node of an executed plan, looking through AQE wrappers,
    * query stages and reused exchanges.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  def classify(p: SparkPlan): Option[String] = {
    val n = p.getClass.getSimpleName
    if (n.contains("Scan")) Some("scan")
    else if (n.contains("Exchange") && !n.startsWith("Reused")) Some("exchange")
    else if (n.contains("Join") || n.contains("CartesianProduct")) Some("join")
    else if (n.contains("Aggregate")) Some("aggregate")
    else if (n.startsWith("Window")) Some("window")
    else if (n == "SortExec") Some("sort")
    else if (n == "GenerateExec") Some("generate")
    else None
  }

  /** (rows out, time ms) summed per operator class. Rows are each
    * node's numOutputRows (shuffle records written for a shuffle);
    * time is the sum of the node's timing metrics — Spark 4.1 has none
    * for joins, windows or generators (their time sits in the enclosing
    * whole-stage-codegen pipeline) and no row count for sorts.
    */
  def metrics(plan: SparkPlan): Map[String, (Long, Double)] = {
    val out = mutable.Map[String, (Long, Double)]().withDefaultValue((0L, 0.0))
    for (n <- nodes(plan); c <- classify(n)) {
      val rows = n.metrics.get("numOutputRows").orElse(n.metrics.get("shuffleRecordsWritten"))
        .map(_.value).getOrElse(0L)
      val ms = n.metrics.values.map { m =>
        m.metricType match {
          case "timing" => m.value.toDouble
          case "nsTiming" => m.value / 1e6
          case _ => 0.0
        }
      }.sum
      val (r0, t0) = out(c)
      out(c) = (r0 + rows, t0 + ms)
    }
    Classes.map(c => c -> out(c)).toMap
  }

  /** True when the plan ends in its global presentation sort: walking
    * down from the root through single-child nodes reaches an ORDER BY
    * sort (or its top-k form) — the sort a count()-only timing skips.
    */
  def hasFinalSort(plan: SparkPlan): Boolean = {
    val below = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    plan match {
      case s: SortExec if s.global => true
      case t if t.getClass.getSimpleName == "TakeOrderedAndProjectExec" => true
      case _ => below.size == 1 && hasFinalSort(below.head)
    }
  }
}
