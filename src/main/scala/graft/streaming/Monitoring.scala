package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch's progress, as the monitoring table row. Phase
  * times come from `durationMs` (0 when the phase did not run in the
  * batch); `state_rows` / `state_commit_ms` sum `numRowsTotal` /
  * `commitTimeMs` over the query's stateful operators (0 if it has none).
  */
case class BatchProgress(query: String, batch_id: Long, input_rows: Long,
                         watermark: String, rows_per_sec: Double,
                         wal_commit_ms: Long, commit_offsets_ms: Long,
                         trigger_ms: Long, state_rows: Long,
                         state_commit_ms: Long)

/** Streaming observability — the ops surface a long-running ingest
  * deployment watches (the reference course project eyeballs
  * `print()`; a production pipeline needs per-batch throughput and
  * watermark lag as DATA). A [[StreamingQueryListener]] buffers every
  * micro-batch's progress (bounded ring — monitoring must never be the
  * memory leak) and exposes the buffer as a DataFrame, so watermark
  * lag / throughput dashboards are just queries over it.
  *
  * Listener callbacks arrive on Spark's listener bus, asynchronously
  * to `processAllAvailable` — consumers poll [[snapshot]] (tests use
  * [[awaitBatches]]).
  */
final class Monitoring private (spark: SparkSession, maxRows: Int)
    extends StreamingQueryListener {
  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def phaseMs(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    buf.add(BatchProgress(
      Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      Option(p.eventTime.get("watermark")).getOrElse(""),
      p.processedRowsPerSecond,
      phaseMs("walCommit"), phaseMs("commitOffsets"), phaseMs("triggerExecution"),
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.commitTimeMs).sum))
    while (buf.size > maxRows) buf.poll()
  }

  /** Current progress buffer as a DataFrame (one row per micro-batch). */
  def snapshot: DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    buf.iterator().asScala.toSeq.toDF()
  }

  /** Poll until at least `n` batches from `query` arrived (listener bus
    * is async) or the timeout elapses; returns the count seen.
    */
  def awaitBatches(query: String, n: Int, timeoutMs: Long = 10000): Int = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    import scala.jdk.CollectionConverters._
    var seen = 0
    while ({ seen = buf.iterator().asScala.count(_.query == query)
             seen < n && System.nanoTime() < deadline }) Thread.sleep(50)
    seen
  }

  def detach(): Unit = spark.streams.removeListener(this)
}

object Monitoring {
  /** Attach a fresh monitor to the session's listener bus. */
  def attach(spark: SparkSession, maxRows: Int = 10000): Monitoring = {
    val m = new Monitoring(spark, maxRows)
    spark.streams.addListener(m)
    m
  }
}
