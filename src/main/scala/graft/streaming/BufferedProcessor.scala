package graft.streaming

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Shared scaffolding for event-time state machines on Spark 4's
  * `transformWithState` — the first-class-timer successor to the
  * `flatMapGroupsWithState + GroupStateTimeout.EventTimeTimeout`
  * encoding these machines originally rode (VERDICT r11 ask #6 /
  * r12 carry: migrate the remaining fMGWS paths onto the
  * StatefulProcessor API, with `TopNProcessor` as the exemplar).
  *
  * The Flink-analog semantics preserved 1:1 from the fMGWS forms
  * (REF: the course project's KeyedProcessFunction machines —
  * reconstructed; see each concrete processor):
  *
  *   - arriving events BUFFER in per-key `ListState` until the
  *     watermark passes them, then apply in (ts, ord) order — so
  *     out-of-order arrival within the watermark cannot mis-sequence
  *     the machine; rows later than the watermark are dropped like any
  *     watermarked operator (`admitAtWm` picks the boundary treatment:
  *     the CEP NFAs use a strict `> wm` cut — an event AT the
  *     watermark was already finalized by an earlier batch's `<= wm`
  *     drain — while the order/blacklist machines admit `>= wm`).
  *   - ONE live event-time timer per key, armed at the earliest of the
  *     held events and the machine's own deadlines (order timeouts,
  *     midnight resets, pattern windows), clamped strictly past the
  *     current watermark. `registerTimer` is the real Flink
  *     `registerEventTimeTimer` analog — unlike the fMGWS timeout it
  *     survives arbitrarily many intervening batches for the key —
  *     but it does NOT auto-clear on re-arm, so [[run]] deletes every
  *     listed timer before arming (at most one extant by induction),
  *     except the one firing: Spark deletes that one itself once
  *     `handleExpiredTimer` returns.
  *   - state clears when both the buffer and the domain state drain —
  *     bounded state on a long-running stream.
  *
  * Subclasses own their domain state (`initDomain` against
  * `getHandle`) and implement one watermark-driven transition
  * ([[step]]) that returns its wake-ups; the base owns the buffer, the
  * drain order, and timer hygiene. Requires the RocksDB state store
  * provider, a `transformWithState` constraint set by the caller/test.
  *
  * @tparam K grouping key
  * @tparam I input row
  * @tparam B buffered event (must carry event time + a tiebreak ord)
  * @tparam O output row
  */
abstract class BufferedEventProcessor[K, I, B, O](bufEnc: Encoder[B])
    extends StatefulProcessor[K, I, O] {

  @transient private var buf: ListState[B] = _

  /** Acquire domain state handles (`getHandle.get*State`). */
  protected def initDomain(): Unit

  protected def toBuf(row: I): B
  protected def tsOf(b: B): Long
  protected def ordOf(b: B): Long

  /** Admit a row arriving exactly AT the watermark? The fMGWS order /
    * blacklist machines did (`>=` filter, immediately ready); the CEP
    * NFAs drop it (strict `>` — see the drain-order rationale above).
    */
  protected def admitAtWm: Boolean = true

  /** Apply the watermark-finalized events (sorted by (ts, ord)) to the
    * domain state, emitting into `out`, and return the deadlines
    * (event-time µs) of the state just written: the times the machine
    * must wake at even with no further input — order timeouts,
    * midnight resets, pattern windows. A step that leaves nothing live
    * writes its state empty, so its key is removable. Runs on BOTH
    * input batches and timer firings — watermark-driven machines make
    * no distinction.
    */
  protected def step(key: K, ready: Seq[B], wmUs: Long,
                     out: scala.collection.mutable.ListBuffer[O]): Seq[Long]

  final override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState("evbuf", bufEnc, TTLConfig.NONE)
    initDomain()
  }

  /** One transition; `firing` is the expiry (ms) of the timer being
    * handled, if any. */
  private def run(key: K, incoming: Seq[B], wmUs: Long,
                  firing: Option[Long]): Iterator[O] = {
    val admitted = incoming.filter(b =>
      if (admitAtWm) tsOf(b) >= wmUs else tsOf(b) > wmUs)
    val (ready, held) =
      (buf.get().toList ++ admitted).partition(tsOf(_) <= wmUs)
    val out = scala.collection.mutable.ListBuffer.empty[O]
    val wakes = held.map(tsOf) ++
      step(key, ready.sortBy(b => (tsOf(b), ordOf(b))), wmUs, out)
    // timer hygiene: re-arm from scratch each transition — registered
    // timers persist until they fire, so a stale earlier wake would
    // otherwise fire a spurious (if harmless) extra transition. The
    // firing timer is Spark's to delete. Materialize before deleting:
    // mutating the state store while its own listTimers() iterator is
    // live relies on snapshot isolation the provider contract doesn't
    // promise
    getHandle.listTimers().toSeq.filterNot(firing.contains)
      .foreach(getHandle.deleteTimer)
    buf.clear()
    held.foreach(buf.appendValue)
    // a machine may hold deadline-free state (e.g. the Kleene runs'
    // dead-island mark): nothing to wake for — the key's next event
    // (if any) revives processing. The new timer is past the
    // watermark, so it is never the firing one.
    if (wakes.nonEmpty)
      getHandle.registerTimer(math.max(wakes.min / 1000 + 1, wmUs / 1000 + 1))
    out.iterator
  }

  final override def handleInputRows(key: K, rows: Iterator[I],
                                     tv: TimerValues): Iterator[O] =
    run(key, rows.map(toBuf).toSeq, tv.getCurrentWatermarkInMs() * 1000, None)

  final override def handleExpiredTimer(key: K, tv: TimerValues,
                                        info: ExpiredTimerInfo): Iterator[O] =
    run(key, Nil, tv.getCurrentWatermarkInMs() * 1000,
      Some(info.getExpiryTimeInMs()))
}
