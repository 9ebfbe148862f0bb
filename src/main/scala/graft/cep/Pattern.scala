package graft.cep

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.BufferedEventProcessor
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, ValueState}

/** One pattern step: a name and a Catalyst predicate over the event
  * row. `times` is Flink's `.times(n)` quantifier (REF:
  * LoginFailWithCep.scala § Pattern.begin("fail").times(2) —
  * reconstructed): the step must match n times in sequence; it expands
  * to n copies before compilation, so both compilers and both
  * contiguity modes support it unchanged.
  */
case class Step(name: String, pred: Column, times: Int = 1) {
  require(times >= 1, s"step $name: times must be >= 1")
}

/** A typed event for the streaming NFA: `mask` bit i = step i's
  * predicate held on this event (predicates are evaluated by Catalyst
  * BEFORE the state machine, so the NFA itself is engine-codegen-free
  * boolean logic).
  */
case class PatternEv(key: Long, ts_us: Long, ord: Long, mask: Long)

case class PatternMatch(key: Long, start_us: Long, start_ord: Long,
                        end_us: Long, end_ord: Long)

/** Generic CEP surface — the reusable form of the reference's
  * `Pattern.begin(...).next(...).within(...)` (REF:
  * LoginFailWithCep.scala § Pattern.begin("firstFail").next("secondFail")
  * .within(Time.seconds(2)); OrderTimeout.scala § begin("create")
  * .followedBy("pay") — reconstructed, SURVEY.md §0). Two contiguity
  * modes, like Flink:
  *   - `strict = true` (Flink `next`): step i+1 must match the key's
  *     IMMEDIATELY next event; a non-matching event kills the partial.
  *   - `strict = false` (Flink `followedBy`, skip-till-next-match):
  *     non-matching events are skipped; each step binds the EARLIEST
  *     following occurrence.
  * Matches may overlap (every event can start a new partial), matching
  * Flink's default after-match skip.
  *
  * Two compilers, one semantics:
  *   - [[compileBatch]]: per-key lag windows — k-1 lagged step flags +
  *     a lagged start timestamp, filtered in one pass. Partitioned by
  *     key, so the plan is a single per-key sort — no driver loop, no
  *     state, scales with key cardinality.
  *   - [[compileStream]]: `transformWithState` NFA ([[CepNfaProcessor]])
  *     holding the live partial matches per key, GC'd by a per-key
  *     event-time timer once the watermark passes `start + within`
  *     (the reference's pattern timeout timer).
  *
  * The login-fail (L3) and order-timeout (O1) queries are 2-step
  * instances; `cep_funnel` in SparkEntry is the 3-step
  * view→click→purchase instance, hash-verified against a DuckDB lag
  * oracle.
  */
/** Shared scaffolding for the streaming CEP operators: all three (the
  * NFA, the absence detector, the Kleene runs) buffer events until the
  * watermark finalizes them, then drain in (ts, ord) order — the
  * [[graft.streaming.BufferedEventProcessor]] contract on Spark 4's
  * `transformWithState` (migrated from the fMGWS `EventBuffer`
  * encoding, VERDICT r11 ask #6). One base so the boundary and
  * timer arithmetic cannot diverge between operators. The late cut is
  * STRICT (`> wm`, `admitAtWm = false`): an event AT the watermark was
  * already finalized by the `<= wm` ready cut of an earlier batch, so
  * admitting a same-instant arrival in a later batch would drain it
  * out of (ts, ord) order relative to rows it should precede.
  *
  * Buffered event = (ts_us, ord, mask); input rows are the
  * watermarked (key, ts_us, ord, mask, ts) tuples every compiled
  * stream produces.
  */
private[cep] abstract class CepProcessor[O] extends BufferedEventProcessor[
    Long, (Long, Long, Long, Long, java.sql.Timestamp),
    (Long, Long, Long), O](
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)) {
  final override protected def toBuf(r: (Long, Long, Long, Long, java.sql.Timestamp)) =
    (r._2, r._3, r._4)
  final override protected def tsOf(b: (Long, Long, Long)): Long = b._1
  final override protected def ordOf(b: (Long, Long, Long)): Long = b._2
  final override protected def admitAtWm: Boolean = false
}

/** The NFA of [[Pattern.compileStream]]: `ListState` holds the live
  * partial matches (step reached, start ts, start ord, last-event ts);
  * the per-key event-time timer at `start + within` is the reference's
  * pattern-timeout timer, GC'ing partials the watermark outlived.
  */
private[cep] class CepNfaProcessor(kk: Int, win: Long, isStrict: Boolean)
    extends CepProcessor[PatternMatch] {
  @transient private var partialsState: ListState[(Int, Long, Long, Long)] = _

  override protected def initDomain(): Unit =
    partialsState = getHandle.getListState("partials",
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override protected def step(key: Long, ready: Seq[(Long, Long, Long)],
                              wmUs: Long,
                              out: scala.collection.mutable.ListBuffer[PatternMatch]): Seq[Long] = {
    var partials = partialsState.get().toList
    for ((ts, ord, mask) <- ready) {
      def bit(i: Int) = ((mask >> i) & 1L) == 1L
      val advanced = partials.flatMap { case p @ (j, s, so, lastTs) =>
        if (ts - s > win) None // expired: no later event can fit either
        // relaxed mode requires STRICTLY increasing event time —
        // the batch as-of chain binds t_i > t_{i-1}, and the two
        // compilers must agree on ts ties
        else if (bit(j + 1) && (isStrict || ts > lastTs)) {
          if (j + 2 == kk) { out += PatternMatch(key, s, so, ts, ord); None }
          else Some((j + 1, s, so, ts))
        }
        else if (isStrict) None // strict: non-match kills the partial
        else Some(p)            // relaxed: skip and keep waiting
      }
      val started =
        if (!bit(0)) Nil
        else if (kk == 1) { out += PatternMatch(key, ts, ord, ts, ord); Nil }
        else List((0, ts, ord, ts))
      partials = advanced ++ started
    }
    // a partial whose deadline the watermark passed can never
    // complete (every future ready event has ts > wm > s + win)
    val live = partials.filter { case (_, s, _, _) => s + win >= wmUs }
    partialsState.clear()
    live.foreach(partialsState.appendValue)
    live.map { case (_, s, _, _) => s + win }
  }
}

/** The absence detector of [[Pattern.compileStreamAbsence]]: open
  * A-candidates in `ListState`; the timer at `start + within` fires
  * the absence once the watermark proves no B can still arrive.
  */
private[cep] class CepAbsenceProcessor(win: Long)
    extends CepProcessor[PatternMatch] {
  @transient private var openState: ListState[(Long, Long)] = _

  override protected def initDomain(): Unit =
    openState = getHandle.getListState("open",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override protected def step(key: Long, ready: Seq[(Long, Long, Long)],
                              wmUs: Long,
                              out: scala.collection.mutable.ListBuffer[PatternMatch]): Seq[Long] = {
    var open = openState.get().toList
    for ((ts, ord, mask) <- ready) {
      if (((mask >> 1) & 1L) == 1L)
        open = open.filterNot { case (s, _) => ts > s && ts - s <= win }
      if ((mask & 1L) == 1L) open = open :+ (ts, ord)
    }
    // deadline passed unmatched → the absence fires
    val (absent, stillLive) = open.partition { case (s, _) => s + win < wmUs }
    absent.foreach { case (s, so) => out += PatternMatch(key, s, so, s, so) }
    openState.clear()
    stillLive.foreach(openState.appendValue)
    stillLive.map(_._1 + win)
  }
}

/** The Kleene-run machine of [[Pattern.consecutiveRunsStream]]: one
  * open run + the dead-island mark per key; the timer at `last +
  * within` closes a run silence can no longer extend. Dead-only state
  * registers NO timer — the key's next event (if any) revives
  * processing. `mask` bit 0 = the predicate.
  */
private[cep] class CepRunsProcessor(minTimes: Int, win: Long)
    extends CepProcessor[PatternMatch] {
  @transient private var runState: ValueState[(Long, Long, Long, Long, Int)] = _
  @transient private var deadState: ValueState[Boolean] = _

  override protected def initDomain(): Unit = {
    runState = getHandle.getValueState("run",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt),
      TTLConfig.NONE)
    deadState = getHandle.getValueState("dead",
      Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override protected def step(key: Long, ready: Seq[(Long, Long, Long)],
                              wmUs: Long,
                              out: scala.collection.mutable.ListBuffer[PatternMatch]): Seq[Long] = {
    var run = if (runState.exists()) Some(runState.get()) else None
    var dead = deadState.exists() && deadState.get()
    def close(): Unit = {
      run.foreach { case (s, so, l, lo, cnt) =>
        if (cnt >= minTimes && l - s <= win)
          out += PatternMatch(key, s, so, l, lo)
      }
      run = None
    }
    for ((ts, ord, mask) <- ready) {
      if ((mask & 1L) == 1L) {
        if (!dead)
          run = run match {
            case Some((s, so, _, _, cnt)) => Some((s, so, ts, ord, cnt + 1))
            case None => Some((ts, ord, ts, ord, 1))
          }
        // dead: the over-span island continues — swallow
      } else { close(); dead = false }
    }
    // silence timeout: no event within `within` of the last match
    // ⇒ any extension overruns the span anyway — emit the valid
    // prefix now and mark the island dead until an event breaks it
    if (run.exists { case (_, _, l, _, _) => l + win < wmUs }) {
      close()
      dead = true
    }
    run match {
      case Some(r) => runState.update(r)
      case None => runState.clear()
    }
    if (dead) deadState.update(true) else deadState.clear()
    run.map { case (_, _, l, _, _) => l + win }.toSeq
  }
}

object Pattern {
  /** Kleene quantifier, Flink `timesOrMore(n).greedy().consecutive()`
    * (REF: LoginFailWithCep.scala § Pattern…times — reconstructed;
    * the reference stops at times(2), this is the unbounded form):
    * MAXIMAL runs of consecutive pred-matching events per key — a run
    * is delimited by a non-matching event of the same key (or the data
    * boundary), emitted when it has ≥ minTimes events and its
    * first-to-last span fits `within`. Greedy/maximal means sub-runs
    * are NOT emitted separately, matching Flink's greedy contiguous
    * semantics rather than the every-prefix default.
    *
    * Plan: classic gaps-and-islands — one per-key sort shared by both
    * row_numbers (rank among all events minus rank among matching
    * events is constant within a run), then a (key, island) aggregate.
    * No state machine, no self-join; scales with the event shuffle.
    */
  def consecutiveRuns(events: DataFrame, key: Column, ts: Column,
                      ord: Column, pred: Column, minTimes: Int,
                      withinUs: Long): DataFrame = {
    require(minTimes >= 1, "minTimes must be >= 1")
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("ord"))
    events
      .select(key.as("key"), ts.as("ts"), ord.as("ord"),
        pred.cast("boolean").as("m"))
      .withColumn("rn_all", row_number().over(w))
      .filter(col("m"))
      .withColumn("grp", col("rn_all") - row_number().over(w))
      .groupBy(col("key"), col("grp"))
      .agg(count(lit(1)).as("times"),
        min(struct(col("ts"), col("ord"))).as("s"),
        max(struct(col("ts"), col("ord"))).as("e"))
      .filter(col("times") >= minTimes &&
        unix_micros(col("e.ts")) - unix_micros(col("s.ts")) <= withinUs)
      .select(col("key"), col("s.ord").as("start_event"),
        col("s.ts").as("start_ts"), col("e.ord").as("end_event"),
        col("e.ts").as("end_ts"), col("times"))
  }

  /** Streaming twin of [[consecutiveRuns]]: per-key state holds the one
    * open run; a run closes (and emits if length ≥ minTimes and span ≤
    * within) when a non-matching event of the key arrives — the exact
    * batch semantics — or when the watermark passes `last + within`
    * with no further event (state bound; a batch over-span island is
    * discarded whole, so the only divergence is emitting a still-valid
    * PREFIX of an island the batch reading would drop). A silence-close
    * marks the island DEAD: matching events that later continue the
    * same island (no intervening non-match) are swallowed, not restarted
    * — so later segments of an over-span island are never emitted, and
    * the prefix really is the only divergence. The dead mark is cleared
    * by the key's next non-matching event; it persists for a silent key
    * (one boolean per key, the same cardinality bound as any keyed
    * state). Events buffer until the watermark passes them and drain in
    * (ts, ord) order via [[CepRunsProcessor]]. `mask` bit 0 = the
    * predicate.
    */
  def consecutiveRunsStream(events: Dataset[PatternEv], minTimes: Int,
                            withinUs: Long, watermark: String = "1 hour")
                           (implicit spark: SparkSession): Dataset[PatternMatch] =
    runStream(events, watermark, new CepRunsProcessor(minTimes, withinUs))

  /** The one wiring of every streaming CEP operator: the µs event time
    * becomes the watermarked `ts` column, events group by key, and
    * `proc` runs each key's events on `transformWithState`. */
  private def runStream(events: Dataset[PatternEv], watermark: String,
                        proc: CepProcessor[PatternMatch])
                       (implicit spark: SparkSession): Dataset[PatternMatch] = {
    import spark.implicits._
    events
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("ts", watermark)
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
  }
}

case class Pattern(rawSteps: Seq[Step], withinUs: Long, strict: Boolean = true) {
  require(rawSteps.nonEmpty, "pattern needs at least one step")
  /** quantifiers expanded: `Step(p, times = n)` → n copies */
  val steps: Seq[Step] = rawSteps.flatMap(s =>
    Seq.tabulate(s.times)(i =>
      if (s.times == 1) s else s.copy(name = s"${s.name}#${i + 1}", times = 1)))
  private val k = steps.size
  require(k <= 63, "expanded pattern exceeds the 63-step mask width")

  /** Batch compile: events + (key, ts, ord) → one row per complete
    * match with columns (key, start_event, start_ts, end_event, end_ts).
    * `ord` breaks event-time ties deterministically (event id).
    * Dispatches on [[strict]]: `next` → the lag form,
    * `followedBy` → the forward-asof chain.
    */
  def compileBatch(events: DataFrame, key: Column, ts: Column, ord: Column): DataFrame =
    if (strict) compileBatchStrict(events, key, ts, ord)
    else compileBatchRelaxed(events, key, ts, ord)

  private def compileBatchStrict(events: DataFrame, key: Column, ts: Column, ord: Column): DataFrame = {
    val base = events.select(
      (Seq(key.as("key"), ts.as("ts"), ord.as("ord")) ++
        steps.zipWithIndex.map { case (s, i) => s.pred.cast("boolean").as(s"_m$i") }): _*)
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("ord"))
    // anchor at the LAST event of the candidate match; lag each earlier
    // step's flag into place (all lags share one window spec → a single
    // per-key sort in the plan)
    var df = base
    for (i <- 0 until k - 1)
      df = df.withColumn(s"_l$i", lag(col(s"_m$i"), k - 1 - i).over(w))
    df = df
      .withColumn("start_ts", if (k == 1) col("ts") else lag(col("ts"), k - 1).over(w))
      .withColumn("start_ord", if (k == 1) col("ord") else lag(col("ord"), k - 1).over(w))
    val cond = (0 until k - 1).map(i => col(s"_l$i"))
      .foldLeft(col(s"_m${k - 1}"))(_ && _)
    df.filter(cond &&
        unix_micros(col("ts")) - unix_micros(col("start_ts")) <= withinUs)
      .select(col("key"), col("start_ord").as("start_event"), col("start_ts"),
        col("ord").as("end_event"), col("ts").as("end_ts"))
  }

  /** Relaxed contiguity (Flink `followedBy`, skip-till-next-match):
    * from each step-0 event, bind the EARLIEST following step-1 event,
    * then the earliest step-2 after that, and so on — a chain of k-1
    * FORWARD as-of joins. Reuses the custom sort-merge AsOfJoinExec
    * (backward-≤ by construction) by negating the µs time axis:
    * greatest −t_r ≤ −(t_l + 1)  ⟺  smallest t_r > t_l.
    * Each stage prunes on `t_i − t_0 ≤ within` (times are monotone
    * along the chain, so the per-stage prune is exactly the final
    * bound). One sort-merge pass per step — never a (left × all
    * later rights) pair blowup. Ties on (key, ts) within a step
    * stream are broken arbitrarily — callers need ts unique per key
    * per step (true for the events table) or a composite time.
    */
  private def compileBatchRelaxed(events: DataFrame, key: Column, ts: Column, ord: Column): DataFrame = {
    def stepDf(i: Int) = events.filter(steps(i).pred)
      .select(key.as(s"k$i"), unix_micros(ts).as(s"t$i"), ord.as(s"o$i"))
    var cur = stepDf(0)
    for (i <- 1 until k) {
      val left = cur.withColumn("_nl", -(col(s"t${i - 1}") + lit(1L)))
      val right = stepDf(i).withColumn("_nr", -col(s"t$i"))
      cur = graft.plans.AsOfJoin.asof(left, right, "k0", s"k$i", "_nl", "_nr")
        .filter(col(s"t$i").isNotNull &&
          col(s"t$i") - col("t0") <= withinUs)
        .drop("_nl", "_nr")
    }
    cur.select(col("k0").as("key"),
        col("o0").as("start_event"), expr("timestamp_micros(t0)").as("start_ts"),
        col(s"o${k - 1}").as("end_event"),
        expr(s"timestamp_micros(t${k - 1})").as("end_ts"))
  }

  /** Absence (Flink `begin(A).notFollowedBy(B).within(t)` — REF:
    * OrderTimeout.scala § PatternTimeoutFunction, reconstructed): the A
    * events with NO B event strictly after them within the window, per
    * key. Requires exactly two steps and relaxed mode (absence over a
    * strict-adjacent step is just `next` negation — use the lag form).
    * Batch: one forward as-of to the EARLIEST following B (reusing
    * AsOfJoinExec); absent ⟺ none found or found too late. Output
    * (key, event, ts) per absent A.
    */
  def compileBatchAbsence(events: DataFrame, key: Column, ts: Column, ord: Column): DataFrame = {
    require(k == 2 && !strict, "absence = 2 steps, relaxed mode")
    val a = events.filter(steps(0).pred)
      .select(key.as("k0"), unix_micros(ts).as("t0"), ord.as("o0"))
      .withColumn("_nl", -(col("t0") + lit(1L)))
    val b = events.filter(steps(1).pred)
      .select(key.as("k1"), unix_micros(ts).as("t1"))
      .withColumn("_nr", -col("t1"))
    graft.plans.AsOfJoin.asof(a, b, "k0", "k1", "_nl", "_nr")
      .filter(col("t1").isNull || col("t1") - col("t0") > withinUs)
      .select(col("k0").as("key"), col("o0").as("event"),
        expr("timestamp_micros(t0)").as("ts"))
  }

  /** Streaming absence: a partial that survives to its deadline
    * unmatched emits — the pattern-timeout side output. Same buffered
    * event-time ordering as [[compileStream]].
    */
  def compileStreamAbsence(events: Dataset[PatternEv], watermark: String = "1 hour")
                          (implicit spark: SparkSession): Dataset[PatternMatch] = {
    require(k == 2 && !strict, "absence = 2 steps, relaxed mode")
    Pattern.runStream(events, watermark, new CepAbsenceProcessor(withinUs))
  }

  /** Evaluate the step predicates into the [[PatternEv]] mask (Catalyst
    * does the predicate work; the NFA sees only booleans).
    */
  def toPatternEvents(events: DataFrame, key: Column, tsUs: Column, ord: Column)
                     (implicit spark: SparkSession): Dataset[PatternEv] = {
    import spark.implicits._
    val mask = steps.zipWithIndex
      .map { case (s, i) => when(s.pred, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    events.select(key.cast("long").as("key"), tsUs.cast("long").as("ts_us"),
      ord.cast("long").as("ord"), mask.as("mask")).as[PatternEv]
  }

  /** Streaming compile: the per-key NFA, with Flink-CEP event-time
    * semantics: arriving events are BUFFERED in state until the
    * watermark passes them, then processed in (ts, ord) order — so
    * out-of-order arrival (within the watermark) cannot mis-sequence a
    * strict pattern; rows later than the watermark are dropped, like
    * any watermarked operator. Partial matches carry (step reached,
    * start ts, start ord). State is bounded two ways: the buffer
    * drains at the watermark, and partials die at `start + within`
    * (the pattern-timeout timer). Event-time timeouts both flush
    * buffered events for keys with no new data and GC dead partials.
    */
  def compileStream(events: Dataset[PatternEv], watermark: String = "1 hour")
                   (implicit spark: SparkSession): Dataset[PatternMatch] =
    Pattern.runStream(events, watermark,
      new CepNfaProcessor(k, withinUs, strict))
}
