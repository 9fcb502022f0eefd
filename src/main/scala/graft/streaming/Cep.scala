package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** One declared pattern stage: events matching `cond`, repeated `reps`
  * times. `strict` = an unmatched event KILLS a run waiting on this
  * stage (Flink `next`); relaxed stages skip unmatched events
  * (Flink `followedBy`). `repStrict` is the contiguity BETWEEN the
  * stage's own repeats (entry into repeat 1 follows `strict`; repeats
  * 2..n follow `repStrict` — Flink's `consecutive()` switches exactly
  * this, leaving the entry contiguity alone). `anyMatch` = after this
  * stage consumes a matching event the SOURCE run also stays alive, so
  * every later matching event spawns an alternative continuation
  * (Flink `followedByAny`, skip-till-any-match). `negated` = a
  * zero-width assertion (Flink `notNext`): the event immediately after
  * the previous match must NOT satisfy `cond` — it captures nothing,
  * and the same event then feeds the following stage. */
final case class CepStage(name: String, cond: Ev => Boolean, reps: Int,
    strict: Boolean = true, repStrict: Boolean = true,
    anyMatch: Boolean = false, negated: Boolean = false)
    extends Serializable

/** Generic CEP pattern combinator — the reference's Flink-CEP surface
  * (`Pattern.begin("start").where(cond).times(2).consecutive()
  * .within(gap)` with matched + timeout branches,
  * `gmall-realtime/.../app/dwm/UserJumpDetailApp.java:57-86`; the
  * `begin/next` two-stage variant
  * `app/testt/dwm/Dwm_Jump_Detail.java:59-71`) re-expressed as a
  * builder compiled onto `transformWithState` by [[Cep.patternTws]].
  *
  * Contiguity is per stage: `next` is STRICT (an event that matches
  * the run's next condition advances it, any other event kills it —
  * the only contiguity the reference itself uses) and `followedBy` is
  * RELAXED (unmatched events are skipped; the first matching event
  * advances the run — Flink's default skip-to-first semantics).
  * Relaxed runs stay alive until their within() deadline, so state
  * remains bounded. */
final class CepPattern private (
    private[streaming] val stages: Vector[CepStage],
    private[streaming] val withinMs: Option[Long]) extends Serializable {

  /** Strictly-consecutive next stage (Flink `.next(name).where(cond)`).
    */
  def next(name: String, cond: Ev => Boolean): CepPattern =
    new CepPattern(stages :+ CepStage(name, cond, 1), withinMs)

  /** Relaxed-contiguity stage (Flink `.followedBy(name).where(cond)`):
    * events between the previous stage's match and this one's are
    * skipped instead of killing the run. Its `times()` repeats default
    * to relaxed too (Flink's default); `.consecutive()` tightens the
    * repeats. */
  def followedBy(name: String, cond: Ev => Boolean): CepPattern =
    new CepPattern(
      stages :+ CepStage(name, cond, 1, strict = false, repStrict = false),
      withinMs)

  /** Relaxed NON-DETERMINISTIC stage (Flink `.followedByAny(name)
    * .where(cond)`, skip-till-any-match): like [[followedBy]], but the
    * source run ALSO stays alive after a match, so every later
    * matching event inside the within() window spawns an alternative
    * match. The kept run expires through the timeout branch like any
    * partial (pass `onTimeout = _ => None` to drop those). State cost:
    * one extra live run per alternative, bounded by within(). */
  def followedByAny(name: String, cond: Ev => Boolean): CepPattern =
    new CepPattern(
      stages :+ CepStage(name, cond, 1, strict = false, repStrict = false,
        anyMatch = true),
      withinMs)

  /** Negative strict stage (Flink `.notNext(name).where(cond)`): the
    * event immediately after the previous stage's match must NOT
    * satisfy `cond`, or the run dies. The assertion captures nothing —
    * the same event then feeds the following stage, which must be
    * STRICT (`next`) and must exist: `Cep.validate` rejects a pattern
    * ending in `notNext` or chasing it with a relaxed stage, because
    * "the immediately-next event" is only well-defined against a
    * strict follower. */
  def notNext(name: String, cond: Ev => Boolean): CepPattern =
    new CepPattern(stages :+ CepStage(name, cond, 1, negated = true),
      withinMs)

  /** Repeat the last declared stage n times (Flink `.times(n)`). */
  def times(n: Int): CepPattern = {
    require(n >= 1, s"times($n)")
    require(!stages.last.negated, "times() cannot repeat a notNext assertion")
    new CepPattern(stages.init :+ stages.last.copy(reps = n), withinMs)
  }

  /** Strict contiguity for the last stage's `times` repeats (Flink
    * `.consecutive()` — its times() default is relaxed). For `next`
    * stages the repeats are already strict, so this is an identity;
    * for a `followedBy(...).times(n)` it tightens repeats 2..n while
    * the ENTRY into the first repeat stays relaxed, matching Flink. */
  def consecutive(): CepPattern = {
    require(!stages.last.negated, "consecutive() is meaningless on a notNext assertion")
    new CepPattern(stages.init :+ stages.last.copy(repStrict = true), withinMs)
  }

  /** Whole-match time bound: last event must arrive within `ms` of the
    * first, else the partial run is routed to the timeout branch. */
  def within(ms: Long): CepPattern = new CepPattern(stages, Some(ms))
  def within(d: java.time.Duration): CepPattern = within(d.toMillis)

  /** Stage list with `times` expanded — element i names the stage the
    * i-th matched event is recorded under in the select map. Repeat 1
    * carries the stage's entry contiguity; repeats 2..n carry
    * `repStrict`. */
  private[streaming] def expanded: Vector[CepStage] =
    stages.flatMap(s =>
      s.copy(reps = 1) +:
        Vector.fill(s.reps - 1)(s.copy(reps = 1, strict = s.repStrict)))
}

object CepPattern {
  def begin(name: String, cond: Ev => Boolean): CepPattern =
    new CepPattern(Vector(CepStage(name, cond, 1)), None)
}

/** One partial CEP run for [[CepProcessor]] state: the matched prefix
  * in match order, plus `admittedAtWm` — the watermark position (ms)
  * when the run OPENED, readable through the state data source to
  * answer "how long has this partial match been waiting" without
  * decoding events. A case-class row — NOT Kryo blobs — so the state
  * store holds an introspectable, evolvable schema, which is the point
  * of carrying CEP on the transformWithState store: `admittedAtWm` was
  * added AFTER the events-only v0 shipped, and StreamingSpec proves a
  * v0 checkpoint restarts under this evolved schema (old rows read
  * with the field defaulted to None, Avro state encoding). */
final case class CepRun(events: Seq[Ev], admittedAtWm: Option[Long] = None)

/** [[Cep.patternTws]]'s buffer-and-sort state machine on Spark 4's
  * `transformWithState` — the forward-path state API (native timers via
  * registerTimer/handleExpiredTimer, typed column-family state,
  * RocksDB-backed, schema-evolvable). StreamingSpec pins its output on
  * the strict/relaxed/timeout/out-of-order branches.
  *
  * State layout per key: `pending` (events the watermark has not passed
  * — bounded by the watermark delay) and `partials` (live partial runs
  * — bounded by the within() window). One event-time timer is kept
  * armed at the earliest of (next buffered event, earliest run
  * deadline), so a quiet key wakes exactly when the watermark makes
  * progress for it and never spins.
  *
  * `handleInputRows` and `handleExpiredTimer` share one drain routine
  * and the drain is idempotent at a given watermark (ready events are
  * consumed from the buffer, expired runs are removed), so the
  * process-inputs-then-fire-timers order inside a micro-batch cannot
  * double-emit. */
class CepProcessor[Out](
    conds: Vector[CepStage],
    withinMs: Option[Long],
    select: Map[String, Seq[Ev]] => Out,
    onTimeout: Seq[Ev] => Option[Out])
    extends StatefulProcessor[Long, Ev, Out] {

  @transient private var pending: ListState[Ev] = _
  @transient private var partials: ListState[CepRun] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pending = getHandle.getListState[Ev]("pending",
      Encoders.product[Ev], TTLConfig.NONE)
    partials = getHandle.getListState[CepRun]("partials",
      Encoders.product[CepRun], TTLConfig.NONE)
  }

  private def grouped(run: List[Ev]): Map[String, Seq[Ev]] =
    conds.filterNot(_.negated).map(_.name).zip(run).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSeq }

  private val concrete = conds.count(!_.negated)

  private def drain(arrivals: Seq[Ev], wm: Long): Iterator[Out] = {
    val out = List.newBuilder[Out]

    // a live run = (matched prefix, watermark when it opened); the
    // admission mark rides along untouched so pre-evolution rows
    // (admittedAtWm = None) survive round trips unchanged
    def expire(runs: List[(List[Ev], Option[Long])],
        nowMs: Long): List[(List[Ev], Option[Long])] =
      withinMs match {
        case Some(w) =>
          val (dead, alive) = runs.partition(p => nowMs - p._1.head.ts.getTime > w)
          dead.foreach(p => onTimeout(p._1).foreach(out += _))
          alive
        case None => runs
      }

    var buf = List.newBuilder[Ev]
    val storedPending = pending.get()
    while (storedPending.hasNext) buf += storedPending.next()
    buf ++= arrivals
    var runs = List.newBuilder[(List[Ev], Option[Long])]
    val storedRuns = partials.get()
    while (storedRuns.hasNext) {
      val r = storedRuns.next()
      runs += ((r.events.toList, r.admittedAtWm))
    }

    // only events the watermark has passed are safe to order; anything
    // newer could still be preceded by an in-flight earlier event
    val (ready, waiting) = buf.result().partition(_.ts.getTime <= wm)
    var live = runs.result()
    for (e <- ready.sortBy(e => (e.ts.getTime, e.event_id))) {
      live = expire(live, e.ts.getTime)
      val advanced = List.newBuilder[(List[Ev], Option[Long])]
      def emitOrKeep(next: List[Ev], adm: Option[Long]): Unit =
        if (next.length == concrete) out += select(grouped(next))
        else advanced += ((next, adm))
      for ((p, adm) <- live) {
        val (adv, stays) = Cep.step(conds, p, e)
        adv.foreach(n => emitOrKeep(n, adm))
        // relaxed skip, or followedByAny keep-behind; a strict miss or
        // a matched notNext assertion kills the run
        if (stays) advanced += ((p, adm))
      }
      if (conds.head.cond(e)) emitOrKeep(List(e), Some(wm)) // every event may start a run
      live = advanced.result()
    }
    // deadlines the watermark itself has passed: no event <= wm remains
    // to extend these runs, and any later one would expire them anyway
    live = expire(live, wm)

    val timerIt = getHandle.listTimers()
    while (timerIt.hasNext) getHandle.deleteTimer(timerIt.next())
    pending.clear()
    partials.clear()
    if (live.nonEmpty || waiting.nonEmpty) {
      if (waiting.nonEmpty) pending.appendList(waiting.toArray)
      if (live.nonEmpty)
        partials.appendList(live.map { case (r, adm) => CepRun(r, adm) }.toArray)
      // wake when the watermark reaches the next buffered event or the
      // earliest run deadline, whichever comes first
      val wakeAt =
        waiting.map(_.ts.getTime) ++
          withinMs.toList.flatMap(w => live.map(_._1.head.ts.getTime + w))
      if (wakeAt.nonEmpty)
        getHandle.registerTimer(math.max(wakeAt.min, wm + 1))
    }
    out.result().iterator
  }

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timers: TimerValues): Iterator[Out] =
    drain(rows.toSeq, timers.getCurrentWatermarkInMs())

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[Out] =
    drain(Nil, timers.getCurrentWatermarkInMs())
}

object Cep {

  /** Structural checks on a compiled pattern. The notNext rules
    * are what keep run state position-free (see [[step]]): an
    * assertion chain is always resolved by the single event that feeds
    * the strict stage after it, so a run never RESTS mid-negation and
    * its evaluation pointer stays a pure function of its matched-event
    * count — no schema change to the run state. */
  private[streaming] def validate(conds: Vector[CepStage]): Unit = {
    require(conds.nonEmpty, "empty pattern")
    require(!conds.head.negated, "pattern cannot begin with notNext")
    require(!conds.last.negated,
      "pattern cannot end with notNext: the assertion needs a following strict stage to anchor to")
    for (i <- conds.indices.dropRight(1))
      if (conds(i).negated)
        require(conds(i + 1).negated || conds(i + 1).strict,
          "notNext must be followed by a strict (next) stage: the assertion is about the exact event that feeds it")
  }

  /** Evaluation pointer for a run with `k` matched events: the index
    * just after the stage that matched the k-th event (0 for a fresh
    * run). Runs never rest AT a negated stage (validate()), so the
    * pointer is derivable and run state carries no position field. */
  private[streaming] def posAfter(conds: Vector[CepStage], k: Int): Int =
    if (k == 0) 0
    else {
      var seen = 0
      var i = 0
      while (seen < k) { if (!conds(i).negated) seen += 1; i += 1 }
      i
    }

  /** Offer ready event `e` to a run with matched prefix `run`. Returns
    * (the advanced run if `e` was consumed by the next concrete stage,
    * whether the ORIGINAL run also stays alive — relaxed skip or
    * `followedByAny` keep-behind). Any notNext assertions between the
    * run's last match and the next concrete stage are resolved against
    * `e` itself: a banned match kills the run, a pass moves the
    * pointer onto the (strict) stage `e` then feeds. Completion is the
    * caller's check: advanced length == conds.count(!_.negated). */
  private[streaming] def step(conds: Vector[CepStage], run: List[Ev],
      e: Ev): (Option[List[Ev]], Boolean) = {
    var pos = posAfter(conds, run.length)
    while (conds(pos).negated) {
      if (conds(pos).cond(e)) return (None, false) // banned next event: run dies
      pos += 1 // assertion passed; e feeds the following stage
    }
    val stage = conds(pos)
    if (stage.cond(e)) (Some(run :+ e), stage.anyMatch)
    else (None, !stage.strict)
  }

  /** Run `pat` per key over the event stream on `transformWithState`
    * (RocksDB-only by Spark's own TWS check; see [[CepProcessor]]).
    * Complete matches map through `select` (stage name → matched
    * events, in match order); partial runs whose within-window closes
    * map through `onTimeout` (the CEP timeout side output — both
    * branches land in ONE output stream, the `select.union(sideOutput)`
    * the reference performs explicitly).
    *
    * Ordering: strict contiguity is an EVENT-TIME property, but
    * micro-batches deliver events in arrival order — an event inside
    * the watermark delay may arrive a batch after a later-timestamped
    * one. So events are BUFFERED in state until the watermark passes
    * them, then processed in event-time order (Flink CEP's buffer-and
    * -sort-by-watermark discipline); matches and timeouts therefore
    * emit once the watermark passes the relevant event time, never on
    * raw arrival order. Event-time timers re-release the buffer when
    * the watermark advances past a pending event or a run deadline.
    *
    * Scale: state per key is the pending (sub-watermark-delay) event
    * buffer plus the live partial runs — both bounded by the watermark
    * delay and the within-window respectively, sharded across
    * executors by key hash like every keyed operator here. */
  def patternTws[Out: Encoder](
      ds: Dataset[Ev],
      pat: CepPattern,
      select: Map[String, Seq[Ev]] => Out,
      onTimeout: Seq[Ev] => Option[Out],
      watermark: String = "1 second"): Dataset[Out] = {
    import ds.sparkSession.implicits._
    val conds = pat.expanded
    validate(conds)
    // without within() a multi-stage pattern's partial runs are never
    // evicted — per-key state would grow without bound on a stream of
    // stage-1 matches. The reference always bounds its patterns; so
    // does this engine.
    require(conds.length == 1 || pat.withinMs.isDefined,
      "a multi-stage CepPattern requires within(...): unbounded patterns would accumulate state forever")
    ds.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(
        new CepProcessor[Out](conds, pat.withinMs, select, onTimeout),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
