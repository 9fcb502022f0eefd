package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Has-seen flag for [[StreamOps.newUserFixTws]]: one ValueState[Boolean]
  * per user — the minimal transformWithState state machine. */
class NewUserFixProcessor extends StatefulProcessor[Long, Ev, Ev] {

  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timers: TimerValues): Iterator[Ev] = {
    var s = seen.exists() && seen.get()
    rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
      val first = !s
      if (first) { s = true; seen.update(true) }
      e.copy(is_new = if (first) 1 else 0)
    }.iterator
  }
}

/** Event-time idle-timeout state machine for [[StreamOps.idleTimeoutTws]]:
  * keeps the newest event per key and one armed timer at
  * last_event_time + gap; a newer event re-arms the deadline, watermark
  * passage fires it exactly once. This is the timer leg of the
  * transformWithState API (registerTimer / handleExpiredTimer /
  * TimeMode.EventTime) — the primitive under the reference's CEP
  * timeout branch and session-gap emission. */
class IdleTimeoutProcessor(gapMs: Long)
    extends StatefulProcessor[Long, Ev, (Long, Long)] {

  @transient private var last: ValueState[(Long, Long)] = _ // (event_id, ts ms)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[(Long, Long)]("last",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timers: TimerValues): Iterator[(Long, Long)] = {
    val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    if (evs.nonEmpty) {
      val newest = evs.last
      val (prevId, prevTs) =
        if (last.exists()) last.get() else (Long.MinValue, Long.MinValue)
      // out-of-order arrivals at-or-below the stored newest must not
      // rewind or reshuffle the deadline: the cross-batch comparison is
      // the same (ts, event_id) total order the intra-batch sort uses,
      // so output does not depend on micro-batch boundaries
      val ts = newest.ts.getTime
      if (ts > prevTs || (ts == prevTs && newest.event_id > prevId)) {
        val timerIt = getHandle.listTimers()
        while (timerIt.hasNext) getHandle.deleteTimer(timerIt.next())
        last.update((newest.event_id, ts))
        getHandle.registerTimer(ts + gapMs)
      }
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[(Long, Long)] = {
    val out =
      if (last.exists()) Iterator((key, last.get()._1)) else Iterator.empty
    last.clear()
    out
  }
}

/** One seen day in [[UvDedupProcessor]] state. `firstEventId` — the
  * event that claimed the day (dedup provenance) — was added AFTER the
  * processor first shipped: it is Option-typed so Avro state-schema
  * evolution reads pre-upgrade checkpoints as None instead of failing
  * the restart. StreamingSpec proves the evolution end to end (v0
  * checkpoint → evolved processor → old state honored, new field
  * defaulted) — the long-lived-state upgrade path a 100 TB deployment
  * depends on, and the reason the engine's stateful operators moved to
  * transformWithState. */
final case class SeenDay(day: String, firstEventId: Option[Long])

/** Keyed day-dedup state machine for [[StreamOps.uvDedupTws]]: one
  * ListState of seen UTC days per user, TTL-evicted by the store. */
class UvDedupProcessor(ttl: TTLConfig)
    extends StatefulProcessor[Long, Ev, Ev] {

  @transient private var seenDays: ListState[SeenDay] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seenDays = getHandle.getListState[SeenDay]("seen_days",
      Encoders.product[SeenDay], ttl)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timers: TimerValues): Iterator[Ev] = {
    val seen = scala.collection.mutable.Set.empty[String]
    val stored = seenDays.get()
    while (stored.hasNext) seen += stored.next().day
    rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
      // day boundary in UTC, matching the engine's pinned session
      // timezone (NOT the JVM default zone, which would diverge from the
      // batch to_date analog)
      val day = e.ts.toInstant.atZone(java.time.ZoneOffset.UTC)
        .toLocalDate.toString
      if (seen.contains(day)) None
      else {
        seen += day
        seenDays.appendValue(SeenDay(day, Some(e.event_id)))
        Some(e)
      }
    }.iterator
  }
}

/** One k-token window occurrence for [[StreamOps.substringRepeats]]:
  * `h` = the window hash (the state key), `(doc_id, i)` = where it
  * occurred (1-based window start). */
final case class WinOcc(doc_id: Long, i: Int, h: String)

/** A repeated-window event: window start `i` of document `doc_id` is
  * covered by a span that occurs verbatim in ≥2 distinct documents. */
final case class RepWin(doc_id: Long, i: Int)

/** Per-window-hash state machine for [[StreamOps.substringRepeats]]
  * (the streaming ExactSubstr pass): each key is one distinct k-token
  * window hash; state is the first contributing document plus its
  * occurrences PENDING a second distinct document. The batch rule is
  * COUNT(DISTINCT doc_id) ≥ 2 ⇒ EVERY occurrence of the hash is a
  * repeated window (including the first document's), so a one-pass
  * stream must hold the first document's occurrences back until a
  * second distinct document proves the repeat — at which point the
  * pending occurrences AND the new one emit, the pending list clears,
  * and every later occurrence emits immediately. The union of emitted
  * `(doc_id, i)` events over the stream's lifetime therefore equals
  * the batch `rwin` relation exactly (StreamingSpec proves it on the
  * shared corpus against [[graft.ops.Dedup.substringRepWindows]]).
  *
  * State shape at scale: keys shard by window hash across the
  * cluster's state stores like any keyed agg; one key per DISTINCT
  * window (the same O(distinct windows) bound as the batch shuffle),
  * worth (first_doc, pending) before a repeat — pending is bounded by
  * the hash's repeats WITHIN its first document, ~1 in real text —
  * and a single boolean after (first/pending cleared on the flip, so
  * the heavy half of the state is transient by construction).
  *
  * GROWTH BOUND (explicit): the key space is STREAM-LIFETIME-UNBOUNDED
  * by design — one RocksDB entry per distinct k-token window ever
  * seen, ~one per corpus token, so a 100 TB stream accumulates
  * ~corpus-token-count entries sharded across executors. Measured
  * (PERF.md r14, RocksDB provider): ~90–200 bytes of SST per LIVE
  * state row at the benchmark shape, with no superlinear term — and
  * the row count itself SHRINKS as repeats flip (first+pending clear
  * to one boolean row), so a repeat-heavy stream's store grows
  * slower than its distinct-window count.
  * Beyond that budget, pass a `ttl`: state for a window unseen for
  * the TTL horizon is dropped, bounding the store to the horizon's
  * distinct-window count. THE EXACTNESS TRADE IS EXPLICIT — an
  * expired key's next occurrence re-enters PENDING as if first-seen,
  * so a repeat whose two contributing documents arrive MORE than the
  * TTL horizon apart is missed (and a flipped key's re-arrivals stop
  * emitting until re-proven); batch parity holds exactly for repeats
  * within the horizon, which is the retention contract a bounded
  * deployment is choosing on purpose.
  *
  * DELIVERY CONTRACT: inputs must be exactly-once per `(doc_id, i)`
  * occurrence — the Spark checkpoint's replay path IS exactly-once
  * (a replayed micro-batch rewrites its own batchId-keyed output),
  * but an UPSTREAM at-least-once re-delivery of an already-processed
  * document re-emits its events for flipped keys: the emitted SET
  * still equals the batch `rwin` relation, the MULTISET does not.
  * Dedup upstream (or sink-side `(doc_id, i)` idempotence) is the
  * caller's job when the source is at-least-once. */
class SubstringRepeatProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, WinOcc, RepWin] {

  @transient private var first: ValueState[Long] = _
  @transient private var rep: ValueState[Boolean] = _
  @transient private var pending: ListState[RepWin] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    first = getHandle.getValueState[Long]("first", Encoders.scalaLong, ttl)
    rep = getHandle.getValueState[Boolean]("rep", Encoders.scalaBoolean, ttl)
    pending = getHandle.getListState[RepWin]("pending",
      Encoders.product[RepWin], ttl)
  }

  override def handleInputRows(key: String, rows: Iterator[WinOcc],
      timers: TimerValues): Iterator[RepWin] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RepWin]
    var isRep = rep.exists() && rep.get()
    var firstDoc = if (first.exists()) Some(first.get()) else None
    // (doc_id, i) order: the emitted SET is order-independent (any
    // arrival order yields the same repeat set — only which doc is
    // "first" moves, and its occurrences emit either way), the sort
    // just pins a deterministic within-batch emission order
    rows.toSeq.sortBy(o => (o.doc_id, o.i)).foreach { o =>
      if (isRep) out += RepWin(o.doc_id, o.i)
      else firstDoc match {
        case None =>
          firstDoc = Some(o.doc_id)
          first.update(o.doc_id)
          pending.appendValue(RepWin(o.doc_id, o.i))
        case Some(fd) if fd == o.doc_id =>
          // same doc again (an internal repeat, or the doc re-sent):
          // NOT a cross-document repeat — the distinct-doc rule
          pending.appendValue(RepWin(o.doc_id, o.i))
        case Some(_) =>
          isRep = true
          rep.update(true)
          val it = pending.get()
          while (it.hasNext) out += it.next()
          pending.clear()
          first.clear() // only the boolean survives the flip
          out += RepWin(o.doc_id, o.i)
      }
    }
    out.iterator
  }
}

/** Event row for the streaming forms (the page-log shape of the
  * reference: mid → user_id, page/last_page_id → event_type,
  * epoch ts → event-time timestamp). */
case class Ev(
    user_id: Long,
    event_id: Long,
    ts: Timestamp,
    event_type: String,
    value: Double,
    is_new: Int)

/** Structured-Streaming forms of the reference's stateful
  * record-at-a-time operators (SURVEY §2.6) and its windowed/joined
  * stream topology (§2.4/§2.5/§2.7). The batch analogs declared in
  * `graft.ops.Stateful` are the oracle-checkable forms; these prove the
  * streaming capability with real keyed state, watermarks and timeouts
  * (exercised via MemoryStream in ScalaTest).
  *
  * The keyed record-at-a-time operators (T1/T2/T3) run on Spark 4's
  * `transformWithState`, whose state lives in the RocksDB state store
  * provider (Spark refuses any other).
  *
  * Scale notes: all operators are keyed — state lives partitioned by
  * key in the state store, so a 1000-executor cluster shards it by the
  * groupBy hash. No operator holds unbounded state: T1 keeps one
  * boolean per key, T2 one list of seen days per key under a state
  * TTL, T3 the sub-watermark event buffer and the within()-bounded
  * partial runs per key under an event-time timer.
  */
object StreamOps {

  /** T1 — new-user correction (`app/dwd/BaseLogApp.java:72-101`):
    * first event per user keeps is_new=1, all later ones are rewritten
    * to 0. State: one has-seen ValueState[Boolean] per key. */
  def newUserFixTws(ds: Dataset[Ev]): Dataset[Ev] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .transformWithState(new NewUserFixProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Event-time timers on `transformWithState`: emit
    * (user, last_event_id) when a key goes idle for `gapMs` — the
    * session-gap / CEP-timeout primitive (the timer half of
    * `app/dwm/UserJumpDetailApp.java`'s within-clause) on the forward
    * state API. With [[newUserFixTws]] (ValueState) and [[uvDedupTws]]
    * (ListState + TTL) this completes the transformWithState surface
    * the engine's stateful operators need: scalar state, TTL'd
    * collection state, and event-time timers. */
  def idleTimeoutTws(ds: Dataset[Ev], gapMs: Long,
      watermarkDelay: String = "2 seconds"): Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new IdleTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** T2 — UV/first-visit-of-day dedup with 24 h state TTL
    * (`app/dwm/UniqueVisitApp.java:49-88`): emit only the first event
    * per (user, UTC day). State: a ListState of seen days per key. The
    * reference's OnCreateAndWrite TTL (`UniqueVisitApp.java:57-59`)
    * maps 1:1 onto `TTLConfig(Duration.ofHours(24))` — eviction is
    * handled by the state store itself. A processing-time TTL keeps the
    * no-data micro-batch loop alive, so `Trigger.AvailableNow` never
    * ends on it; tests that drain pass `ttl = None`. */
  def uvDedupTws(ds: Dataset[Ev],
      ttl: Option[java.time.Duration] = Some(java.time.Duration.ofHours(24))): Dataset[Ev] = {
    import ds.sparkSession.implicits._
    val ttlConfig = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    // TTL state requires the processing-time clock; without TTL the
    // processor is clockless
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    ds.groupByKey(_.user_id)
      .transformWithState(new UvDedupProcessor(ttlConfig), timeMode,
        OutputMode.Append())
  }

  /** T3 — CEP bounce detection (`app/dwm/UserJumpDetailApp.java:57-86`):
    * a session-start (event_type='view') is a bounce iff the next event
    * is also a session-start within `gapMs` (two consecutive starts =
    * the matched branch), or no event arrives within `gapMs` (the CEP
    * timeout branch). Expressed on the generic [[CepPattern]]
    * combinator exactly as the reference writes it:
    * begin("start").where(isStart).times(2).consecutive().within(gap),
    * select = first matched start, timeout = the pending start. */
  def bounceDetectTws(ds: Dataset[Ev], gapMs: Long = 30L * 60 * 1000): Dataset[Ev] = {
    import ds.sparkSession.implicits._
    val pat = CepPattern
      .begin("start", (e: Ev) => e.event_type == "view")
      .times(2).consecutive()
      .within(gapMs)
    Cep.patternTws[Ev](ds, pat,
      select = m => m("start").head,
      onTimeout = partial => Some(partial.head))
  }

  /** A1/A2/W1/W3 streaming form — watermarked tumbling window
    * aggregation (`app/dws/VisitorStatsApp.java:94-117`), append mode.
    */
  def windowedStats(ds: Dataset[Ev], window_ : String = "10 seconds",
      watermark: String = "2 seconds"): DataFrame =
    ds.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(
        col("window.start").as("stt"), col("window.end").as("edt"),
        col("event_type"), col("n"), col("total_value"), col("approx_users"))

  /** Streaming session windows — gap-merge sessionization as native
    * Structured Streaming state (`session_window`), the streaming form
    * of the batch `w_session_window` query. Sessions grow/merge as
    * events arrive and emit (append mode) once the watermark passes
    * the session end, i.e. once no event can extend the session any
    * more. State per live session is one row — the merge is done by
    * the session-window state store, not a custom keyed processor. */
  def sessionStats(ds: Dataset[Ev], gap: String = "30 minutes",
      watermark: String = "2 seconds"): DataFrame =
    ds.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** A3 streaming EXACT windowed distinct
    * (`app/dws/ProvinceStatsSqlApp.java:47-65` computes exact
    * `count(distinct)` inside TUMBLE; `windowedStats` substitutes
    * `approx_count_distinct` because a streaming window agg cannot
    * hold a distinct set). The exact form is dedup-then-count:
    * `dropDuplicatesWithinWatermark` over (event_type, window,
    * user_id) reduces the stream to one row per distinct user per
    * window, after which a plain windowed COUNT IS the exact distinct
    * count. Two chained stateful operators, both watermark-evicted.
    *
    * `watermark` must be ≥ the window length: the dedup state for a
    * key must survive until no same-window duplicate can still arrive
    * (duplicates in one window are at most a window apart in event
    * time). State: one row per live distinct value — exactly what an
    * exact distinct agg would hold, sharded by key hash. */
  def windowedExactDistinct(ds: Dataset[Ev], windowSeconds: Long = 3600L,
      watermarkSeconds: Long = 7200L): DataFrame = {
    // enforce the exactness precondition instead of silently
    // overcounting: dedup state must outlive any same-window duplicate
    require(watermarkSeconds >= windowSeconds,
      s"watermark ($watermarkSeconds s) must be >= window ($windowSeconds s): " +
        "shorter delays evict dedup state while same-window duplicates can still arrive")
    ds.toDF()
      .withWatermark("ts", s"$watermarkSeconds seconds")
      // plain epoch-aligned window id (same alignment as window()) —
      // deduping on the window() struct itself would tag a SECOND
      // event-time column and the downstream agg rejects the plan
      .withColumn("wid", expr(s"unix_seconds(ts) div $windowSeconds"))
      .dropDuplicatesWithinWatermark("event_type", "wid", "user_id")
      .groupBy(window(col("ts"), s"$windowSeconds seconds"), col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
      .select(
        col("window.start").as("stt"), col("window.end").as("edt"),
        col("event_type"), col("distinct_users"))
  }

  /** The full ProductStats topology in streaming form
    * (`app/dws/ProductStatsApp.java:82-330`): per-metric zero-padded
    * branches unioned, watermarked tumbling aggregation with window
    * stamps, then broadcast dim enrichment (stream-static join). */
  def productStats(ds: Dataset[Ev], dim: DataFrame,
      window_ : String = "10 seconds", watermark: String = "2 seconds"): DataFrame = {
    val pv = ds.filter(col("event_type") === "view").select(
      col("ts"), col("user_id"),
      lit(1L).as("pv_ct"), lit(0L).as("order_ct"),
      lit(0.0).cast("decimal(18,2)").as("order_amount"))
    val orders = ds.filter(col("event_type") === "purchase").select(
      col("ts"), col("user_id"),
      lit(0L).as("pv_ct"), lit(1L).as("order_ct"),
      col("value").cast("decimal(18,2)").as("order_amount"))
    pv.unionByName(orders)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("user_id"))
      .agg(
        sum("pv_ct").as("pv_ct"),
        sum("order_ct").as("order_ct"),
        sum("order_amount").cast("double").as("order_amount"))
      .select(
        col("window.start").as("stt"), col("window.end").as("edt"),
        col("user_id"), col("pv_ct"), col("order_ct"), col("order_amount"))
      .join(broadcast(dim), Seq("user_id"), "left")
  }

  /** J1 streaming form — stream-stream interval join with watermark
    * state eviction (`app/dwm/OrderWideApp.java:59-66`): left and right
    * events match when right.ts ∈ [left.ts − 5 s, left.ts + 5 s]. */
  def intervalJoin(left: Dataset[Ev], right: Dataset[Ev]): DataFrame = {
    val l = left.withWatermark("ts", "5 seconds").toDF()
      .select(col("user_id").as("l_user"), col("event_id").as("l_id"),
        col("ts").as("l_ts"), col("value").as("l_value"))
    val r = right.withWatermark("ts", "5 seconds").toDF()
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"), col("value").as("r_value"))
    l.join(r, expr(
      """l_user = r_user AND
        |r_ts BETWEEN l_ts - INTERVAL 5 SECONDS AND l_ts + INTERVAL 5 SECONDS""".stripMargin))
  }

  /** J4/K2 streaming form — per-micro-batch dynamic routing
    * (`app/dwd/BaseDbApp.java:61-89`): each batch joins the (hot-
    * reloadable) config and is fanned out per sink. The sink callback
    * receives (sinkTable, rows) — in production a Kafka topic / JDBC
    * table per config row; config is re-read every batch, the
    * idiomatic substitute for broadcast-state hot reload. */
  def dynamicRoute(
      ds: Dataset[Ev],
      loadConfig: () => DataFrame,
      sink: (String, DataFrame) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Ev] =
    dynamicRouteBatched(ds, loadConfig, (_, t, df) => sink(t, df))

  /** [[dynamicRoute]] whose sink also receives the micro-batch id —
    * the form a replay-idempotent producer needs (pass the id through
    * to `TopicTransport.produce`/`FileTopics.produce` so a replayed
    * batch restores its own append instead of duplicating it). */
  def dynamicRouteBatched(
      ds: Dataset[Ev],
      loadConfig: () => DataFrame,
      sink: (Long, String, DataFrame) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Ev] =
    ds.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Ev], batchId: Long) =>
        // persist the routed batch: the fan-out loop runs one job per
        // sink table and must not re-read the source / re-join per sink
        val routed = batch.toDF().join(broadcast(loadConfig()), "event_type")
          .persist()
        try {
          val tables = routed.select("sink_table").distinct()
            .collect().map(_.getString(0)).sorted
          for (t <- tables) sink(batchId, t, routed.filter(col("sink_table") === t))
        } finally routed.unpersist()
    }

  /** K4 streaming form — dimension upsert sink
    * (`app/function/DimSinkFunction.java:33-67`): each micro-batch is
    * MERGE-compacted into versioned parquet state — latest change per
    * key wins, deletes drop the row. Versioned directories make the
    * swap atomic-by-pointer (no read-while-overwrite); a real
    * deployment would use a table format's MERGE, this is the same
    * shape on raw parquet. Returns the writer; the state lives under
    * `stateDir/v<batchId>`, readable via `latestDimState`. */
  def dimUpsert(cdc: DataFrame, stateDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    cdc.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) => mergeDimBatch(batch, stateDir, batchId)
    }

  /** One micro-batch of the versioned MERGE — package-visible (graft) so the
    * replay contract is testable without a crash harness. */
  private[graft] def mergeDimBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // merge base = newest version BELOW this batchId, never
    // v<batchId> itself: a replayed batch would otherwise read the
    // path it is about to overwrite (Spark refuses, permanently
    // wedging the query) — or worse, merge against its own torn
    // first attempt and lose all prior compacted state
    val prev = rawDimState(spark, stateDir, below = batchId)
    val base = prev.getOrElse(batch.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      batch.schema.add("is_state", "boolean")))
    import org.apache.spark.sql.expressions.Window
    val merged = base
      .unionByName(batch.withColumn("is_state", lit(false)))
      // Highest change seq wins across state and batch — an
      // at-least-once source may replay an older change in a later
      // batch, and it must NOT overwrite newer compacted state. On
      // equal seq the batch row (is_state=false) wins the tie.
      .withColumn("rn", row_number().over(
        Window.partitionBy("pk").orderBy(col("seq").desc, col("is_state"))))
      // Deletes stay in state as TOMBSTONES (filtered on the read
      // side): dropping them here would let an at-least-once replay
      // of an older change resurrect a deleted key.
      .filter(col("rn") === 1)
      .drop("rn").withColumn("is_state", lit(true))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    // (base, current) two-version GC — shared with every id-versioned
    // layout via GenLifecycle (r13 unification; semantics unchanged)
    graft.GenLifecycle.gcVersions(spark, stateDir, "v", batchId,
      keepBase = prev.isDefined)
  }

  /** DWS stats-table maintenance (the reference's per-window ClickHouse
    * stats tables, `utils/ClickHouseUtil.java` call sites): fold each
    * micro-batch's PARTIAL aggregate into a persistent per-key stats
    * table — `pipeline_incr_agg`'s merge algebra running live.
    * Additive counters are not idempotent, so replay safety comes
    * entirely from the versioned swap: a replayed batch re-merges into
    * the pre-batch version (never its own torn output) and overwrites
    * `v<batchId>`, making the addition exactly-once per batchId. */
  def statsMerge(ds: Dataset[Ev], stateDir: String): org.apache.spark.sql.streaming.DataStreamWriter[Ev] =
    ds.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Ev], batchId: Long) =>
        mergeStatsBatch(batch.toDF(), stateDir, batchId)
    }

  private[graft] def mergeStatsBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val partial = batch.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total_value"))
    val prev = rawDimState(spark, stateDir, below = batchId)
    val merged = prev match {
      case None => partial
      case Some(base) => base.unionByName(partial)
        .groupBy("event_type")
        .agg(
          sum(col("n_events")).cast("long").as("n_events"),
          sum(col("total_value")).cast("decimal(18,2)").as("total_value"))
    }
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    graft.GenLifecycle.gcVersions(spark, stateDir, "v", batchId,
      keepBase = prev.isDefined)
  }

  /** Latest merged stats table written by [[statsMerge]], if any. */
  def latestStatsState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    rawDimState(spark, stateDir)

  /** [[statsMerge]] generalized to the SERVING shape of the reference's
    * ClickHouse stats tables (DWS rows keyed by window-start `stt` plus
    * dimension columns, additive measures), day-partitioned on disk —
    * so the ADS layer's day filter is partition PRUNING, not a table
    * scan. This closes the reference's full production loop (DWS stream
    * → stats table → publisher query, `SugarController.java:403-436`)
    * on parquet: stream in, versioned exactly-once merge, `AdsQueries`
    * served from the latest state MID-STREAM while the query keeps
    * writing.
    *
    * Scale shape (the table ages into years of history at 10 s window
    * grain): a micro-batch merges and rewrites ONLY the day partitions
    * present in the batch. Each batch writes its touched days to
    * `v<batchId>/dt=<day>` and commits a tiny manifest file
    * `m<batchId>` mapping EVERY day to the version that owns its
    * current rows — untouched days are carried by reference in the
    * manifest, never re-read or re-written, so per-batch I/O is
    * O(touched days), not O(table age). Replay safety is
    * [[statsMerge]]'s, applied to the manifest: the merge base is the
    * newest manifest strictly BELOW the current batchId, the manifest
    * rename is the atomic commit, and a replayed batch overwrites only
    * `v<batchId>` + `m<batchId>`. StreamingSpec proves the loop end to
    * end, including the pruning and that a batch touching only day D
    * leaves other days' files byte-identical. */
  def statsMergePartitioned(stats: DataFrame, stateDir: String,
      keyCols: Seq[String], sumCols: Seq[String],
      consolidateAbove: Int = 0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stats.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeStatsPartitionedBatch(batch.toDF(), stateDir, batchId, keyCols,
          sumCols, consolidateAbove)
    }

  /** Distinct version directories owning the live days per the newest
    * committed manifest — the fragmentation signal the consolidation
    * autopilot bounds (each distinct owner is one extra read under
    * [[latestPartitionedStatsState]] and one extra directory a
    * full-table serve touches). */
  def statsTableFragmentation(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Int =
    readManifest(spark, stateDir)._2.values.toSet.size

  private[graft] def mergeStatsPartitionedBatch(batch: DataFrame,
      stateDir: String, batchId: Long,
      keyCols: Seq[String], sumCols: Seq[String],
      consolidateAbove: Int = 0): Unit = {
    val spark = batch.sparkSession
    // (dt, stt, dims) grain — dt is the partition column the serving
    // day-filter prunes on; stt keeps the reference's window grain
    def rollup(df: DataFrame): DataFrame = {
      val aggs = sumCols.map(c => sum(col(c)).cast(df.schema(c).dataType).as(c))
      df.groupBy((Seq("dt", "stt") ++ keyCols).map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    // pinned: the day list (control-plane collect) and the merge write
    // both consume it — without the pin the batch aggregates twice
    val partial = rollup(batch.withColumn("dt", to_date(col("stt")))).persist()
    try {
      val batchDays = partial.select(col("dt").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      if (batchDays.nonEmpty) {
        val base = readManifest(spark, stateDir, below = batchId)
        // CONSOLIDATION AUTOPILOT, decided at the batch boundary —
        // the only safe point: the version space IS the streaming
        // batchId space (merge base = newest manifest strictly below
        // the batchId, replay overwrites v<batchId>+m<batchId>), so an
        // out-of-band maintenance writer has no id it could commit
        // between batch B and B+1 without either shadowing a replay's
        // merge base or colliding with the next batch. Riding the
        // batch keeps every replay/GC invariant: a replayed
        // consolidating batch re-reads the SAME base manifest and
        // re-decides identically. The trigger is day-ownership
        // fragmentation (each distinct owning version is one extra
        // read per serve); the cost is one O(live rows) rewrite every
        // ~consolidateAbove batches — the background-merge bargain of
        // the reference's ClickHouse sink engine, and stats tables are
        // aggregate-sized (days × dims), never raw-mass-sized.
        val owningAfter = (base._2 ++ batchDays.iterator.map(_ -> batchId))
          .values.toSet.size
        val touched =
          if (consolidateAbove > 0 && owningAfter > consolidateAbove)
            base._2.keySet ++ batchDays
          else batchDays
        // merge base = current rows of the TOUCHED days only, read from
        // the versions that own them; untouched days never enter the job
        val baseRows = readOwnedDays(spark, stateDir,
          base._2.filter { case (d, _) => touched.contains(d) })
        val merged = baseRows match {
          case None => partial
          case Some(b) => rollup(b.unionByName(partial))
        }
        merged.write.mode("overwrite").partitionBy("dt").parquet(s"$stateDir/v$batchId")
        // full day→version map with touched days remapped to this
        // version; the rename inside writeManifest is the commit point
        val next = base._2 ++ touched.iterator.map(_ -> batchId)
        writeManifest(spark, stateDir, batchId, next)
        gcPartitionedState(spark, stateDir, batchId, baseManifestId = base._1,
          live = (base._2.toSet ++ next.toSet).map(_.swap))
      }
    } finally { partial.unpersist(); () }
  }

  /** Latest merged day-partitioned stats table written by
    * [[statsMergePartitioned]], if any — the union of every day's
    * current rows per the newest committed manifest. `dt` is recovered
    * as a partition column (basePath-anchored read), so serving-day
    * filters stay partition pruning. */
  def latestPartitionedStatsState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    readOwnedDays(spark, stateDir, readManifest(spark, stateDir)._2)

  /** Union of the given day→owning-version rows, each read from the
    * version directory that owns the day. One read per distinct owning
    * version (bounded by the day count), `basePath`-anchored so `dt`
    * stays a partition column. */
  private def readOwnedDays(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, owned: Map[String, Long]): Option[DataFrame] =
    if (owned.isEmpty) None
    else Some(owned.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, days) =>
      spark.read.option("basePath", s"$stateDir/v$v")
        .parquet(days.keys.toSeq.sorted.map(d => s"$stateDir/v$v/dt=$d"): _*)
    }.reduce(_ unionByName _))

  /** (manifestId, day→owning-version) from the newest manifest strictly
    * below `below` — exclusive, the replay contract: a replayed batch
    * never reads the manifest it is about to overwrite. Manifests are
    * rename-committed FILES, so their listing is ungated. */
  private def readManifest(spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      below: Long = Long.MaxValue): (Option[Long], Map[String, Long]) = {
    val ids = graft.GenLifecycle.versionIds(spark, stateDir, "m", below,
      gated = false)
    if (ids.isEmpty) (None, Map.empty)
    else {
      val id = ids.max
      (Some(id), graft.IndexFs.readUtf8(spark, s"$stateDir/m$id")
        .linesIterator.filter(_.nonEmpty).map { line =>
          val Array(d, v) = line.split('\t')
          d -> v.toLong
        }.toMap)
    }
  }

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, batchId: Long,
      entries: Map[String, Long]): Unit =
    // sync-then-atomic-rename commit via the Hadoop FS seam (a
    // replayed batch overwrites its own torn manifest)
    graft.IndexFs.writeUtf8Atomic(spark, s"$stateDir/m$batchId",
      entries.toSeq.sorted.map { case (d, v) => s"$d\t$v" }
        .mkString("", "\n", "\n"))

  /** GC for the day-partitioned stats state — the same (base, current)
    * two-version replay contract as [[gcVersions]], applied at
    * (version, day) grain: keeps the base and current MANIFESTS and
    * every day directory either references; deletes older generations,
    * days remapped away two generations ago, and abandoned higher-
    * batchId runs (fresh checkpoint over an old stateDir — their
    * manifests would otherwise be served as "latest" and eventually
    * picked as a merge base, double-counting the dead run). Live
    * storage: every day once + at most one stale copy per
    * recently-touched day. */
  private def gcPartitionedState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, batchId: Long,
      baseManifestId: Option[Long], live: Set[(Long, String)]): Unit = {
    val keepManifests: Set[Long] = baseManifestId.toSet + batchId
    val liveVersions = live.map(_._1)
    graft.GenLifecycle.versionIds(spark, stateDir, "m", gated = false)
      .foreach { id =>
        if (!keepManifests.contains(id))
          graft.IndexFs.delete(spark, s"$stateDir/m$id")
      }
    graft.GenLifecycle.versionIds(spark, stateDir, "v", gated = false)
      .foreach { v =>
        if (!liveVersions.contains(v))
          graft.IndexFs.delete(spark, s"$stateDir/v$v")
        else graft.IndexFs.listNames(spark, s"$stateDir/v$v", "dt=.*").foreach { sub =>
          if (!live.contains((v, sub.drop("dt=".length))))
            graft.IndexFs.delete(spark, s"$stateDir/v$v/$sub")
        }
      }
  }

  /** Latest raw compacted state incl. delete tombstones — the merge
    * input; external readers use `latestDimState`. `below` bounds the
    * version (exclusive) so a replayed batch never reads its own
    * output; the GATED listing serves only `_SUCCESS`-committed
    * versions (the delta-visibility discipline, see
    * [[graft.GenLifecycle.versionIds]]). */
  private def rawDimState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, below: Long = Long.MaxValue): Option[DataFrame] = {
    val versions = graft.GenLifecycle.versionIds(spark, stateDir, "v", below)
    if (versions.isEmpty) None
    else Some(spark.read.parquet(s"$stateDir/v${versions.max}"))
  }

  /** Latest compacted dim state written by `dimUpsert` (tombstones
    * filtered out), if any. */
  def latestDimState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Option[DataFrame] =
    rawDimState(spark, stateDir).map(_.filter(col("op") =!= "delete"))

  /** Timestamp pattern for the envelope: micros precision, so a topic
    * hop is lossless for this engine's microsecond event times (the
    * to_json default truncates to millis). */
  private val envelopeTsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** K2 shape — the per-row-topic Kafka producer contract: Spark's
    * kafka sink routes on a `topic` column; this builds that frame.
    * The JSON envelope carries the event time so a downstream layer
    * can re-window (the reference's layers pass `ts` through every
    * Kafka hop). */
  def toKafkaShape(routed: DataFrame): DataFrame =
    routed.select(
      col("sink_table").as("topic"),
      // key = USER, not event: FileTopics guarantees order per key per
      // partition, and the consumers that care about order (newUserFixTws,
      // CEP) are keyed by user — a unique per-event key would make that
      // guarantee vacuous
      col("user_id").cast("string").as("key"),
      to_json(
        struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"), col("is_new")),
        java.util.Map.of("timestampFormat", envelopeTsFormat)).as("value"))

  /** Inverse of [[toKafkaShape]]'s envelope: parse a consumed topic
    * frame back into the `Ev` stream shape (the deserializer each
    * consuming layer starts with). */
  def fromKafkaShape(topicFrame: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts", TimestampType),
      StructField("is_new", IntegerType)))
    topicFrame
      .select(from_json(col("value"), schema,
        java.util.Map.of("timestampFormat", envelopeTsFormat)).as("r"))
      // every Ev field rides the envelope — in particular is_new, so a
      // topic hop does not undo the T1 new-user correction upstream
      .select(col("r.user_id").as("user_id"), col("r.event_id").as("event_id"),
        col("r.ts").as("ts"), col("r.event_type").as("event_type"),
        col("r.value").as("value"), col("r.is_new").as("is_new"))
  }

  /** Streaming corpus ingestion — the training-data prep chain
    * (quality gate → exact dedup → corpus stats) as ONE streaming
    * topology over a document stream (doc_id, text, source, ts):
    *
    *   1. quality gate: row-local token features, docs under
    *      `minWords` dropped (the streaming form of `text_quality`);
    *   2. exact content dedup: the bag-of-words fingerprint
    *      (`dedup_fingerprint`'s key) deduped via
    *      `dropDuplicatesWithinWatermark` — token-reordered copies
    *      arriving within the watermark are suppressed, state is one
    *      row per live fingerprint and is watermark-evicted (the
    *      unbounded-corpus-safe contract: cross-window dups beyond the
    *      watermark are batch-compaction's job);
    *   3. per-source windowed corpus stats (docs + tokens) in append
    *      mode — closed windows are the incremental corpus ledger.
    *
    * Compliance + quality composition (both on by default — the
    * production stance for a corpus feed):
    *   - `piiScrub`: [[graft.ops.TextOps.piiPattern]] redaction BEFORE
    *     tokenize/fingerprint — PII never reaches state, fingerprints,
    *     or downstream counts, and two docs differing only in PII
    *     dedup to one (the batch `text_pii_redact` pass, inline);
    *   - `modelGate`: the row-local quality-model gate
    *     ([[graft.ops.TextOps.modelKeepExpr]] — plan-literal weights,
    *     no join, no state), rejecting docs the model scores below
    *     threshold; token-free docs have no decision and are dropped
    *     by the minWords gate first.
    * Both legs surface in the observed metrics (`rejected` = length
    * gate, `model_rejected` = model gate among length-passers), so a
    * dashboard alarms on either ratio without a second query.
    *
    * At scale the dedup state shards by fingerprint hash across the
    * cluster's state stores exactly like any keyed agg. */
  def corpusIngest(docs: DataFrame, windowSeconds: Long = 60L,
      watermarkSeconds: Long = 120L, minWords: Int = 3,
      piiScrub: Boolean = true, modelGate: Boolean = true): DataFrame = {
    val scrubbed =
      if (piiScrub)
        docs.withColumn("text",
          regexp_replace(col("text"), graft.ops.TextOps.piiPattern, "<PII>"))
      else docs
    scrubbed
      .withColumn("ws_arr", filter(split(col("text"), " "),
        (w: org.apache.spark.sql.Column) => length(w) > 0))
      .withColumn("n_words", size(col("ws_arr")))
      .withColumn("model_keep",
        if (modelGate)
          coalesce(graft.ops.TextOps.modelKeepExpr(col("text")), lit(false))
        else lit(true))
      // observed metrics: per-micro-batch ingest/reject counters
      // surfaced on StreamingQueryProgress.observedMetrics — the
      // production observability hook (a dashboard alarms on
      // rejected/arrived ratio without a second counting query; the
      // aggregation rides the existing plan, no extra pass)
      .observe("ingest_gate",
        count(lit(1)).as("arrived"),
        sum(when(col("n_words") < minWords, 1L).otherwise(0L)).as("rejected"),
        sum(when(col("n_words") >= minWords && !col("model_keep"), 1L)
          .otherwise(0L)).as("model_rejected"))
      .filter(col("n_words") >= minWords && col("model_keep"))
      // IDENTICAL fingerprint expression to dedup_fingerprint /
      // dedupIngestBatch (raw split, empty tokens included): the
      // streaming and batch legs must agree on which documents count
      // as duplicates, or the "beyond the watermark is batch
      // compaction's job" handoff silently changes the dedup set on
      // whitespace-variant docs
      .withColumn("fp",
        md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
      .withWatermark("ts", s"$watermarkSeconds seconds")
      .dropDuplicatesWithinWatermark("fp")
      .groupBy(window(col("ts"), s"$windowSeconds seconds"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_tokens"))
      .select(
        col("window.start").as("stt"), col("window.end").as("edt"),
        col("source"), col("n_docs"), col("n_tokens"))
  }

  /** Streaming ExactSubstr (the Lee et al. 2021 pass,
    * [[graft.ops.Dedup.dedupSubstring]]'s windowed-hash form, live):
    * each arriving document explodes map-side into its overlapping
    * k-token window hashes (the IDENTICAL expression the batch pass
    * uses — [[graft.ops.Dedup.substringWindows]] is shared), and a
    * per-hash [[SubstringRepeatProcessor]] emits a `(doc_id, i)`
    * event for every window whose span is proven to occur in ≥2
    * distinct documents — retroactively for the first document's
    * occurrences the moment a second document repeats them. The
    * accumulated event set over the stream equals the batch `rwin`
    * relation on the same corpus (the per-doc cut inputs
    * `n_rep_windows`/`covered_tokens` are one groupBy over it).
    *
    * State is stream-lifetime by default — the pass is corpus-global,
    * the same contract as the batch form; `ttl` bounds it for
    * rolling-window deployments (repeats farther apart than the TTL
    * become batch compaction's job, the corpusIngest handoff rule).
    * TTL requires the processing-time clock (drive tests with
    * AvailableNow — the no-data micro-batch gotcha); without it the
    * processor is clockless. */
  def substringRepeats(docs: DataFrame, k: Int = 8,
      ttl: Option[java.time.Duration] = None): Dataset[RepWin] = {
    import docs.sparkSession.implicits._
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    val ttlConfig = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    graft.ops.Dedup.substringWindows(docs, k)
      .select(col("doc_id"), col("i"), col("h")).as[WinOcc]
      .groupByKey(_.h)
      .transformWithState(new SubstringRepeatProcessor(ttlConfig), timeMode,
        OutputMode.Append())
  }

  /** [[substringRepeats]] with the ingest-leg sink contract: each
    * micro-batch's repeated-window events land in `outDir/b<batchId>`
    * (mode Overwrite — a replayed micro-batch rewrites its own output,
    * the same batchId-idempotence contract as every other ingest leg;
    * the state store rolls back to the batch-start version on replay,
    * so the rewritten events are identical). Read the union with an
    * explicit `doc_id BIGINT, i INT` schema — an event-free batch
    * writes only `_SUCCESS` (the never-infer rule). */
  def substringIngest(docs: DataFrame, outDir: String, k: Int = 8,
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    substringRepeats(docs, k, ttl).toDF()
      .writeStream.outputMode("append").foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$outDir/b$batchId")
      }

  /** Streaming ANN serving over a PERSISTED IVF index
    * ([[graft.ops.Similarity.persistIvfIndex]]): each micro-batch of
    * `(query_id, qe)` query vectors is answered with its exact-cosine
    * top-k from the `nprobe` nearest coarse cells per query.
    *
    * Shape per batch — the 100 TB serving contract:
    *   1. every query is assigned its `nprobe` clusters via one
    *      broadcast of the k_coarse-row centroid relation (row_number
    *      over a |batch|×k_coarse frame — no corpus involvement);
    *   2. the UNION of probed labels (control-plane collect, bounded
    *      by |batch|×nprobe) selects which `label=` directories are
    *      listed into the scan: serving I/O is proportional to the
    *      probed cells, never the corpus;
    *   3. the batch-sized probe relation broadcasts into the pruned
    *      corpus read; per-query top-k is a window rank inside it.
    *
    * Output lands in `outDir/b<batchId>` with mode Overwrite — a
    * replayed micro-batch overwrites its own output (the same
    * batchId-idempotence contract as [[ExactlyOnceSink]]);
    * [[annResults]] reads the union. */
  def annServe(queries: DataFrame, indexDir: String, outDir: String,
      k: Int = 10, nprobe: Int = 2): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        annServeBatch(batch.toDF(), indexDir, outDir, batchId, k, nprobe)
    }

  private[graft] def annServeBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, k: Int, nprobe: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val d2 = aggregate(
      zip_with(col("cent"), col("qe"),
        (c, x) => (c - x.cast("double")) * (c - x.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    // ONE manifest resolve per batch: the cluster assignment and the
    // pruned corpus read must see the SAME generation (a Lloyd
    // compaction committing between two resolves would mix old-gen
    // label ids with a re-clustered corpus)
    val st = graft.ops.Similarity.resolveIvf(spark, indexDir)
    // generation-cached LocalRelation: no parquet read and no extra
    // broadcast-build job per micro-batch (the identity-keyed cache in
    // Similarity — values bit-identical to the committed relation)
    val centroids = graft.ops.Similarity.servingCentroidsCached(spark, indexDir, st)
    val wc = Window.partitionBy("query_id").orderBy(col("d2"), col("label"))
    // pinned: the touched-label list (control plane) and the serving
    // join both consume the assignment — without the pin the
    // |batch|×k_coarse fold runs twice. The rank itself runs on NARROW
    // rows ((query_id, label, d2) — the batch scaffold's discipline):
    // qe joins back onto the ≤ nprobe winners, never ×k-multiplied
    // through the rank exchange and sort.
    val ranked = batch.select(col("query_id"), col("qe"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("label"), d2.as("d2"))
      .withColumn("rk", row_number().over(wc)).filter(col("rk") <= nprobe)
      .select(col("query_id"), col("label"))
    val probes = ranked
      .join(batch.select(col("query_id"), col("qe")), Seq("query_id"))
      .persist()
    try {
      val touched = probes.select("label").distinct()
        .collect().map(_.getAs[Number](0).longValue).sorted
      if (touched.nonEmpty) {
        val corpus = graft.ops.Similarity
          .servingCorpusAt(spark, indexDir, st, touched.toIndexedSeq)
        val cos = graft.ops.Similarity.dot(col("embedding"), col("qe")) /
          (col("norm") * col("qnorm"))
        val wq = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("vec_id"))
        corpus
          .join(broadcast(probes.withColumn("qnorm",
            sqrt(graft.ops.Similarity.dot(col("qe"), col("qe"))))), Seq("label"))
          .select(col("query_id"), col("vec_id"), cos.as("cos"))
          .withColumn("rk", row_number().over(wq)).filter(col("rk") <= k)
          .select(col("query_id"), col("vec_id"),
            round(col("cos"), 6).as("cos_sim"))
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
      }
    } finally { probes.unpersist(); () }
  }

  /** [[annServe]]'s RE-RANKED mode: each micro-batch of queries is
    * served through the two-stage probe — per-query cells chosen from
    * an `nprobeWide` stage-1 net, exact cosine only in each query's
    * `rerankCells` cells. `codec` picks the stage-1 representation:
    * `"int8"` reads the per-vector-scaled sketch cells
    * ([[graft.ops.Similarity.ivfProbeBatchRerankedServedReleasable]]),
    * `"pq"` the product-quantization codes (⅛ the bytes,
    * [[graft.ops.Similarity.ivfProbeBatchRerankedServedPqReleasable]]).
    * Same output contract and batchId-idempotent `outDir/b<batchId>`
    * layout as [[annServe]]; [[annResults]] reads the union. */
  def annServeReranked(queries: DataFrame, indexDir: String, outDir: String,
      k: Int = 10, nprobeWide: Int = 8, rerankCells: Int = 2,
      poolSize: Int = 50, codec: String = "int8"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        annServeRerankedBatch(batch.toDF(), indexDir, outDir, batchId,
          k, nprobeWide, rerankCells, poolSize, codec)
    }

  private[graft] def annServeRerankedBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, k: Int, nprobeWide: Int,
      rerankCells: Int, poolSize: Int, codec: String = "int8"): Unit = {
    if (batch.isEmpty) return
    val (out, release) = codec match {
      case "pq" => graft.ops.Similarity
        .ivfProbeBatchRerankedServedPqReleasable(batch.sparkSession, indexDir,
          batch, k, nprobeWide, rerankCells, poolSize)
      case "int8" => graft.ops.Similarity
        .ivfProbeBatchRerankedServedReleasable(batch.sparkSession, indexDir,
          batch, k, nprobeWide, rerankCells, poolSize)
      case other => throw new IllegalArgumentException(
        s"unknown rerank codec '$other' (int8|pq)")
    }
    try out.write.mode("overwrite").parquet(s"$outDir/b$batchId")
    finally release()
  }

  /** Streaming index growth — the ingest side of the ANN loop: each
    * micro-batch of `(vec_id, embedding)` vectors is assigned to its
    * nearest centroids and appended as a label-partitioned delta under
    * the persisted index ([[graft.ops.Similarity
    * .appendToPersistedIvfIndex]]). A replayed micro-batch OVERWRITES
    * its own `delta/b<batchId>` directory, so the index never
    * double-counts; serving ([[annServe]] /
    * `ivfProbeVectorServed`) picks appended vectors up on its next
    * probe with no coordination — both sides list base + committed
    * deltas per probed cell. Compaction
    * (`Similarity.compactIvfIndex`) folds deltas into the base
    * offline. */
  def annIngest(vectors: DataFrame, indexDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ops.Similarity.appendToPersistedIvfIndexUnchecked(
            batch.sparkSession, indexDir, batch.toDF(), batchId)
          // claim the delta axis: from here on a direct out-of-axis
          // deleteFromIvfIndex OR appendToPersistedIvfIndex rejects
          // loudly (route changes through annIngestCdc's feed)
          graft.GenLifecycle.writeStreamAxis(batch.sparkSession, indexDir, batchId)
        }
    }

  /** CDC-DRIVEN ANN ingest — the stream-driven takedown arc for the
    * persisted IVF index (reference analog: CDC `delete` ops flowing
    * through the pipeline, `app/dwd/BaseDbApp.java:43`): `changes`
    * carries an `op` column next to `(vec_id, embedding)`; per
    * micro-batch the delete ops' keys are tombstoned FIRST
    * ([[graft.ops.Similarity.deleteFromIvfIndexUnchecked]] — issued
    * inside this loop's own sequential-writer slot, at the batch's own
    * id, so the takedown takes effect from this very batch while the
    * batch's own appends survive by the same-id log-order rule), then
    * the non-delete rows append as the batch's data delta. Replay of a
    * batch re-issues both (tombstone and delta writes are
    * batchId-idempotent overwrites), so decisions and index state are
    * replay-identical. */
  def annIngestCdc(changes: DataFrame, indexDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        annIngestCdcBatch(batch.toDF(), indexDir, batchId)
    }

  private[graft] def annIngestCdcBatch(batch: DataFrame, indexDir: String,
      batchId: Long): Unit = {
    // same cached-once discipline as lshIngestCdcBatch: one persisted
    // scan + one two-way conditional count replaces four re-reads of
    // the (file/Kafka-backed) source per micro-batch
    val spark = batch.sparkSession
    val cached = batch.persist()
    try {
      val counts = cached.agg(
        count(when(col("op") === "delete", 1)).as("n_dels"),
        count(when(col("op") =!= "delete", 1)).as("n_adds")).head()
      val (nDels, nAdds) = (counts.getLong(0), counts.getLong(1))
      if (nDels > 0)
        graft.ops.Similarity.deleteFromIvfIndexUnchecked(spark, indexDir,
          cached.filter(col("op") === "delete").select("vec_id"), batchId)
      if (nAdds > 0)
        graft.ops.Similarity.appendToPersistedIvfIndexUnchecked(spark,
          indexDir,
          cached.filter(col("op") =!= "delete").select("vec_id", "embedding"),
          batchId)
      if (nDels > 0 || nAdds > 0)
        graft.GenLifecycle.writeStreamAxis(spark, indexDir, batchId)
    } finally { cached.unpersist(); () }
  }

  /** Self-building streaming dedup: each micro-batch of `(doc_id,
    * text, ...)` documents is checked against the PERSISTED near-dup
    * index ([[graft.ops.Dedup.persistLshIndex]]) and the index then
    * absorbs the batch's genuinely-new documents — so later batches
    * are deduplicated against everything accepted before them, across
    * the whole stream's history, with per-batch I/O bounded by the
    * batch's own LSH cells.
    *
    * Per batch: (1) within-batch EXACT dedup (bag-of-words
    * fingerprint, min doc_id survives); (2) [[graft.ops.Dedup
    * .nearDupCheck]] against base + deltas STRICTLY BELOW this
    * batchId — a replayed batch never probes its own torn output —
    * with the SHORT-DOC exact-fingerprint fallback on (sub-3-token
    * docs index and probe by their token-set fingerprint, so a
    * cross-batch copy of a short doc is flagged too; zero-token docs
    * remain unmatchable); (3) within-batch NEAR-dup self-check over
    * the docs the index didn't flag ([[graft.ops.Dedup
    * .nearDupPairsLocal]] + connected components): each near-dup
    * family keeps its minimum doc_id, the rest are flagged against
    * that survivor — two near-identical docs arriving in ONE
    * micro-batch can no longer both slip past the index and join the
    * corpus; (4) accepted docs are appended as this batch's delta
    * ([[graft.ops.Dedup.appendToLshIndex]], overwrite = idempotent);
    * (5) a decision log lands in `outDir/b<batchId>` (overwrite):
    * one row per unique incoming doc — `(doc_id, dup_of, jac)` with
    * `dup_of`/`jac` null for accepted docs, else the best-matching
    * index doc (highest Jaccard, ties to the lowest id) or the
    * in-batch family survivor.
    *
    * The probe form (one-pass or two-stage) is AUTO-selected once per
    * micro-batch from the index's persisted fat-cell tail PLUS the
    * ledger-recorded committed-delta mass, intersected with the
    * batch's OWN probed cells, against the measured constant
    * [[graft.ops.Dedup.twoStageCellRowsFloor]] (resolved inside
    * [[graft.ops.Dedup.nearDupCheckWithProbe]] — O(1) metadata I/O,
    * re-read each batch so a mid-stream re-bucket OR an append-heavy
    * backlog flips the plan with the layout). Decisions do not depend
    * on the form, by the two-stage probe's lossless construction — it
    * is purely a read-plan choice, so the writer exposes no knob. */
  def dedupIngest(docs: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.4): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        dedupIngestBatch(batch.toDF(), indexDir, outDir, batchId, threshold)
    }

  private[graft] def dedupIngestBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, threshold: Double,
      twoStageProbe: Option[Boolean] = None,
      twoStageFloor: Long = graft.ops.Dedup.twoStageCellRowsFloor,
      pairsDriverCap: Long = graft.ops.Dedup.inBatchPairsDriverCap): Unit =
    dedupIngestBatchCore(batch, indexDir, outDir, batchId,
      // the text modality: bag-of-words fingerprint for the exact
      // within-batch drop, shingle band rows (short-doc exact
      // fallback ON) for the index probe
      md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))),
      uniq => graft.ops.Dedup.nearDupCheckWithProbe(
        batch.sparkSession, indexDir, uniq, threshold,
        belowBatch = batchId, broadcastProbe = true,
        exactFallback = true, twoStage = twoStageProbe,
        twoStageFloor = twoStageFloor),
      threshold, pairsDriverCap)

  /** The modality-agnostic ingest-batch core: callers supply (a) the
    * EXACT-duplicate fingerprint column (bag-of-words md5 for text,
    * payload md5 for binary media) and (b) the index probe — a
    * function of the exact-deduped batch returning
    * `(confirmed pairs, pinned probe band rows, release)`, i.e. the
    * [[graft.ops.Dedup.nearDupCheckWithProbe]] shape over whatever
    * element relation the modality bands on. Everything downstream —
    * within-batch family resolution with the driver-cap fallback,
    * band-row-reuse append, decision log, axis claim — is shared
    * verbatim across modalities. */
  private def dedupIngestBatchCore(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long,
      fp: org.apache.spark.sql.Column,
      probe: DataFrame => (DataFrame, DataFrame, () => Unit),
      threshold: Double, pairsDriverCap: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // exact within-batch dedup WITHOUT shuffling the heavy column: the
    // digest groupBy ships (fp, doc_id) only — map-side-combined min —
    // and the survivor ids broadcast back into a semi-join, so the
    // payload/text bytes never cross an exchange (a window over the
    // full rows would shuffle every byte of the batch once; the
    // survivor-id set is micro-batch-bounded ids, broadcast-sized).
    // Same semantics as before: min doc_id per fingerprint survives.
    val keep = batch.groupBy(fp.as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val uniq = batch.join(broadcast(keep), Seq("doc_id"), "left_semi")
      .persist()
    try {
      // releasable probe: one check runs per micro-batch for the
      // stream's lifetime — the pinned probe relation is freed once
      // this batch's writes land, not when the ContextCleaner gets
      // around to it
      // two-stage probe selection: the probe is micro-batch-sized, so
      // the survivor collect is control-plane bounded and the index
      // cells are read column-pruned + sig-filtered (the LSH analog of
      // the IVF rerank's cheap-stage-then-exact discipline). It WINS
      // when the cells THIS probe lands in are fat (many parquet pages
      // each — the 100 TB regime); at page-sized cells the second scan
      // costs more than the shingle-column pruning saves (ServeSoak
      // lsh_hot vs lsh_serve, PERF.md crossover). The AUTO mode
      // resolves that inside the probe itself — the index's persisted
      // fat-cell tail intersected with the batch's own cells, re-read
      // each batch so a mid-stream re-bucket moves the plan WITH the
      // layout.
      val (dupsRaw, probeRows, releaseProbe) = probe(uniq)
      val dups = dupsRaw.persist()
      try {
        val fresh = uniq.join(
          dups.select(col("probe_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
          .persist()
        try {
          // within-batch near-dup families among the index-fresh docs:
          // min doc_id per connected component survives, the rest are
          // flagged with the family survivor and their best edge's
          // Jaccard as evidence. EVERY pin in this leg is releasable
          // and released once the batch's writes land — one self-check
          // runs per micro-batch for the stream's lifetime, so a
          // session-pinned block per batch would accumulate without
          // bound (the same discipline as the probe side above).
          // the batch is already banded (the pinned probe relation) —
          // restrict it to the index-fresh docs and self-join, instead
          // of re-running shingle+MinHash over the batch's text
          val freshBandRows = probeRows
            .join(fresh.select(col("doc_id").as("probe_id")),
              Seq("probe_id"), "left_semi")
            .select(col("probe_id").as("doc_id"), col("band_id"),
              col("sig"), col("pss").as("ss"))
          val (localPairs, releasePairs) = graft.ops.Dedup
            .nearDupPairsFromBandRows(freshBandRows, threshold)
          try {
            // in-batch families are resolved ON THE DRIVER when the
            // confirmed-pair count allows: distinct sigs bound the
            // survivor collect by the batch, but the PAIR set is
            // quadratic in a worst-case batch (n near-identical
            // non-exact docs confirm n(n-1)/2 pairs), so the count —
            // one cheap aggregate over the already-materialized pair
            // relation — gates the collect, and an adversarial batch
            // falls back to the distributed min-label propagation
            // (which never collects pairs). The healthy-batch fast
            // path is a local union-find instead of an iteration of
            // Spark jobs per hop (~1.2 s of a ~6 s steady-state batch,
            // PERF.md r11). Same semantics either way: component
            // minimum survives, the rest flag against it with their
            // best incident Jaccard.
            val nPairs = localPairs.count()
            val (inBatchDups, accepted, releaseFlagged) =
              if (nPairs == 0L) (None, fresh, () => ())
              else if (nPairs <= pairsDriverCap) {
                val pairRows = localPairs
                  .select(col("doc_a"), col("doc_b"), col("jac"))
                  .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
                val flaggedRows = graft.ops.Dedup.inBatchFamilies(pairRows.toSeq)
                import spark.implicits._
                // rounding stays IN Spark (round() on the relation):
                // Spark rounds the shortest-decimal-string HALF_UP,
                // and a driver-side BigDecimal of the binary double
                // can diverge exactly on ties (the roundedRatio class
                // of bug)
                val flaggedM = flaggedRows.toDF("doc_id", "dup_of", "jac")
                  .select(col("doc_id"), col("dup_of"),
                    round(col("jac"), 6).as("jac"))
                (Some(flaggedM),
                  fresh.join(broadcast(flaggedM.select("doc_id")),
                    Seq("doc_id"), "left_anti"),
                  () => ())
              } else {
                val (labels, releaseLabels) = graft.ops.Dedup
                  .connectedComponentsReleasable(
                    localPairs.select(col("doc_a"), col("doc_b")))
                val bestJac = localPairs
                  .select(col("doc_a").as("d"), col("jac"))
                  .unionByName(localPairs.select(col("doc_b").as("d"), col("jac")))
                  .groupBy("d").agg(max(col("jac")).as("jac"))
                val flagged = labels.filter(col("node") =!= col("label"))
                  .select(col("node").as("doc_id"),
                    col("label").cast("long").as("dup_of"))
                  .join(bestJac.withColumnRenamed("d", "doc_id"), Seq("doc_id"))
                  .select(col("doc_id"), col("dup_of"),
                    round(col("jac"), 6).as("jac"))
                val (flaggedM, releaseF) = graft.Materialize.releasable(flagged)
                releaseLabels() // flaggedM is materialized off the labels
                (Some(flaggedM),
                  fresh.join(flaggedM.select("doc_id"), Seq("doc_id"), "left_anti"),
                  releaseF)
              }
            try {
              // the batch is already banded (the pinned probe
              // relation) — append the accepted docs' band rows
              // directly instead of re-running shingle+MinHash over
              // their text (the largest stage of a steady-state
              // ingest batch). A re-bucket committing between the
              // probe and this append lands the delta at the
              // pre-rebucket length — correct by the mixed-length
              // serving discipline (ledger cell names carry their own
              // length).
              val acceptedBandRows = probeRows
                .join(accepted.select(col("doc_id").as("probe_id")),
                  Seq("probe_id"), "left_semi")
                .select(col("probe_id").as("doc_id"), col("sig"),
                  col("pss").as("ss"), col("band_id"), col("sig_p"))
              graft.ops.Dedup.appendBandRowsToLshIndex(spark, indexDir,
                acceptedBandRows, batchId)
              val bestIndex = dups
                .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
                  .orderBy(col("jac").desc, col("index_id"))))
                .filter(col("rn") === 1)
                .select(col("probe_id").as("doc_id"),
                  col("index_id").as("dup_of"), round(col("jac"), 6).as("jac"))
              val best = inBatchDups.fold(bestIndex)(bestIndex.unionByName(_))
              // distinct BEFORE the join: a batch carrying the same
              // doc_id twice with an identical fingerprint keeps both
              // rows through the survivor semi-join (keep is keyed on
              // fp, not doc_id), and the decision log's contract — the
              // soak invariants assume it — is ONE row per unique doc.
              // Ids-only exchange, micro-batch-bounded.
              uniq.select("doc_id").distinct()
                .join(best, Seq("doc_id"), "left")
                .write.mode("overwrite").parquet(s"$outDir/b$batchId")
              // claim the delta axis (monotonic): from here on a
              // direct out-of-axis deleteFromLshIndex OR
              // appendToLshIndex rejects loudly — changes route
              // through dedupIngestCdc's feed or sit at/below the
              // claimed id
              graft.GenLifecycle.writeStreamAxis(spark, indexDir, batchId)
            } finally releaseFlagged()
          } finally releasePairs()
        } finally { fresh.unpersist(); () }
      } finally { dups.unpersist(); releaseProbe() }
    } finally { uniq.unpersist(); () }
  }

  /** CDC-DRIVEN dedup ingest — the STREAM-DRIVEN TAKEDOWN arc
    * (reference analog: CDC `delete` ops flowing through the
    * pipeline, `app/dwd/BaseDbApp.java:43`): one change stream
    * carries BOTH document arrivals and deletion orders, so the
    * takedown rides the index's single sequential-writer axis by
    * construction instead of by caller discipline. `changes` =
    * `(op, doc_id, text, …)` in the CDC envelope's type vocabulary
    * (`delete` rows need only the key; `insert`/`update`/`read` rows
    * are documents to ingest — the shape `Cdc.fromDebezium` output
    * maps onto 1:1).
    *
    * Per micro-batch, in writer order: (1) the delete ops tombstone
    * the index AT THE BATCH'S OWN id
    * ([[graft.ops.Dedup.deleteFromLshIndexUnchecked]] — within one id
    * the tombstone sorts before the data, so the takedown kills the
    * base + every lower-id delta while THIS batch's accepted docs
    * survive: a delete+re-add arriving together behaves exactly like
    * the reference's CDC upsert); (2) the document rows run the
    * standard [[dedupIngestBatch]] probe+self-check+append at the
    * same id — the probe already subtracts tombstones at or below its
    * own batch, so a doc matching ONLY takedown victims is accepted
    * from this very batch. Replay is idempotent end to end: the
    * Spark checkpoint re-delivers the identical change batch, and
    * tombstone, delta and decision-log writes are all batchId-keyed
    * overwrites (StreamingSpec pins replay-identical decisions). */
  def dedupIngestCdc(changes: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.4): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        dedupIngestCdcBatch(batch.toDF(), indexDir, outDir, batchId, threshold)
    }

  private[graft] def dedupIngestCdcBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, threshold: Double): Unit =
    lshIngestCdcBatch(batch, indexDir, batchId)(adds =>
      dedupIngestBatch(adds, indexDir, outDir, batchId, threshold))

  /** The modality-agnostic CDC-envelope skeleton both LSH ingest
    * families share: delete ops tombstone FIRST at the batch's own id
    * (within one id the tombstone sorts before the data — a
    * delete+re-add arriving together is a CDC upsert), the non-delete
    * rows run the modality's ingest at the same id, and the axis is
    * claimed even on delete-only batches (the ingest does it itself on
    * the add path; writeStreamAxis is monotonic).
    *
    * The micro-batch is PERSISTED for the whole slot: a file/Kafka-
    * backed batch re-reads its source on every action, and this
    * skeleton's guards plus the ingest core's own scans (its isEmpty,
    * the digest groupBy, the survivor semi-join) added up to five
    * source re-reads per micro-batch — pure control-plane tax on
    * families measured per-batch-overhead-bound. One job (a cached
    * two-way conditional count) now decides both empty branches, and
    * every downstream scan reads the cache; unpersist only after the
    * axis write lands. */
  private def lshIngestCdcBatch(batch: DataFrame, indexDir: String,
      batchId: Long)(ingestAdds: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val cached = batch.persist()
    try {
      val counts = cached.agg(
        count(when(col("op") === "delete", 1)).as("n_dels"),
        count(when(col("op") =!= "delete", 1)).as("n_adds")).head()
      val (nDels, nAdds) = (counts.getLong(0), counts.getLong(1))
      if (nDels > 0)
        graft.ops.Dedup.deleteFromLshIndexUnchecked(spark, indexDir,
          cached.filter(col("op") === "delete").select("doc_id"), batchId)
      if (nAdds > 0)
        ingestAdds(cached.filter(col("op") =!= "delete").drop("op"))
      // an entirely empty batch claims no axis (the pre-cache
      // behavior); null-op rows count in neither branch, exactly as
      // the two filters would route them
      if (nDels > 0 || nAdds > 0)
        graft.GenLifecycle.writeStreamAxis(spark, indexDir, batchId)
    } finally { cached.unpersist(); () }
  }

  /** MULTIMODAL dedup-at-ingest — [[dedupIngest]] for a binary-media
    * stream `(doc_id, payload, …)`: per micro-batch, (1) exact
    * within-batch dedup by payload digest (byte-identical replicas
    * collapse, min doc_id survives); (2) the batch's byte 8-grams
    * ([[graft.ops.Multimodal.payloadGrams]] — map-side, the payload
    * never crosses an exchange) probe the persisted gram index
    * ([[graft.ops.Dedup.persistLshIndexElems]]) below this batch;
    * (3) within-batch near-dup families among the fresh payloads
    * (same union-find/distributed-fallback machinery); (4) accepted
    * docs' band rows append as the batch's delta; (5) decision log in
    * `outDir/b<batchId>`. IDENTICAL index format to the text family,
    * so tombstone deletes, folds, re-bucketing and the maintenance
    * autopilot apply unchanged — the serving story the batch query
    * `mm_near_dup_against_index` oracle-checks. No short-doc exact
    * fallback: a payload whose body is under 8 bytes has no gram to
    * match on (the modality's analog of a zero-token doc). */
  def mmDedupIngest(media: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mmDedupIngestBatch(batch.toDF(), indexDir, outDir, batchId, threshold)
    }

  private[graft] def mmDedupIngestBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, threshold: Double,
      pairsDriverCap: Long = graft.ops.Dedup.inBatchPairsDriverCap): Unit =
    dedupIngestBatchCore(batch, indexDir, outDir, batchId,
      md5(col("payload")),
      uniq => graft.ops.Dedup.nearDupCheckElemsWithProbe(
        batch.sparkSession, indexDir,
        graft.ops.Multimodal.payloadGrams(uniq), threshold,
        belowBatch = batchId, broadcastProbe = true,
        twoStage = None),
      threshold, pairsDriverCap)

  /** [[dedupIngestCdc]] for the binary-media modality — one change
    * stream `(op, doc_id, payload, …)` carries media arrivals AND
    * deletion orders through [[lshIngestCdcBatch]]'s shared protocol
    * over [[mmDedupIngestBatch]]: takedowns tombstone the gram index
    * at the batch's own id inside the sequential-writer slot, a
    * payload matching ONLY takedown victims is accepted from that
    * very batch, replay is batchId-keyed overwrite end to end. The
    * text and media families now carry the identical enforced
    * stream-driven takedown arc. */
  def mmDedupIngestCdc(changes: DataFrame, indexDir: String, outDir: String,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mmDedupIngestCdcBatch(batch.toDF(), indexDir, outDir, batchId, threshold)
    }

  private[graft] def mmDedupIngestCdcBatch(batch: DataFrame, indexDir: String,
      outDir: String, batchId: Long, threshold: Double): Unit =
    lshIngestCdcBatch(batch, indexDir, batchId)(adds =>
      mmDedupIngestBatch(adds, indexDir, outDir, batchId, threshold))

  /** Union of batch-result directories under an explicit schema —
    * NEVER inferred: a batch whose result was empty (all probed cells
    * missing, or an all-clean decontamination batch) writes only
    * `_SUCCESS`, and schema inference over file-less directories
    * throws instead of returning zero rows. */
  private def batchResults(spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val dirs = graft.GenLifecycle.versionIds(spark, outDir, "b",
        gated = false)
      .map(id => s"$outDir/b$id")
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schema).parquet(dirs: _*))
  }

  /** Union of every served batch's results (None if no batch landed
    * yet; a batch that served zero hits contributes zero rows). */
  def annResults(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Option[DataFrame] =
    batchResults(spark, outDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, vec_id BIGINT, cos_sim DOUBLE"))

  /** The eval-set contamination index the streaming leg probes: the
    * pinned distinct eval shingle relation (the exact-verify side) and
    * its bloom filter bytes (the map-side prefilter literal; None for
    * an empty eval set). Built ONCE per stream
    * ([[buildEvalContamIndex]]) — the 100 TB contract is that the eval
    * side is benchmark-sized and amortized across the stream's whole
    * lifetime, while each micro-batch pays only its own shingling plus
    * a map-side hash probe. */
  private[graft] final case class EvalContamIndex(evalShingles: DataFrame,
      bloom: Option[Array[Byte]])

  private[graft] def buildEvalContamIndex(evalDocs: DataFrame): EvalContamIndex = {
    val sh = graft.Materialize(graft.ops.PipelineOps.shingleHashes(evalDocs))
    EvalContamIndex(sh, graft.ops.PipelineOps.shingleBloom(sh))
  }

  /** One micro-batch of the streaming decontamination: shingle the
    * batch, bloom-prefilter train-side rows map-side (no false
    * negatives ⇒ prefilter + exact verify ≡ the exact overlap), exact
    * broadcast-join verify against the pinned eval shingles, and land
    * one `(train_doc, n_shingles, n_eval_docs)` row per contaminated
    * doc in `outDir/b<batchId>` (overwrite — a replayed batch rewrites
    * its own output, the [[ExactlyOnceSink]] idempotence contract). A
    * clean batch writes an empty (schema-stable) result. */
  private[graft] def decontaminateBatch(idx: EvalContamIndex,
      batch: DataFrame, outDir: String, batchId: Long): Unit = {
    val sh = graft.ops.PipelineOps.shingleHashes(batch).as("t")
    val pre = idx.bloom match {
      case Some(b) =>
        sh.filter(graft.ops.PipelineOps.bloomMightContain(b, col("t.h")))
      case None => sh.filter(lit(false)) // empty eval set: nothing matches
    }
    pre
      .join(broadcast(idx.evalShingles.as("e")), col("t.h") === col("e.h"))
      .groupBy(col("t.doc_id").as("train_doc"))
      .agg(
        countDistinct(col("t.h")).as("n_shingles"),
        countDistinct(col("e.doc_id")).as("n_eval_docs"))
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")
  }

  /** Streaming eval-set decontamination — the streaming leg of
    * `decontaminate_bloom` (previously the one prep-chain op with
    * none): the eval bloom + shingle relation are built once at stream
    * construction, then every micro-batch of training documents is
    * checked by [[decontaminateBatch]]. Read the union of decisions
    * with [[decontaminationResults]]. */
  def decontaminateIngest(docs: DataFrame, evalDocs: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val idx = buildEvalContamIndex(evalDocs)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) decontaminateBatch(idx, batch.toDF(), outDir, batchId)
    }
  }

  /** Union of every decontamination batch's flagged docs (None if no
    * batch has landed yet; an all-clean batch contributes zero rows —
    * the common case, which must not crash the reader). */
  def decontaminationResults(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Option[DataFrame] =
    batchResults(spark, outDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "train_doc BIGINT, n_shingles BIGINT, n_eval_docs BIGINT"))

  /** Pinned eval side of the SEMANTIC decontamination stream: the
    * normed benchmark embeddings, materialized once at stream
    * construction and read twice per micro-batch (band rows + exact
    * verify) — the same amortize-the-eval-side contract as
    * [[EvalContamIndex]]. */
  private[graft] final case class EvalSemIndex(evalVecs: DataFrame)

  private[graft] def buildEvalSemIndex(evalVecs: DataFrame): EvalSemIndex =
    EvalSemIndex(graft.Materialize(
      graft.ops.PipelineOps.normedVecs(evalVecs)))

  /** One micro-batch of the streaming semantic decontamination — the
    * shared [[graft.ops.PipelineOps.semContamPairs]] chain (OR-amplified
    * 4-band sign-LSH candidates, exact-cosine verify), landing one
    * `(train_vec, eval_vec, cos_sim)` row per contaminated pair in
    * `outDir/b<batchId>` (overwrite — a replayed batch rewrites its own
    * output, the [[ExactlyOnceSink]] idempotence contract). A clean
    * batch writes an empty schema-stable result. */
  private[graft] def decontaminateEmbeddingBatch(idx: EvalSemIndex,
      batch: DataFrame, outDir: String, batchId: Long, minCos: Double): Unit =
    graft.ops.PipelineOps.semContamPairs(batch, idx.evalVecs, minCos)
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")

  /** Streaming SEMANTIC eval-set decontamination — the streaming leg of
    * `decontaminate_embedding` (paraphrase contamination the shingle
    * stream cannot see): the eval embeddings are normed and pinned once
    * at stream construction, then every micro-batch of training vectors
    * `(vec_id, embedding)` runs the shared band-candidate + exact-cosine
    * chain. Read the union of decisions with
    * [[semDecontaminationResults]]. */
  def decontaminateEmbeddingIngest(vecs: DataFrame, evalVecs: DataFrame,
      outDir: String,
      minCos: Double = 0.30): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val idx = buildEvalSemIndex(evalVecs)
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          decontaminateEmbeddingBatch(idx, batch.toDF(), outDir, batchId, minCos)
    }
  }

  /** Streaming semantic decontamination against the PERSISTED eval
    * index ([[graft.ops.PipelineOps.persistEvalSemIndex]]) — the
    * shareable form of [[decontaminateEmbeddingIngest]]: the eval
    * artifact lives on disk under a GenManifest, so (1) many
    * concurrent streams and stream RESTARTS share one published
    * benchmark instead of each re-norming and pinning its own copy,
    * and (2) an eval-set update (`updateEvalSemIndex`) is one atomic
    * manifest swap that every stream picks up at its next micro-batch
    * — each batch resolves the manifest (O(1)) and reads the
    * benchmark-sized band + vector relations onto broadcasts; a torn
    * publish is invisible by the manifest protocol. Decisions are
    * identical to the in-memory form on the same eval set (the shared
    * `semContamPairsPre` chain; StreamingSpec pins parity and the
    * mid-stream swap). Same output/replay contract as the in-memory
    * leg: `(train_vec, eval_vec, cos_sim)` per confirmed pair in
    * `outDir/b<batchId>`, overwrite-idempotent. */
  def decontaminateEmbeddingServe(vecs: DataFrame, indexDir: String,
      outDir: String,
      minCos: Double = 0.30): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val (evBands, evVecs) =
            graft.ops.PipelineOps.resolveEvalSemIndex(spark, indexDir)
          graft.ops.PipelineOps
            .semContamPairsPre(batch.toDF(), evBands, evVecs, minCos)
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
        }
    }

  /** Union of every semantic-decontamination batch's confirmed pairs
    * (None if no batch has landed yet). */
  def semDecontaminationResults(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Option[DataFrame] =
    batchResults(spark, outDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "train_vec BIGINT, eval_vec BIGINT, cos_sim DOUBLE"))
}
