package graft

import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming forms must agree with their batch analogs on real
  * data — the backfill/replay contract: one logic, two execution modes.
  */
class ParitySpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def realEvents: Seq[Ev] =
    graft.ops.Tables.events(spark, sf("sf0.001"))
      .withColumn("is_new", lit(1))
      .select("user_id", "event_id", "ts", "event_type", "value", "is_new")
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))

  test("streaming uvDedup equals the batch first-per-day analog on sf0.001") {
    val events = realEvents
    val in = MemoryStream[Ev]
    val q = StreamOps.uvDedupTws(in.toDS(), ttl = None)
      .writeStream.format("memory").queryName("parity_uv").outputMode("append").start()
    // feed in two chronological batches (state must carry across)
    val (b1, b2) = events.splitAt(events.size / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    val streaming = spark.table("parity_uv").as[Ev].collect()
      .map(e => (e.user_id, e.event_id)).toSet
    q.stop()
    val batch = SparkEntry.queries("t2_uv_dedup")(spark, sf("sf0.001"))
      .select(col("user_id"), col("first_event_id"))
      .as[(Long, Long)].collect().toSet
    assert(streaming === batch)
  }

  test("streaming exact windowed distinct equals batch count(distinct) on sf0.001") {
    import java.sql.Timestamp
    val events = realEvents
    val in = MemoryStream[Ev]
    val q = StreamOps.windowedExactDistinct(in.toDS(), 3600L, 7200L)
      .writeStream.format("memory").queryName("parity_dist").outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    // close every real window: sentinels far past the data, fed twice
    // so the advanced watermark's timers actually fire
    val maxTs = events.map(_.ts.getTime).max
    val horizon = maxTs + 2L * 86400 * 1000
    in.addData(Ev(999999L, 999999L, new Timestamp(horizon), "view", 0.0, 1))
    q.processAllAvailable()
    in.addData(Ev(999999L, 999998L, new Timestamp(horizon + 1000), "view", 0.0, 1))
    q.processAllAvailable()
    val streaming = spark.table("parity_dist")
      .filter(col("stt") < new Timestamp(maxTs + 86400 * 1000)) // drop sentinel windows
      .select(col("stt"), col("event_type"), col("distinct_users"))
      .as[(Timestamp, String, Long)].collect().toSet
    q.stop()
    val batch = events.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("d"))
      .select(col("window.start"), col("event_type"), col("d"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(streaming === batch)
  }

  test("streaming sessionStats equals batch session_window on sf0.001") {
    import java.sql.Timestamp
    val events = realEvents
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionStats(in.toDS())
      .writeStream.format("memory").queryName("parity_sess").outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    // close every real session: sentinels far past the data, fed twice
    // so the advanced watermark's timers actually fire
    val maxTs = events.map(_.ts.getTime).max
    val horizon = maxTs + 2L * 86400 * 1000
    in.addData(Ev(999999L, 999999L, new Timestamp(horizon), "view", 0.0, 1))
    q.processAllAvailable()
    in.addData(Ev(999999L, 999998L, new Timestamp(horizon + 1000), "view", 0.0, 1))
    q.processAllAvailable()
    val streaming = spark.table("parity_sess")
      .filter(col("user_id") =!= 999999L) // drop sentinel sessions
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    q.stop()
    val batch = events.toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("session_window.start"), col("session_window.end"),
        col("n_events"), col("total_value"))
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(streaming === batch)
  }

  test("streaming newUserFix equals the batch row_number analog on sf0.001") {
    val events = realEvents
    val in = MemoryStream[Ev]
    val q = StreamOps.newUserFixTws(in.toDS())
      .writeStream.format("memory").queryName("parity_nu").outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    val streaming = spark.table("parity_nu").as[Ev].collect()
      .map(e => (e.event_id, e.is_new)).toMap
    q.stop()
    val batch = SparkEntry.queries("t1_new_user_fix")(spark, sf("sf0.001"))
      .select(col("event_id"), col("is_new"))
      .as[(Long, Long)].collect().toMap
    assert(streaming.view.mapValues(_.toLong).toMap === batch)
  }

  test("streaming bounceDetectTws equals the batch t3_bounce_detect on sf0.001") {
    import java.sql.Timestamp
    val events = realEvents
    val in = MemoryStream[Ev]
    val q = StreamOps.bounceDetectTws(in.toDS())
      .writeStream.format("memory").queryName("parity_bounce").outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    // release every buffered event and expire every open run: sentinels
    // far past the data on an unused user, fed twice so the advanced
    // watermark's timers actually fire
    val horizon = events.map(_.ts.getTime).max + 2L * 86400 * 1000
    in.addData(Ev(999999L, 999999L, new Timestamp(horizon), "click", 0.0, 1))
    q.processAllAvailable()
    in.addData(Ev(999999L, 999998L, new Timestamp(horizon + 1000), "click", 0.0, 1))
    q.processAllAvailable()
    val streaming = spark.table("parity_bounce").as[Ev].collect()
      .filter(_.user_id != 999999L) // drop sentinels
      .map(e => (e.user_id, e.event_id)).toSet
    q.stop()
    val batch = SparkEntry.queries("t3_bounce_detect")(spark, sf("sf0.001"))
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(streaming === batch)
  }

  test("statsMerge over chunked real data equals direct batch aggregation") {
    val events = realEvents
    val stateDir = java.nio.file.Files.createTempDirectory("stats-parity").toString
    val in = MemoryStream[Ev]
    val q = StreamOps.statsMerge(in.toDS(), stateDir).start()
    // three chronological micro-batches — the merged stats table must
    // not depend on where the batch boundaries fall
    val third = events.size / 3
    in.addData(events.take(third)); q.processAllAvailable()
    in.addData(events.slice(third, 2 * third)); q.processAllAvailable()
    in.addData(events.drop(2 * third)); q.processAllAvailable()
    q.stop()
    val streaming = StreamOps.latestStatsState(spark, stateDir).get
      .select(col("event_type"), col("n_events"), col("total_value").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val batch = events.toDF()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("tv"))
      .as[(String, Long, Double)].collect().toSet
    assert(streaming === batch)
  }

  test("row-local model gate equals the broadcast-join model query on real docs") {
    // two physical forms of the same linear scorer: the oracle-checked
    // explode → broadcast-join → groupBy query (big-vocab scale form)
    // vs the shuffle-free map-literal aggregate() fold (the form that
    // drops into a streaming plan stateless). Keep decisions must be
    // identical document for document.
    val dir = sf("sf0.01")
    val batchKeep = SparkEntry.queries("text_quality_model")(spark, dir)
      .select(col("doc_id"), col("keep")).as[(Long, Boolean)].collect().toMap
    val rowLocal = graft.ops.Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ops.TextOps.modelKeepExpr(col("text")).as("keep"))
      .as[(Long, Boolean)].collect().toMap
    assert(rowLocal.size === batchKeep.size)
    assert(rowLocal === batchKeep)
  }

  test("row-local model gate runs stateless in an append-mode stream") {
    // no watermark, no state store: the gate must pass the unsupported-
    // operation check and emit per-row keep flags across micro-batches
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .withColumn("keep", graft.ops.TextOps.modelKeepExpr(col("text")))
      .writeStream.format("memory").queryName("parity_model_gate")
      .outputMode("append").start()
    in.addData((1L, "spark join data table"), (2L, "slow slow the a"))
    q.processAllAvailable()
    in.addData((3L, "window stream vector"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("parity_model_gate")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("events NTZ seam: loader type + epoch/format semantics match DuckDB CAST") {
    // The cross-engine contract at the Tables.events seam: whatever the
    // on-disk layout (INT64 nanos rounds 1-4, TIMESTAMP(MICROS) NTZ
    // round 5+), the normalized ts must be session-TZ TimestampType
    // under the pinned-UTC session, and epoch/format must FLOOR exactly
    // like DuckDB's CAST(ts AS TIMESTAMP)+epoch()/strftime(). Expected
    // values are computed independently with java.time, not via Spark's
    // own cast path.
    import java.time.{LocalDateTime, ZoneOffset}
    import java.time.format.DateTimeFormatter
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val dir = sf("sf0.001")
    assert(graft.ops.Tables.events(spark, dir).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)

    val raw = graft.ops.Tables.eventsRaw(spark, dir)
      .select("event_id", "ts").orderBy("event_id").limit(5).collect()
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val expected = raw.map { r =>
      val id = r.getLong(0)
      val (epochSec, str) = r.get(1) match {
        case nanos: java.lang.Long => // legacy layout: floor ns -> s
          val s = Math.floorDiv(nanos, 1000000000L)
          (s, LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC).format(fmt))
        case ldt: LocalDateTime => // NTZ: wall-clock IS the UTC instant
          (ldt.toEpochSecond(ZoneOffset.UTC), ldt.format(fmt))
        case t: java.sql.Timestamp => // micros scanned natively as TZ type
          val s = Math.floorDiv(t.getTime, 1000L)
          (s, LocalDateTime.ofEpochSecond(s, 0, ZoneOffset.UTC).format(fmt))
        case other => fail(s"unexpected raw ts ${other.getClass}")
      }
      id -> ((epochSec, str))
    }.toMap

    val got = SparkEntry.queries("f_scalar_datetime")(spark, dir)
      .select("event_id", "epoch_sec", "ts_str")
      .filter(col("event_id").isin(expected.keys.toSeq: _*))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got === expected)
  }
}
