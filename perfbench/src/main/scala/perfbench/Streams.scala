package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** One generated input record (one line of the generator's file). Log
  * records carry a page/start/display event; db records carry a CDC
  * change of `table`. Times are milliseconds relative to the run's send
  * origin. */
final case class In(sendMs: Long, tsMs: Long, spool: String, eventId: Long,
    userId: Long, eventType: String, value: String, table: String,
    op: String, pk: Long, seq: Long, province: String)

object Input {
  def read(path: String): Array[In] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).map { l =>
      val f = l.split("\t", -1)
      In(f(0).toLong, f(1).toLong, f(2), f(3).toLong, f(4).toLong, f(5), f(6),
        f(7), f(8), if (f(9).isEmpty) 0L else f(9).toLong,
        if (f(10).isEmpty) 0L else f(10).toLong, f(11))
    }.toArray
    finally src.close()
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)

  def fmtTs(epochMs: Long): String =
    tsFmt.format(java.time.Instant.ofEpochMilli(epochMs)) + "000"

  /** The raw JSON line the collector receives, stamped at `origin + tsMs`. */
  def json(r: In, origin: Long): String = {
    val ts = fmtTs(origin + r.tsMs)
    if (r.spool == "log")
      s"""{"event_id":${r.eventId},"user_id":${r.userId},"event_type":"${r.eventType}",""" +
        s""""value":${r.value},"ts":"$ts","is_new":1}"""
    else
      s"""{"table":"${r.table}","op":"${r.op}","pk":${r.pk},"seq":${r.seq},""" +
        s""""user_id":${r.userId},"event_id":${r.eventId},"event_type":"${r.table}",""" +
        s""""value":${r.value},"ts":"$ts","is_new":0,"province":"${r.province}"}"""
  }
}

/** The reference topology, one streaming query per layer job, over
  * file topics under `work`. Every call the benchmark makes into a layer
  * (produce, sink commit, dim lookup, collector post) is timed. */
final class Topology(spark: SparkSession, work: String, tracer: Tracer) {
  import spark.implicits._

  val broker = s"$work/broker"
  val logSpool = s"$work/spool_log"
  val dbSpool = s"$work/spool_db"
  val ckpt = s"$work/ckpt"
  val sinkDir = s"$work/sink"
  val dimDir = s"$work/dim"
  val derbyUrl = s"jdbc:derby:$work/derby;create=true"

  /** (sink, batch id, commit end epoch ms) per sink commit. */
  val commits = new ConcurrentLinkedQueue[(String, Long, Double)]()

  private def logRoutes: DataFrame = Seq(
    "view" -> "dwd_page_log", "purchase" -> "dwd_page_log",
    "signup" -> "dwd_start_log", "click" -> "dwd_display_log")
    .toDF("event_type", "sink_table")

  private def dbRoutes: DataFrame = Seq(
    "order_info" -> "dwd_order_info", "order_detail" -> "dwd_order_detail")
    .toDF("event_type", "sink_table")

  private def events(frame: DataFrame): Dataset[Ev] =
    StreamOps.fromKafkaShape(frame).as[Ev]

  private def topic(t: String): DataFrame = FileTopics.readStream(spark, broker, t)

  private def produce(batchId: Long, table: String, df: DataFrame): Unit =
    tracer.span("FileTopics.produce", attrs = Map("topic" -> table, "batch" -> batchId)) { _ =>
      FileTopics.produce(StreamOps.toKafkaShape(df), broker, batchId = Some(batchId))
    }

  private def commitTo(sink: String, df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch { (b: DataFrame, id: Long) =>
      tracer.span("ExactlyOnceSink.commit", attrs = Map("sink" -> sink, "batch" -> id)) { _ =>
        ExactlyOnceSink.commit(b, s"$sinkDir/$sink", id)
      }
      commits.add((sink, id, Clock.nowMs)); ()
    }

  /** Dim lookup against the newest compacted dim version, collected to
    * the Spark driver (the dim table is small). The dim query may swap versions
    * while this reads, so a vanished version is retried. */
  private def withDims(b: DataFrame): DataFrame = {
    var attempt = 0
    while (true) {
      try {
        val dims = StreamOps.latestDimState(spark, dimDir)
          .map(_.select(col("user_id"), col("province")).as[(Long, String)].collect().toSeq)
          .getOrElse(Seq.empty)
        return b.join(dims.toDF("d_user", "province"), col("l_user") === col("d_user"), "left")
          .drop("d_user")
      } catch {
        case _: Exception if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def createProductTable(): Unit = {
    val c = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val s = c.createStatement()
      s.executeUpdate("CREATE TABLE dws_product (stt TIMESTAMP, edt TIMESTAMP, " +
        "user_id BIGINT, pv_ct BIGINT, order_ct BIGINT, order_amount DOUBLE, " +
        "province VARCHAR(32), batch_id BIGINT)")
      s.close()
    } finally c.close()
  }

  def productRows(): Seq[Seq[Any]] = {
    val c = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT stt, edt, user_id, pv_ct, order_ct, order_amount, province, batch_id FROM dws_product")
      val out = Seq.newBuilder[Seq[Any]]
      while (rs.next())
        out += Seq(rs.getTimestamp(1).getTime, rs.getTimestamp(2).getTime, rs.getLong(3),
          rs.getLong(4), rs.getLong(5), rs.getDouble(6), rs.getString(7), rs.getLong(8))
      out.result()
    } finally c.close()
  }

  /** The final dim state as `latestDimState` serves it (tombstoned users
    * left out): (user_id, seq, province) per user. */
  def dimRows(): Seq[Seq[Any]] =
    StreamOps.latestDimState(spark, dimDir).toSeq.flatMap(
      _.select(col("user_id"), col("seq"), col("province")).as[(Long, Long, String)]
        .collect().toSeq.map { case (u, q, p) => Seq(u, q, p) })

  /** A layer query: name, position in reference order, writer. */
  final case class Q(name: String, layer: Int, writer: () => DataStreamWriter[_])

  def queries(withCollector: Boolean, dims: DataFrame): Seq[Q] = {
    val url = derbyUrl
    val connect: () => java.sql.Connection = () => java.sql.DriverManager.getConnection(url)
    val collector = if (!withCollector) Nil else Seq(
      Q("LogCollector.ingestToTopic", 0, () => LogCollector.ingestToTopic(spark, logSpool, broker)),
      Q("LogCollector.ingestToTopic.db", 0,
        () => LogCollector.ingestToTopic(spark, dbSpool, broker, "ods_base_db")))
    collector ++ Seq(
      Q("StreamOps.newUserFixTws", 1, () => StreamOps.dynamicRouteBatched(
        StreamOps.newUserFixTws(events(topic("ods_base_log"))),
        () => logRoutes, produce)),
      Q("StreamOps.dynamicRoute", 1, () => {
        val facts = topic("ods_base_db")
          .filter(get_json_object(col("value"), "$.table").isin("order_info", "order_detail") &&
            get_json_object(col("value"), "$.op") =!= "delete")
        StreamOps.dynamicRouteBatched(events(facts), () => dbRoutes, produce)
      }),
      Q("StreamOps.dimUpsert", 1, () => {
        val v = col("value")
        val dimRows = topic("ods_base_db")
          .filter(get_json_object(v, "$.table") === "user_info")
          .select(get_json_object(v, "$.pk").cast("long").as("pk"),
            get_json_object(v, "$.seq").cast("long").as("seq"),
            get_json_object(v, "$.op").as("op"),
            get_json_object(v, "$.user_id").cast("long").as("user_id"),
            get_json_object(v, "$.province").as("province"))
        StreamOps.dimUpsert(dimRows, dimDir)
      }),
      Q("StreamOps.uvDedupTws", 2, () =>
        commitTo("dwm_unique_visit", StreamOps.uvDedupTws(events(topic("dwd_page_log"))).toDF())),
      Q("Cep.patternTws", 2, () =>
        commitTo("dwm_user_jump", StreamOps.bounceDetectTws(events(topic("dwd_page_log")),
          gapMs = 10000L).toDF())),
      Q("StreamOps.intervalJoin", 2, () => {
        val joined = StreamOps.intervalJoin(events(topic("dwd_order_info")),
          events(topic("dwd_order_detail")))
        joined.writeStream.outputMode("append").foreachBatch { (b: DataFrame, id: Long) =>
          val wide = tracer.span("StreamOps.latestDimState", attrs = Map("batch" -> id)) { _ =>
            withDims(b)
          }
          tracer.span("ExactlyOnceSink.commit", attrs = Map("sink" -> "dwm_order_wide", "batch" -> id)) { _ =>
            ExactlyOnceSink.commit(wide, s"$sinkDir/dwm_order_wide", id)
          }
          commits.add(("dwm_order_wide", id, Clock.nowMs)); ()
        }
      }),
      Q("StreamOps.windowedStats", 3, () =>
        commitTo("dws_visitor", StreamOps.windowedStats(events(topic("dwd_page_log"))))),
      Q("StreamOps.productStats", 3, () => {
        val stats = StreamOps.productStats(events(topic("dwd_page_log")), dims)
        stats.writeStream.outputMode("append").foreachBatch { (b: DataFrame, id: Long) =>
          tracer.span("JdbcBatchSink.writeBatch", attrs = Map("batch" -> id)) { _ =>
            JdbcBatchSink.writeBatch(b.withColumn("batch_id", lit(id)), "dws_product",
              connect, batchSize = 500)
          }
          commits.add(("dws_product", id, Clock.nowMs)); ()
        }
      }))
  }

  def start(q: Q, trigger: Trigger): StreamingQuery =
    q.writer().queryName(q.name)
      .option("checkpointLocation", s"$ckpt/${q.name}")
      .trigger(trigger).start()

  /** The initial dim snapshot productStats enriches with (the static
    * side of its stream-static join). */
  def initialDims(in: Array[In]): DataFrame =
    in.filter(r => r.table == "user_info" && r.op == "insert")
      .map(r => (r.userId, r.province)).toSeq.toDF("user_id", "province")

  /** Produce the whole input into the ODS topics (batch producer). */
  def preProduce(in: Array[In], origin: Long): Unit = {
    val rows = in.toSeq.map { r =>
      (if (r.spool == "log") "ods_base_log" else "ods_base_db", r.userId.toString,
        Input.json(r, origin))
    }
    FileTopics.produce(rows.toDF("topic", "key", "value"), broker)
  }

  def progress(qs: Seq[StreamingQuery]): Seq[Map[String, Any]] =
    qs.flatMap(_.recentProgress.toSeq.map(Progress.record))

  def endOffsets(t: String): Long = FileTopics.endOffsets(spark, broker, t).values.sum

  def topicRecords: Map[String, Long] = Seq("ods_base_log", "ods_base_db", "dwd_page_log",
    "dwd_start_log", "dwd_display_log", "dwd_order_info", "dwd_order_detail")
    .map(t => t -> endOffsets(t)).toMap
}

/** Open-loop sender: posts each record at `origin + sendMs` on one
  * thread and never waits for the system. Records how late it ran. */
final class Generator(in: Array[In], origin: Long, topo: Topology, tracer: Tracer)
    extends Thread("perfbench-generator") {
  val lateMs = new Array[Double](in.length)
  val postMs = new Array[Double](in.length)
  @volatile var sent = 0

  override def run(): Unit = {
    var i = 0
    while (i < in.length) {
      val r = in(i)
      val due = origin + r.sendMs
      var now = Clock.nowMs
      while (now < due) {
        LockSupport.parkNanos(((due - now) * 1e6).toLong.max(50000L))
        now = Clock.nowMs
      }
      lateMs(i) = now - due
      val spool = if (r.spool == "log") topo.logSpool else topo.dbSpool
      val line = Input.json(r, origin)
      tracer.span("LogCollector.post") { _ => LogCollector.post(spool, line) }
      postMs(i) = Clock.nowMs - now
      i += 1
      sent = i
    }
  }
}

object Streams {
  private val CatchUpTimeoutMs = 60000

  /** Wait until `sq` has caught up with input that was complete at
    * `since`: a trigger after `since` found no new data and no batch is
    * running (or the query ended). Spark's input-row counts cannot tell
    * this: a foreachBatch sink that reads its batch twice counts its rows
    * twice. A transformWithState query on processing time keeps running
    * no-data batches and never ends under AvailableNow, so this, not
    * termination, is the end of its drain. A processing-time trigger
    * fires at the next whole multiple of its interval, so that is the
    * first trigger after `since`. */
  private def catchUp(sq: StreamingQuery, since: Double, triggerMs: Long): Option[String] = {
    val nextTrigger = if (triggerMs > 0) (since.toLong / triggerMs + 1) * triggerMs else since
    val earliest = nextTrigger + 200
    val deadline = Clock.nowMs + CatchUpTimeoutMs
    def done = Clock.nowMs >= earliest && sq.recentProgress.nonEmpty && {
      val st = sq.status
      !st.isTriggerActive && !st.isDataAvailable
    }
    while (sq.isActive && !done && Clock.nowMs < deadline) Thread.sleep(20)
    sq.exception.map(e => s"${sq.name}: failed: ${e.getMessage.take(300)}")
      .orElse(if (!sq.isActive || done) None
        else Some(s"${sq.name}: still behind ${CatchUpTimeoutMs / 1000} s after its input ended"))
  }

  private def commitRecords(topo: Topology): Seq[Map[String, Any]] =
    topo.commits.asScala.toSeq.map { case (s, b, t) =>
      Map("sink" -> s, "batch" -> b, "end_ms" -> t)
    }

  /** stream_steady: all layer queries run concurrently while the
    * generator posts the input on its schedule. */
  def steady(spark: SparkSession, work: String, in: Array[In], warmMs: Long,
      measureMs: Long, triggerMs: Long, tracer: Tracer): Map[String, Any] = {
    val topo = new Topology(spark, work, tracer)
    topo.createProductTable()
    val dims = topo.initialDims(in).localCheckpoint(eager = true)
    val qs = tracer.span("topology.start") { _ =>
      topo.queries(withCollector = true, dims)
        .map(q => q -> topo.start(q, Trigger.ProcessingTime(triggerMs)))
    }
    // Spark fires processing-time triggers at whole multiples of the
    // interval, so a send origin on that grid puts the timed input at the
    // same point of every layer's micro-batch cycle in every run. The
    // origin is one interval before the first trigger after start-up: the
    // warm-up input already due then is posted at once, and the collector's
    // first trigger takes all of it, without waiting for the grid.
    val ready = Clock.nowMs.toLong + 1000
    val origin = (ready + triggerMs - 1) / triggerMs * triggerMs - triggerMs
    val gen = new Generator(in, origin, topo, tracer)
    gen.start()
    gen.join()
    val odsRows = topo.endOffsets("ods_base_log") + topo.endOffsets("ods_base_db")
    val posted = gen.sent
    // flush what was posted through every layer, in reference order (DWM
    // and DWS both read DWD, so they catch up together); a layer's input
    // ended when the last batch of the layer before it did
    var inputEnded = Clock.nowMs
    val behind = qs.groupBy(_._1.layer.min(2)).toSeq.sortBy(_._1).flatMap { case (_, layer) =>
      val late = layer.flatMap { case (_, sq) => catchUp(sq, inputEnded, triggerMs) }
      inputEnded = layer.flatMap { case (_, sq) => Option(sq.lastProgress) }
        .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
        .foldLeft(0.0)(_ max _)
      late
    }
    val flushedMs = Clock.nowMs
    qs.foreach(_._2.stop())
    // set-up is start-up plus the whole warm-up, wherever the grid fell
    Map("origin_ms" -> origin, "setup_end_ms" -> (ready + warmMs),
      "timed_start_ms" -> (origin + warmMs),
      "timed_end_ms" -> (origin + warmMs + measureMs), "flushed_ms" -> flushedMs,
      "posted" -> posted, "ods_lag_end" -> (posted - odsRows), "behind" -> behind,
      "gen_late_ms" -> in.indices.filter(in(_).sendMs >= warmMs).map(gen.lateMs(_)), "post_ms" -> gen.postMs.toSeq,
      "commits" -> commitRecords(topo), "progress" -> topo.progress(qs.map(_._2)),
      "product_rows" -> topo.productRows(), "dim_rows" -> topo.dimRows(),
      "sink_dir" -> topo.sinkDir, "topic_records" -> topo.topicRecords,
      "broker_dir" -> topo.broker)
  }

  /** Produce `input` into the ODS topics under `dir`, then drain every
    * layer with Trigger.AvailableNow in reference order. Returns the
    * topology, its queries and the epoch ms the first layer started. */
  private def drainOnce(spark: SparkSession, dir: String, input: Array[In], origin: Long,
      t: Tracer): (Topology, Seq[StreamingQuery], Double, Seq[String]) = {
    val topo = new Topology(spark, dir, t)
    topo.createProductTable()
    val dims = topo.initialDims(input).localCheckpoint(eager = true)
    topo.preProduce(input, origin)
    val start = Clock.nowMs
    val behind = Seq.newBuilder[String]
    val all = topo.queries(withCollector = false, dims).groupBy(_.layer).toSeq.sortBy(_._1)
      .flatMap { case (layer, qs) =>
        t.span(s"layer.$layer") { _ =>
          val layerStart = Clock.nowMs
          val started = qs.map(q => topo.start(q, Trigger.AvailableNow()))
          started.foreach(sq => behind ++= catchUp(sq, layerStart, 0L))
          started.foreach(_.stop())
          started
        }
      }
    (topo, all, start, behind.result())
  }

  /** stream_drain: the whole input is produced into the ODS topics
    * before the clock starts; each layer then drains with
    * Trigger.AvailableNow in reference order. An untimed drain of a small
    * separate input runs first, so class loading, code generation and
    * state-store start-up are paid before the clock starts. */
  def drain(spark: SparkSession, work: String, in: Array[In], warm: Array[In],
      origin: Long, tracer: Tracer): Map[String, Any] = {
    tracer.span("warmup") { _ =>
      drainOnce(spark, s"$work/warm", warm, origin, new Tracer(false, "warm"))
    }
    val (topo, qs, start, behind) = drainOnce(spark, s"$work/main", in, origin, tracer)
    Map("origin_ms" -> origin, "timed_start_ms" -> start, "flushed_ms" -> Clock.nowMs,
      "behind" -> behind,
      "commits" -> commitRecords(topo), "progress" -> topo.progress(qs),
      "topic_records" -> topo.topicRecords, "posted" -> in.length,
      "product_rows" -> topo.productRows(), "dim_rows" -> topo.dimRows(),
      "sink_dir" -> topo.sinkDir, "broker_dir" -> topo.broker)
  }
}
