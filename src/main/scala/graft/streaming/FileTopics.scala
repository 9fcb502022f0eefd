package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partitioned file-topic emulation of the reference's Kafka layer
  * contract (`gmall-realtime/.../utils/MyKafkaUtils.java:44-65`:
  * subscribe by topic, `auto.offset.reset` earliest/latest, replay
  * from a committed offset, per-partition ordering; producer side
  * `:24-40` — fixed-topic and dynamic-topic variants). The environment
  * ships no Kafka broker or connector jar, so the broker is a
  * directory tree: `brokerDir/<topic>/partition=<p>/part-*.parquet`,
  * one record schema `(offset, key, value)` + the `partition`
  * directory column — the same five observable fields Spark's real
  * kafka source exposes, so swapping `format("kafka")` back in is a
  * one-line change per sink/source.
  *
  * Semantics matched to Kafka:
  *   - records are routed to a partition by `hash(key) % n` (the
  *     default partitioner's key-hash contract: same key → same
  *     partition → total order per key);
  *   - offsets are dense and monotonically increasing PER PARTITION,
  *     assigned at produce time and never rewritten;
  *   - a consumer reading `earliest` sees every record; `latest` sees
  *     only records produced after subscribing; `from(offsets)`
  *     replays everything at-or-after the given per-partition offsets
  *     (the group-commit resume path);
  *   - the streaming consumer is Spark's file source over the topic
  *     directory — its checkpoint tracks consumed files, giving the
  *     same no-loss/no-duplication restart contract as the kafka
  *     source's offset tracking.
  *
  * Single-writer per topic (the reference runs one Flink producer per
  * sink); a real deployment replaces this object with
  * `format("kafka")`, nothing else changes shape. */
object FileTopics {

  val recordSchema: StructType = StructType(Seq(
    StructField("offset", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true),
    StructField("partition", IntegerType, nullable = false)))

  private def topicDir(brokerDir: String, topic: String) = s"$brokerDir/$topic"

  // all control-plane I/O (topic listing, ledger read/swap, orphan
  // deletion, auto-create) goes through the Hadoop FileSystem seam
  // (graft.IndexFs) — a shared-NFS/HDFS spool deployment of the
  // file-topic transport serves identically to the local file: scheme,
  // the same migration the index layer got in round 7
  private def topicExists(spark: SparkSession, brokerDir: String, topic: String): Boolean =
    graft.IndexFs.isDir(spark, topicDir(brokerDir, topic))

  /** Partitions per topic. Records route by `hash(key) % nPartitions`,
    * which fixes per-key order across produces — a property of the
    * topic's layout, never a per-call choice. */
  val nPartitions = 4

  /** Next offset to be assigned per partition (= Kafka's log-end
    * offset), served from the producer-maintained `_offsets.json`
    * ledger (O(1), the broker's index analog) — scanning the whole log
    * per produce would make cumulative producer I/O quadratic in topic
    * size. Missing partitions are implicitly at 0; a topic nothing was
    * produced to reads as empty. */
  def endOffsets(spark: SparkSession, brokerDir: String, topic: String): Map[Int, Long] =
    readLedger(spark, brokerDir, topic).map(_.cur).getOrElse(Map.empty)

  private def ledgerPath(brokerDir: String, topic: String): String =
    s"${topicDir(brokerDir, topic)}/_offsets.json"

  /** The producer's commit record: `cur` = committed log-end offsets;
    * `batch`/`pre` = the last streaming batchId absorbed and the
    * offsets BEFORE its append — what a replay of that same batchId
    * must restore to (producer-side exactly-once). */
  private[streaming] final case class Ledger(batch: Option[Long],
      pre: Map[Int, Long], cur: Map[Int, Long])

  private def parseOffsets(s: String): Map[Int, Long] =
    s.split(",").filter(_.nonEmpty)
      .map { kv => val Array(p, o) = kv.split(":"); p.toInt -> o.toLong }
      .toMap

  /** The sidecar is a tiny text record (`batch=`, `pre=`, `cur=`
    * lines), swapped atomically ([[graft.IndexFs.writeUtf8Atomic]] —
    * fsync'd tmp + atomic rename) by the single writer after each
    * append. None = nothing was ever produced to the topic. The
    * producer commits a ledger before its first append, so a topic
    * holding `partition=` data without one has lost its commit record
    * and fails loudly instead of reading as empty. */
  private[streaming] def readLedger(spark: SparkSession, brokerDir: String,
      topic: String): Option[Ledger] = {
    val path = ledgerPath(brokerDir, topic)
    if (!graft.IndexFs.exists(spark, path)) {
      if (graft.IndexFs.listNames(spark, topicDir(brokerDir, topic),
          "partition=.*").nonEmpty)
        throw new IllegalStateException(
          s"missing $path: topic $topic holds partition data but no offset ledger")
      None
    } else {
      val lines = graft.IndexFs.readUtf8(spark, path)
        .linesIterator.filter(_.nonEmpty).toSeq
      def field(k: String): Option[String] =
        lines.find(_.startsWith(s"$k=")).map(_.drop(k.length + 1))
      Some(Ledger(
        field("batch").map(_.toLong),
        field("pre").map(parseOffsets).getOrElse(Map.empty),
        field("cur").map(parseOffsets).getOrElse(Map.empty)))
    }
  }

  private def fmtOffsets(m: Map[Int, Long]): String =
    m.toSeq.sorted.map { case (p, o) => s"$p:$o" }.mkString(",")

  // fsync-before-rename lives inside writeUtf8Atomic: an un-synced
  // rename can survive a power loss with torn content, and a torn
  // ledger either restarts offsets at 0 (duplicate (partition, offset)
  // rows) or kills produce on parse
  private def writeLedger(spark: SparkSession, brokerDir: String, topic: String,
      ledger: Ledger): Unit = {
    val body = (ledger.batch.map(b => s"batch=$b").toSeq ++
      Seq(s"pre=${fmtOffsets(ledger.pre)}", s"cur=${fmtOffsets(ledger.cur)}"))
      .mkString("\n")
    graft.IndexFs.writeUtf8Atomic(spark, ledgerPath(brokerDir, topic), body)
  }

  /** Torn-produce recovery: delete files whose offsets lie at or
    * beyond the committed cut. A produce that crashed between the
    * parquet append and the ledger swap left files with offsets >= the
    * ledger end; replaying the batch would assign those same offsets
    * again, putting duplicate (partition, offset) rows in the log.
    * Committed data never carries offsets beyond the ledger, so
    * file-level deletion of the overshoot is safe. A partition ABSENT
    * from the cut map is at offset 0 — every file in it is
    * uncommitted (this is what makes a torn FIRST produce healable:
    * [[produce]] commits an empty ledger before its first append). (Remaining window, stated precisely: a consumer that
    * read a torn file BEFORE the producer restarted saw uncommitted
    * records — the read_uncommitted face of Kafka; transactional
    * read_committed would need consumers to gate on the ledger, which
    * a plain file source cannot.) */
  private def healTornProduce(spark: SparkSession, brokerDir: String,
      topic: String, cut: Map[Int, Long]): Unit = {
    if (topicExists(spark, brokerDir, topic)) {
      import spark.implicits._
      val cutDf = broadcast(cut.toSeq.toDF("partition", "cut"))
      val orphans = spark.read.schema(recordSchema)
        .parquet(topicDir(brokerDir, topic))
        .join(cutDf, Seq("partition"), "left")
        .filter(col("offset") >= coalesce(col("cut"), lit(0L)))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      orphans.foreach(uri => graft.IndexFs.delete(spark, uri))
    }
  }

  /** Producer — the dynamic-topic form (`MyKafkaUtils.java:31-40` +
    * `BaseDbApp.java:83-89`): `frame` carries the sink-frame contract
    * columns (topic, key, value) built by [[StreamOps.toKafkaShape]];
    * each row is appended to its topic, partitioned by key hash over
    * [[nPartitions]], with dense per-partition offsets continuing from
    * the topic's current end. Intra-batch order per partition is
    * (key, value) — a deterministic stand-in for producer send order.
    *
    * `batchId` is the
    * streaming micro-batch id when called from `foreachBatch` — with
    * it the producer is EXACTLY-ONCE under replay: the ledger records
    * the last absorbed batchId and the pre-batch offsets, so a
    * replayed batch first restores the pre-batch cut (deleting its own
    * torn or fully-appended files) and re-appends at the same offsets
    * instead of duplicating the records after them. Without a batchId
    * (ad-hoc/batch callers) the append is at-least-once under caller
    * retries, exactly like a non-transactional Kafka producer. */
  def produce(frame: DataFrame, brokerDir: String,
      batchId: Option[Long] = None): Unit = {
    val spark = frame.sparkSession
    import spark.implicits._
    val topics = frame.select("topic").distinct().as[String].collect().sorted
    for (t <- topics) {
      // a ledger ALWAYS exists before any append this producer makes:
      // the first call to a fresh topic commits an empty ledger first,
      // so a crash between any append and its ledger swap is healable
      // on replay (nothing else distinguishes committed files from
      // torn ones)
      val ledger = readLedger(spark, brokerDir, t).getOrElse {
        graft.IndexFs.mkdirs(spark, topicDir(brokerDir, t))
        val l = Ledger(None, Map.empty, Map.empty)
        writeLedger(spark, brokerDir, t, l)
        l
      }
      val replayOfAbsorbed = batchId.isDefined && ledger.batch == batchId
      if (batchId.isDefined && ledger.batch.exists(_ > batchId.get)) {
        // older fully-committed batch re-produced (out-of-lineage
        // replay) — appending would duplicate records committed long
        // ago, and restoring its pre-state would destroy later batches
        throw new IllegalStateException(
          s"produce(batchId=${batchId.get}) to topic $t behind the ledger's " +
            s"batch=${ledger.batch.get}: replay can only be of the last batch")
      }
      if (batchId.isEmpty && ledger.batch.isDefined) {
        // one-producer-mode-per-topic: an ad-hoc (batchId-less) append
        // would overwrite the ledger's batch marker with None and its
        // pre-state — a later crash-replay of that last streaming batch
        // would then no longer be recognized as a replay and would
        // append its records twice
        throw new IllegalStateException(
          s"ad-hoc produce (no batchId) to topic $t, which is owned by an " +
            s"exactly-once streaming producer (ledger batch=${ledger.batch.get}); " +
            "route through the streaming producer or use a separate topic")
      }
      // the committed cut this append starts from: a replay of the
      // LAST absorbed batch restores the pre-batch cut (and heal below
      // deletes that batch's earlier append); otherwise the current end
      val base = if (replayOfAbsorbed) ledger.pre else ledger.cur
      healTornProduce(spark, brokerDir, t, base)
      val baseDf = broadcast(
        base.toSeq.toDF("partition", "base_off"))
      val w = Window.partitionBy("partition").orderBy("key", "value")
      val batch = frame.filter(col("topic") === t)
        .withColumn("partition", pmod(hash(col("key")), lit(nPartitions)).cast("int"))
        .withColumn("rn", row_number().over(w).cast("long") - 1)
        .join(baseDf, Seq("partition"), "left")
        .withColumn("offset", coalesce(col("base_off"), lit(0L)) + col("rn"))
        .select(col("offset"), col("key"), col("value"), col("partition"))
        .persist() // one computation feeds both the write and the ledger
      try {
        batch.write.mode("append").partitionBy("partition")
          .parquet(topicDir(brokerDir, t))
        // advance the ledger from this batch's per-partition row counts
        // (no log rescan); the write above happens-before the ledger
        // swap, and a torn produce (append done, ledger not) is healed
        // on the next produce by deleting the beyond-ledger files
        // before re-appending — offsets are never duplicated in the log
        val counts = batch.groupBy("partition").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val advanced = (base.keySet ++ counts.keySet).map { p =>
          p -> (base.getOrElse(p, 0L) + counts.getOrElse(p, 0L))
        }.toMap
        writeLedger(spark, brokerDir, t, Ledger(batchId, pre = base, cur = advanced))
      } finally batch.unpersist()
    }
  }

  /** Consumer start position — `auto.offset.reset` + the committed-
    * offset resume of `MyKafkaUtils.java:44-56`. */
  sealed trait StartingOffsets
  case object Earliest extends StartingOffsets
  case object Latest extends StartingOffsets
  /** Resume at-or-after these per-partition offsets (partitions not
    * listed start at 0 = earliest). */
  final case class From(offsets: Map[Int, Long]) extends StartingOffsets

  /** Batch consumer (bounded replay — Kafka's batch read). Rows come
    * back unordered like any distributed scan; per-partition order is
    * recovered by sorting on (partition, offset), which the offsets
    * make total. */
  def read(spark: SparkSession, brokerDir: String, topic: String,
      starting: StartingOffsets = Earliest): DataFrame = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), recordSchema)
    if (!topicExists(spark, brokerDir, topic)) empty
    else {
      val all = spark.read.schema(recordSchema)
        .parquet(topicDir(brokerDir, topic))
        .select("offset", "key", "value", "partition")
      starting match {
        case Earliest => all
        case Latest => empty // nothing produced after this subscribe yet
        case From(offsets) =>
          if (offsets.isEmpty) all
          else {
            import spark.implicits._
            val cut = broadcast(offsets.toSeq.toDF("partition", "cut"))
            all.join(cut, Seq("partition"), "left")
              .filter(col("cut").isNull || col("offset") >= col("cut"))
              .select("offset", "key", "value", "partition")
          }
      }
    }
  }

  /** Streaming consumer (`getFlinkKafkaConsumer` analog): an unbounded
    * file source over the topic directory. The stream checkpoint
    * records consumed files, so stop/restart neither loses nor
    * re-emits records — the contract the reference gets from Kafka
    * group offsets. `earliest` is implicit (a fresh checkpoint reads
    * the whole log; an existing checkpoint resumes where it left off).
    */
  def readStream(spark: SparkSession, brokerDir: String, topic: String): DataFrame = {
    // a Kafka consumer may subscribe before the topic's first record;
    // the file source throws on a missing path, so create the topic
    // directory (the broker's auto-create) rather than failing
    graft.IndexFs.mkdirs(spark, topicDir(brokerDir, topic))
    spark.readStream.schema(recordSchema)
      .parquet(topicDir(brokerDir, topic))
      .select("offset", "key", "value", "partition")
  }
}
