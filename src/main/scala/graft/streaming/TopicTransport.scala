package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The topic-transport seam: one switch between the in-env
  * [[FileTopics]] broker emulation and a real Kafka cluster.
  *
  * The reference wires every consumer/producer through one utility
  * (`gmall-realtime/src/main/java/com/atguigu/utils/MyKafkaUtils.java:44-65`);
  * this is the same chokepoint for the Spark build. Mode resolution, in
  * precedence order: the session conf `graft.topic.transport`, then the
  * env var `GRAFT_TOPIC_TRANSPORT`, default `file`. With `kafka`, the
  * `broker` argument is interpreted as `kafka.bootstrap.servers` and
  * the source/sink become Spark's Kafka connector with exactly the
  * options [[kafkaSourcePlan]]/[[kafkaSinkPlan]] declare — the
  * production swap is an env var, not a code edit.
  *
  * The Kafka connector jar is absent from this environment (zero
  * egress), so the kafka branch cannot execute here; the plans are
  * plain data and unit-tested (StreamingSpec), which pins the exact
  * reader/writer configuration the swap produces.
  */
object TopicTransport {

  val ConfKey = "graft.topic.transport"

  /** `file` | `kafka` for this session. */
  def mode(spark: SparkSession): String =
    spark.conf.getOption(ConfKey)
      .orElse(sys.env.get("GRAFT_TOPIC_TRANSPORT"))
      .getOrElse("file")

  /** A declarative source/sink configuration — what `readStream`/
    * `produce` build, exposed as data so the kafka branch is testable
    * without the connector jar. */
  final case class Plan(format: String, options: Map[String, String])

  /** Kafka streaming-source plan: earliest offsets (FileTopics'
    * `Earliest` default), fail-fast on data loss. */
  def kafkaSourcePlan(bootstrap: String, topic: String): Plan =
    Plan("kafka", Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "true"))

  /** Kafka sink plan. With `topic = None` (the [[produce]] shape) no
    * `topic` option is set and the connector routes on the per-row
    * `topic` column — its dynamic-topic contract; a fixed topic pins
    * the option instead. */
  def kafkaSinkPlan(bootstrap: String, topic: Option[String] = None): Plan =
    Plan("kafka",
      Map("kafka.bootstrap.servers" -> bootstrap) ++
        topic.map("topic" -> _))

  /** Unbounded consumer for `topic`, in the session's transport mode.
    * Both branches yield the same (offset, key string, value string,
    * partition) shape, so downstream topologies are transport-blind. */
  def readStream(spark: SparkSession, broker: String, topic: String): DataFrame =
    mode(spark) match {
      case "kafka" =>
        val p = kafkaSourcePlan(broker, topic)
        p.options.foldLeft(spark.readStream.format(p.format)) {
          case (r, (k, v)) => r.option(k, v)
        }.load().select(
          col("offset"),
          col("key").cast("string").as("key"),
          col("value").cast("string").as("value"),
          col("partition"))
      case _ => FileTopics.readStream(spark, broker, topic)
    }

  /** Produce a (topic, key, value) batch, in the session's transport
    * mode. File mode appends to the broker dir ledger (pass the
    * foreachBatch `batchId` for producer-side exactly-once under
    * replay); kafka mode writes through the connector (topic column
    * routes per row, the connector's own dynamic-topic contract —
    * replay idempotence there is the broker's transactional producer).
    */
  def produce(batch: DataFrame, broker: String,
      batchId: Option[Long] = None): Unit =
    mode(batch.sparkSession) match {
      case "kafka" =>
        // built FROM the tested plan so the pinned configuration and
        // the executed write cannot drift
        val p = kafkaSinkPlan(broker)
        p.options.foldLeft(
          batch.selectExpr("topic", "CAST(key AS STRING) key", "CAST(value AS STRING) value")
            .write.format(p.format)) {
          case (w, (k, v)) => w.option(k, v)
        }.save()
      case _ => FileTopics.produce(batch, broker, batchId = batchId)
    }
}
