package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `run.py` prepares the inputs, launches this,
  * then checks the outputs it writes and prints the metrics.
  *
  * Arguments: --workload stream_steady|stream_drain|batch_suite
  * --seed N --trace 0|1 --work DIR --out FILE, plus per workload
  * --input FILE --warm-ms --measure-ms --trigger-ms (stream_steady),
  * --input FILE --warm-input FILE --origin-ms (stream_drain), or
  * --data DIR --passes N (batch_suite). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = args("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(args("trace") == "1", java.util.UUID.randomUUID().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val batches = new BatchListener(tracer)
    val jobs = new JobListener(tracer)
    if (tracer.enabled) {
      spark.streams.addListener(batches)
      spark.sparkContext.addSparkListener(jobs)
    }
    val sessionReadyMs = Clock.nowMs
    val result = try workload match {
      case "stream_steady" =>
        Streams.steady(spark, work, Input.read(args("input")), args("warm-ms").toLong,
          args("measure-ms").toLong, args("trigger-ms").toLong, tracer)
      case "stream_drain" =>
        Streams.drain(spark, work, Input.read(args("input")), Input.read(args("warm-input")),
          args("origin-ms").toLong, tracer)
      case "batch_suite" =>
        BatchSuite.run(spark, args("data"), args("seed").toLong, args("passes").toInt,
          s"$work/results.jsonl", tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      spark.stop()
    }
    val extra: Map[String, Any] =
      if (!tracer.enabled) Map.empty
      else Map("spans" -> tracer.records, "batches" -> batches.batches.toArray.toSeq,
        "jobs" -> jobs.jobs.toArray.toSeq, "job_groups" -> jobs.groups,
        "run_names" -> scala.jdk.CollectionConverters.MapHasAsScala(batches.runNames).asScala.toMap,
        "bookkeeping_s" -> tracer.bookkeepingS)
    val all = result ++ extra ++ Map("workload" -> workload, "cpus" -> cpus,
      "session_ready_ms" -> sessionReadyMs, "end_ms" -> Clock.nowMs,
      "peak_rss_mb" -> Jvm.peakRssMb, "gc_s" -> Jvm.gcS)
    val w = new java.io.PrintWriter(args("out"), "UTF-8")
    try w.print(Json.render(all)) finally w.close()
  }
}
