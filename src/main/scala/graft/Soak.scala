package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak harness: synthesizes an N× blowup of the events and
  * documents tables (key cardinality scaled with volume, timestamps
  * jittered so replicas aren't identical) and times a representative
  * query set against it — evidence that the operator shapes scale
  * linearly, not just that they pass at sf0.1.
  *
  * Usage: runMain graft.Soak [factor] [baseSfDir] [query,query,...]
  * (the optional third arg restricts the run to a comma-separated
  * subset — targeted re-measurement without the full suite)
  */
object Soak {
  private val queries = Seq(
    "t1_new_user_fix", "t2_uv_dedup", "t3_bounce_detect",
    "a1_product_stats", "a2_visitor_stats", "a8_weighted_score",
    "w_session_window", "a13_retention", "j6_asof_join",
    "text_tokens", "text_chunk", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters",
    // late round-2 additions over the blown-up tables
    "a22_funnel", "text_repetition", "text_rarity_score",
    "decontaminate_ngram",
    // round-3: the parse-once VARIANT path (events.props blown up with
    // the rows) and the map-side PII scrub
    "f16_variant_json", "f17_variant_wide", "text_pii_redact",
    // (j7_cogroup_reconcile is excluded: it reads orders, which the
    // blowup does not synthesize — only events/documents are blown up)
    "dedup_lines", "sample_pack", "a23_rolling_range",
    "sample_mix", "sample_budget", "a24_spike_days", "mm_dedup_payload",
    "text_quality_model",
    // the vector family (embeddings are blown up too; replicas share a
    // bucket, so candidate pairs grow with replica-clique size — run
    // these at moderate factors, e.g. x10)
    "dedup_embedding_lsh", "dedup_semantic_clusters", "sim_knn_graph")

  def blowUp(spark: SparkSession, baseDir: String, outDir: String, f: Int): Unit = {
    // normalized (timestamp-typed) form: the blown-up copy is written
    // with a plain timestamp ts, which Tables.events passes through —
    // layout-independent of whether the base data was nanos or micros
    val ev = graft.ops.Tables.events(spark, baseDir)
    ev.crossJoin(spark.range(f.toLong).toDF("r"))
      .select(
        (col("event_id") * f + col("r")).as("event_id"),
        // jitter replicas by r seconds so they aren't identical
        expr("timestampadd(SECOND, r, ts)").as("ts"),
        (col("user_id") * f + col("r")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    docs.crossJoin(spark.range(f.toLong).toDF("r"))
      .select(
        (col("doc_id") * f + col("r")).as("doc_id"),
        // perturb the first token per replica so docs aren't exact dups
        concat(lit("r"), col("r"), lit(" "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    emb.crossJoin(spark.range(f.toLong).toDF("r"))
      .select(
        (col("vec_id") * f + col("r")).as("vec_id"),
        // nudge the first component per replica: replicas become
        // near-identical vectors (cos ≈ 1) landing in one sign-bit
        // bucket — the adversarial shape for bucket-local candidate
        // generation, mirroring the text-LSH replica-clique blowup
        expr("""transform(embedding,
               |  (x, i) -> CASE WHEN i = 0
               |    THEN CAST(x + r * CAST(0.0001 AS FLOAT) AS FLOAT)
               |    ELSE x END)""".stripMargin).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // the blown-up dir may be a re-used /tmp path from an earlier run
    // in the same JVM — drop any lineage-cache entries over it
    graft.ops.Tables.invalidate(outDir)
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val selected =
      if (args.length > 2) {
        val asked = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = asked -- queries.toSet
        require(unknown.isEmpty,
          s"unknown soak queries: ${unknown.mkString(", ")} (known: ${queries.mkString(", ")})")
        queries.filter(asked)
      } else queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Partition count must scale with per-stage WORK so per-task state
    // stays bounded — the knob a real cluster turns at 100 TB. NB the
    // work is not always linear in data volume: LSH candidate pairs
    // grow ~quadratically with the replica-family size in this blowup
    // (×100 → ~2.5 M pairs), so at much larger factors the partition
    // count must track the pair count, not the row count. At ×100,
    // 32 partitions of the Jaccard-verify shuffle each carry ~80k
    // candidate pairs × two shingle arrays and OOM a modest heap;
    // factor-many partitions keep them bounded at this scale. The
    // conf is set per-measurement in time() so the BASE run keeps the
    // engine's standard 32 partitions (comparable across rounds) and
    // only the blown-up run gets the scaled count.
    val scaledPartitions = math.max(cpus.toInt, factor)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val soakDir = s"/tmp/graft-soak-x$factor"
    blowUp(spark, baseDir, soakDir, factor)

    // 3 full-plan evaluations (no count-pruning), median of the two
    // post-warmup runs — same discipline as Bench so soak ratios are
    // comparable round over round. Shuffle-partition count is set per
    // measurement: the base run keeps the standard 32 (so base numbers
    // stay comparable to Bench and to prior rounds), the blown-up run
    // gets the factor-scaled count.
    def time(fn: (SparkSession, String) => DataFrame, dir: String,
        partitions: Int): Double = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Bench.evaluateFully(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      Bench.median(runs.drop(1))
    }
    println(f"[soak] factor=$factor (events ${100000L * factor} rows)")
    for (name <- selected) {
      val fn = SparkEntry.queries(name)
      val base = time(fn, baseDir, cpus.toInt)
      val big = time(fn, soakDir, scaledPartitions)
      println(f"[soak] $name%-22s base=$base%6.2fs x$factor=$big%6.2fs ratio=${big / base}%5.2f")
    }
    spark.stop()
  }
}
