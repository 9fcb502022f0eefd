package perfbench

import graft.SparkEntry
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.SparkSession

/** batch_suite: a fixed selection of the declared queries of `SparkEntry`
  * from both sets (warehouse core and corpus), in an order rotated by the
  * seed: one untimed warm-up pass, then `passes` timed passes. Each call
  * is timed in three parts: construction (`fn`, including table
  * resolution), planning (`executedPlan`) and execution (`collect`, which
  * returns the rows the output check compares against the oracle). */
object BatchSuite {
  /** The out-of-paper corpus families; everything else is the warehouse core. */
  def corpusNames: Set[String] =
    (Dedup.defs ++ Similarity.defs ++ TextOps.defs ++ Multimodal.defs).map(_.name).toSet

  /** Every eighth core query in name order (13 of 97). */
  val CoreEvery = 8

  /** Five corpus queries over the four families, one of them an IVF index
    * built, persisted and probed inside `fn`. An index build takes several
    * times as long as a core query, so the suite keeps one. */
  val Corpus = Seq("dedup_fingerprint", "mm_dedup_payload", "sample_budget",
    "sim_topk_ivf_served", "text_rarity_score")

  def chosen(names: Seq[String]): Seq[String] = {
    val missing = Corpus.filterNot(names.contains)
    require(missing.isEmpty, s"corpus queries not declared: ${missing.mkString(", ")}")
    val core = names.sorted.filterNot(corpusNames)
    core.zipWithIndex.collect { case (n, i) if i % CoreEvery == 0 => n } ++ Corpus
  }

  def order(names: Seq[String], seed: Long): Seq[String] = {
    val sorted = names.sorted
    val k = java.lang.Math.floorMod(seed, sorted.size.toLong).toInt
    sorted.drop(k) ++ sorted.take(k)
  }

  def run(spark: SparkSession, dataDir: String, seed: Long, passes: Int,
      resultsPath: String, tracer: Tracer): Map[String, Any] = {
    val defs = SparkEntry.queries
    val corpus = corpusNames
    def set(n: String) = if (corpus(n)) "corpus" else "core"
    val names = order(chosen(defs.keys.toSeq), seed)
    // warm-up: one untimed pass, so no timed call pays class loading, JIT
    // compilation or code generation for the first time; a query that
    // fails here fails again, and is counted, in the timed passes
    spark.sparkContext.setJobGroup("warmup", "warmup")
    names.foreach(n => scala.util.Try(defs(n)(spark, dataDir).collect()))
    val out = new java.io.PrintWriter(resultsPath, "UTF-8")
    val timed = Seq.newBuilder[Map[String, Any]]
    val timedStart = Clock.nowMs
    try for (pass <- 0 until passes; n <- names) {
      spark.sparkContext.setJobGroup(n, n)
      val s = set(n)
      val t0 = Clock.nowMs
      var times = Seq(0.0, 0.0, 0.0)
      var error: Option[String] = None
      tracer.span(s"query:$n", attrs = Map("set" -> s, "pass" -> pass)) { parent =>
        try {
          val df = tracer.span(s"SparkEntry.$s.construct", parent) { _ => defs(n)(spark, dataDir) }
          val t1 = Clock.nowMs
          tracer.span(s"SparkEntry.$s.plan", parent) { _ => df.queryExecution.executedPlan }
          val t2 = Clock.nowMs
          val rows = tracer.span(s"SparkEntry.$s.exec", parent) { _ => df.collect() }
          val t3 = Clock.nowMs
          times = Seq(t1 - t0, t2 - t1, t3 - t2)
          out.println(Json.render(Map("name" -> n, "pass" -> pass, "columns" -> df.columns.toSeq,
            "rows" -> rows.toSeq.map(_.json))))
        } catch {
          case e: Throwable =>
            error = Some(Option(e.getMessage).getOrElse(e.toString).take(300))
            times = Seq(0.0, 0.0, Clock.nowMs - t0)
        }
      }
      timed += Map("name" -> n, "pass" -> pass, "set" -> s, "construct_ms" -> times(0),
        "plan_ms" -> times(1), "exec_ms" -> times(2), "start_ms" -> t0,
        "wall_ms" -> times.sum, "error" -> error)
    } finally out.close()
    spark.sparkContext.clearJobGroup()
    Map("timed_start_ms" -> timedStart, "queries" -> timed.result(),
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) })
  }
}
