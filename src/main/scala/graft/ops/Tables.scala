package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver testdata (TESTDATA.md). */
object Tables {
  /** Per-session LINEAGE cache (round 16, VERDICT r15 item 2): every
    * `spark.read.parquet` call re-resolves the relation — file listing
    * + parquet footer/schema read + reader option resolution — which
    * the FloorProbe split measured at 0.07-0.3 s per query
    * CONSTRUCTION, ~40% of the bench tail's per-query floor. The
    * resolved DataFrame (an analyzed read relation — METADATA, never
    * data or results; no `.cache()`, nothing persisted across JVMs) is
    * reused per (session, dir, table), exactly what reading through a
    * catalog table gives a real deployment for free. Contract: a
    * table file must not be OVERWRITTEN after it has been read in the
    * same session (the cached file index would go stale) — every
    * in-repo writer (Soak.blowUp, test fixtures) writes a
    * fresh dir once before its first read; [[invalidate]] is the
    * escape hatch for anything else. Keys hold the session reference,
    * so entries die with the JVM; sessions per JVM are few and the
    * table set is bounded. */
  private val lineageCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    lineageCache.computeIfAbsent((spark, sfDir, name),
      _ => spark.read.parquet(s"$sfDir/$name.parquet"))

  /** Drop every cached relation under `dir` (any session) — call after
    * overwriting a table file a session may already have read. */
  def invalidate(dir: String): Unit =
    lineageCache.keySet.removeIf(k => k._2 == dir)

  /** Schema-ADAPTIVE events loader. The driver has shipped
    * `events.parquet` in two layouts so far — `ts` as INT64
    * TIMESTAMP(NANOS) (rounds 1–4; Spark can only read it as a Long
    * under the legacy flag) and INT64 TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (round 5+; Spark reads it as
    * TIMESTAMP_NTZ). Branch on the type the scan actually resolves:
    *
    *   - `LongType`           → legacy nanos: truncate to micros
    *                            (`ts div 1000` — toward zero, which
    *                            equals DuckDB's flooring cast on the
    *                            POST-EPOCH domain the data contract
    *                            guarantees; pre-epoch nanos would
    *                            differ by 1 µs, see CLAUDE.md's
    *                            2024-01-01 base note).
    *   - `TimestampType`      → pass through untouched. The CURRENT
    *                            testdata lands here: [[eventsRaw]]
    *                            disables `inferTimestampNTZ`, so the
    *                            scan itself produces TimestampType and
    *                            `ts` predicates stay SARGABLE — pushed
    *                            to the parquet reader instead of
    *                            evaluated above a cast. Under the
    *                            engine-wide pinned-UTC session this is
    *                            value-identical to casting the NTZ
    *                            wall clock (and to DuckDB's no-op
    *                            `CAST(ts AS TIMESTAMP)`).
    *   - `TimestampNTZType`   → robustness branch (a session that
    *                            re-enabled the inference flag):
    *                            reinterpret the wall clock in the
    *                            session TZ via cast.
    *
    * Every query reads events ONLY through this method, so a future
    * layout change fails in exactly one place with a one-line
    * diagnosis instead of 100+ identical analysis errors.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = eventsRaw(spark, sfDir)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"$sfDir/events.parquet: `ts` resolved to unsupported type " +
            s"${other.catalogString}; expected INT64 nanos (reads as bigint " +
            "under the legacy flag), TIMESTAMP(MICROS) NTZ, or timestamp")
    }
  }

  /** Raw on-disk form of events — `ts` keeps whatever type the parquet
    * footer declares (Long for the retired nanos layout, TIMESTAMP_NTZ
    * for the current micros layout). For tooling that must see the
    * disk shape; everything else uses [[events]].
    *
    * NOTE this sets two flags SESSION-WIDE (they are read at scan
    * planning, not per-read, so a scoped set/restore would be racy
    * against lazy evaluation of the returned plan):
    * `spark.sql.legacy.parquet.nanosAsLong` (legacy layout readable at
    * all; no-op on non-nanos files) and
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` (the MICROS
    * layout scans directly as session-TZ TimestampType — value-
    * identical to the NTZ wall clock under the engine's pinned-UTC
    * sessions, and it keeps `ts` predicates pushable at the scan). The
    * engine's other tables carry no INT64-nanos or NTZ columns, so the
    * only observable effects are the intended ones; a session mixing
    * in foreign NTZ parquet should read it before first touching
    * `events`. */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    table(spark, sfDir, "events")
  }

  /** All driver tables (TESTDATA.md). Used by the schema tripwire. */
  val allNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Expected column:type contract for EVERY driver table — the full
    * tripwire (round-7 hardening: the r5 incident proved the driver
    * regenerates layouts, and `events` is merely the table it happened
    * to hit). Types are as the engine's loaders resolve them under the
    * pinned session flags ([[eventsRaw]] disables NTZ inference, so
    * micros-timestamp columns scan as session-TZ timestamp). `events
    * .ts` is the one adaptive column: any of the three raw forms the
    * loader normalizes is accepted here, and the normalized form is
    * checked separately below. */
  private val expectedColumns: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "<adaptive>",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int"))

  /** The raw `ts` forms the adaptive [[events]] loader accepts. */
  private val adaptiveTsTypes = Set("bigint", "timestamp", "timestamp_ntz")

  /** First line of an exception's message, null/empty-safe — the
    * tripwire's one-line diagnosis must survive causes with no message
    * (a bare EOFException from a truncated footer would otherwise NPE
    * inside the catch and destroy the diagnosis it exists for). */
  private def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.toString)

  /** Fail-fast schema tripwire: every driver table must load AND match
    * the pinned column:type contract exactly (names, order, types),
    * and `events.ts` must normalize to a session-TZ timestamp through
    * [[events]]. Throws ONE message naming the file, the column and
    * the observed type instead of letting a testdata layout drift
    * surface as dozens of identical analysis errors downstream (which
    * is exactly how round 5 lost 34 queries).
    */
  def sanityCheck(spark: SparkSession, sfDir: String): Unit = {
    // events first: its loader pins the session scan flags (NTZ
    // inference off) that the timestamp expectations below assume
    val tsType =
      try events(spark, sfDir).schema("ts").dataType // throws the one-liner on drift
      catch {
        case e: IllegalStateException => throw e
        case e: Exception =>
          throw new IllegalStateException(
            s"SCHEMA TRIPWIRE: $sfDir/events.parquet failed to load: " +
              firstLine(e), e)
      }
    require(tsType == TimestampType,
      s"SCHEMA TRIPWIRE: $sfDir/events.parquet `ts` normalized to " +
        s"${tsType.catalogString}, expected timestamp")
    allNames.foreach { name =>
      val schema =
        try {
          if (name == "events") eventsRaw(spark, sfDir).schema
          else table(spark, sfDir, name).schema
        } catch {
          case e: Exception =>
            throw new IllegalStateException(
              s"SCHEMA TRIPWIRE: $sfDir/$name.parquet failed to load: " +
                firstLine(e), e)
        }
      val got = schema.fields.map(f => f.name -> f.dataType.catalogString).toSeq
      val want = expectedColumns(name)
      require(got.size == want.size,
        s"SCHEMA TRIPWIRE: $sfDir/$name.parquet has ${got.size} columns " +
          s"${got.map(_._1).mkString("(", ", ", ")")}, expected ${want.size} " +
          s"${want.map(_._1).mkString("(", ", ", ")")}")
      got.zip(want).foreach { case ((gn, gt), (wn, wt)) =>
        require(gn == wn,
          s"SCHEMA TRIPWIRE: $sfDir/$name.parquet column `$gn` where " +
            s"`$wn` was expected (column order/name drift)")
        val ok = if (wt == "<adaptive>") adaptiveTsTypes.contains(gt) else gt == wt
        require(ok,
          s"SCHEMA TRIPWIRE: $sfDir/$name.parquet `$gn` resolved to $gt, " +
            s"expected ${if (wt == "<adaptive>") adaptiveTsTypes.mkString(" or ") else wt}")
      }
    }
  }
}
