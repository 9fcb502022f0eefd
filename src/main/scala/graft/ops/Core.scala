package graft.ops

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Projections, filters, row-level transforms and the scalar-function
  * layer (SURVEY §2.3 P1/P4/P5/P7, §2.9 F1–F14), re-expressed as batch
  * DataFrame pipelines over the driver testdata.
  *
  * Reference semantics (cited per query): JSON parse with dirty-data
  * side output (`app/dwd/BaseLogApp.java:57-70`), config-driven column
  * whitelist (`app/function/TableProcessFunction.java:160-175`), 3-way
  * log split (`app/dwd/BaseLogApp.java:103-141`), date/string scalar
  * surface (`utils/DateTimeUtil.java`, DWS SQL apps).
  */
object Core {

  /** Flagship pricing-summary aggregation (map + keyed agg heart of the
    * DWS layer, e.g. `app/dws/ProductStatsApp.java:216-261`). */
  val q1Agg = QueryDef(
    "q1_agg",
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           |  COUNT(*) AS count_order
           |FROM lineitem
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_base_price"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")))

  /** Single source of the engine-independent INTEGRAL gate every
    * dirty-data JSON extraction applies (p1/f15/f16/f17, both
    * engines): the engines' TRY_CASTs disagree on decimals (DuckDB
    * rounds '1.5' to 2, Spark yields NULL), so dirtiness is decided by
    * this regex instead. The SQL strings embed it literally (an
    * s-interpolator would force $$-escaping of every '$.k' JSON path);
    * the drift tripwire at the bottom of this object fails on first
    * use if any oracle's embedded copy diverges from this constant. */
  private[ops] val integralRe = "^-?[0-9]+$"

  /** P1/P2/F14 — semi-structured JSON field extraction with null-on-bad
    * parse (the dirty-data contract of `app/dwd/BaseLogApp.java:57-70`:
    * unparseable rows yield NULL and are routed, parseable rows carry
    * the extracted field). */
  val p1JsonProps = QueryDef(
    "p1_json_props",
    Some("""SELECT event_id,
           |  CASE WHEN json_valid(props) THEN
           |    CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
           |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END
           |  END AS k,
           |  CAST(CASE WHEN json_valid(props) THEN
           |         CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
           |              THEN 0 ELSE 1 END
           |       ELSE 1 END AS BIGINT) AS is_dirty
           |FROM events
           |ORDER BY event_id""".stripMargin),
    (spark, dir) => {
      // Dirty-data contract under Spark 4 ANSI mode: a non-INTEGRAL k
      // routes to the dirty branch instead of throwing mid-job
      // ([[integralRe]] decides dirtiness identically on both
      // engines). The oracle's json_valid guard exists because
      // DuckDB's json functions ERROR on malformed JSON where Spark's
      // NULL-route — without it the first genuinely dirty row would
      // crash the oracle instead of exercising the contract.
      // parse ONCE per row: the old single-Project form referenced
      // get_json_object(props, '$.k') three times (two regex-gate
      // conditions + the cast branch) and codegen's subexpression
      // elimination does not fold a conditional branch occurrence into
      // the unconditional ones. Staged aliases keep one parse and one
      // regex evaluation; CollapseProject cannot re-inline them — it
      // never duplicates a non-cheap producer used more than once (no
      // barrier needed, unlike the Filter-duplication case
      // ParseOnceRule handles).
      Tables.events(spark, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("_k"))
        .select(col("event_id"), col("_k"),
          col("_k").rlike(integralRe).as("_ok"))
        .select(
          col("event_id"),
          when(col("_ok"), expr("try_cast(_k AS BIGINT)")).as("k"),
          // dirtiness from the regex gate, NOT from k's nullness: an
          // integral-but-overflowing value nulls the cast on both
          // engines yet is clean by the contract on both
          when(col("_ok"), 0L).otherwise(1L).as("is_dirty"))
        .orderBy("event_id")
    })

  /** P5 — config-driven column whitelist (sinkColumns CSV of
    * `app/function/TableProcessFunction.java:160-175`): project only the
    * configured columns. */
  val p5Whitelist = QueryDef(
    "p5_column_whitelist",
    Some("""SELECT event_id, event_type, value
           |FROM events
           |ORDER BY event_id""".stripMargin),
    (spark, dir) => {
      val sinkColumns = "event_id,event_type,value" // config row, CSV form
      val cols = sinkColumns.split(",").toIndexedSeq.map(c => col(c.trim))
      Tables.events(spark, dir).select(cols: _*).orderBy("event_id")
    })

  /** P4 + P7 — 3-way log split with per-branch stats: start logs, page
    * logs, dirty records (`app/dwd/BaseLogApp.java:103-141`); the
    * delete-filter P4 (`app/dwd/BaseDbApp.java:43`) is the dirty-branch
    * exclusion in the page/start branches. */
  val p7LogSplit = QueryDef(
    "p7_log_split",
    Some("""SELECT route,
           |  COUNT(*) AS n,
           |  COUNT(DISTINCT user_id) AS users,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM (
           |  SELECT CASE WHEN event_type = 'signup' THEN 'start'
           |              WHEN event_type = 'error' THEN 'dirty'
           |              ELSE 'page' END AS route,
           |         user_id, value
           |  FROM events)
           |GROUP BY route
           |ORDER BY route""".stripMargin),
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      // Side-output routing: each record goes to exactly one branch.
      val routed = ev.withColumn("route",
        when(col("event_type") === "signup", "start")
          .when(col("event_type") === "error", "dirty")
          .otherwise("page"))
      routed.groupBy("route")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("total_value"))
        .orderBy("route")
    })

  /** F1–F12/F14 — the scalar date/time/string function surface
    * (TO_TIMESTAMP, FROM_UNIXTIME, DATE_FORMAT, UNIX_TIMESTAMP, hour,
    * concat — `app/dws/ProvinceStatsSqlApp.java:40-57`,
    * `app/dws/KeywordStatsApp.java:36`, `utils/DateTimeUtil.java`). */
  val fScalarDatetime = QueryDef(
    "f_scalar_datetime",
    Some("""SELECT event_id,
           |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_str,
           |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS ts_date,
           |  CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
           |  CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS dom,
           |  CAST(EXTRACT(month FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS mon,
           |  CAST(EXTRACT(year FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS yr,
           |  CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_sec,
           |  strftime(make_timestamp(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS ts_roundtrip,
           |  event_type || '_' || CAST(user_id AS VARCHAR) AS tagged
           |FROM events
           |ORDER BY event_id""".stripMargin),
    (spark, dir) =>
      Tables.events(spark, dir).select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        date_format(col("ts"), "yyyy-MM-dd").as("ts_date"),
        hour(col("ts")).cast("long").as("hr"),
        dayofmonth(col("ts")).cast("long").as("dom"),
        month(col("ts")).cast("long").as("mon"),
        year(col("ts")).cast("long").as("yr"),
        unix_timestamp(col("ts")).as("epoch_sec"),
        from_unixtime(unix_timestamp(col("ts"))).as("ts_roundtrip"),
        concat(col("event_type"), lit("_"), col("user_id")).as("tagged"))
      .orderBy("event_id"))

  /** F13 — age-from-date arithmetic
    * (`app/dwm/OrderWideApp.java:77-84`), anchored to a fixed date for
    * determinism, aggregated to an age histogram. */
  val f13Age = QueryDef(
    "f13_age_histogram",
    Some("""SELECT CAST(FLOOR(date_diff('day', CAST(l_shipdate AS DATE), DATE '2002-01-01') / 365.25) AS BIGINT) AS age_years,
           |  COUNT(*) AS n
           |FROM lineitem
           |GROUP BY age_years
           |ORDER BY age_years""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "lineitem")
        .select(floor(datediff(lit("2002-01-01").cast("date"), col("l_shipdate")) / 365.25).as("age_years"))
        .groupBy("age_years")
        .agg(count(lit(1)).as("n"))
        .orderBy("age_years"))

  /** F5 — true MAP<STRING,STRING> access (the reference's `page['item']`
    * SQL map indexing, `app/dws/KeywordStatsApp.java:43-46`): props
    * parsed as a map column, element access + key introspection. */
  val f15MapOps = QueryDef(
    "f15_map_ops",
    Some("""SELECT event_id,
           |  CASE WHEN json_valid(props) THEN
           |    CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
           |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END
           |  END AS k_val,
           |  CASE WHEN json_valid(props) THEN CAST(len(json_keys(props)) AS BIGINT) END AS n_keys,
           |  CASE WHEN json_valid(props) THEN array_to_string(json_keys(props), ',') END AS keys
           |FROM events
           |ORDER BY event_id""".stripMargin),
    (spark, dir) => {
      // same dirty-data contract as p1 ([[integralRe]] gate + try_cast
      // — a plain ANSI cast would throw mid-job on the first
      // non-integral k; the oracle NULL-guards its json functions,
      // which ERROR on malformed JSON where from_json NULL-routes)
      val m = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
      // parse ONCE per row (p1's staged-alias discipline): the old
      // single-Project form evaluated from_json up to four times per
      // row (gate condition, cast branch, map_keys ×2). A malformed
      // props NULL-routes identically: element_at/map_keys of the NULL
      // map are NULL, so k_val/n_keys/keys all stay NULL.
      Tables.events(spark, dir)
        .select(col("event_id"), m.as("_m"))
        .select(col("event_id"),
          element_at(col("_m"), "k").as("_kv"),
          map_keys(col("_m")).as("_mk"))
        .select(
          col("event_id"),
          when(col("_kv").rlike(integralRe),
            expr("try_cast(_kv AS BIGINT)")).as("k_val"),
          size(col("_mk")).cast("long").as("n_keys"),
          array_join(col("_mk"), ",").as("keys"))
        .orderBy("event_id")
    })

  /** Q3-style shipping priority: 3-way join, date-bounded, top-10 by
    * revenue — the classic mid-complexity analytic plan (filters pushed
    * to all three scans, broadcast dims, TakeOrdered top-k). */
  val q3Shipping = QueryDef(
    "q3_shipping_priority",
    Some("""SELECT l.l_orderkey,
           |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           |  o.o_orderpriority
           |FROM customer c
           |JOIN orders o ON c.c_custkey = o.o_custkey
           |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           |WHERE c.c_mktsegment = 'BUILDING'
           |  AND o.o_orderdate < TIMESTAMP '1998-03-15'
           |  AND l.l_shipdate > TIMESTAMP '1998-03-15'
           |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
           |ORDER BY revenue DESC, l.l_orderkey
           |LIMIT 10""".stripMargin),
    (spark, dir) => {
      val c = Tables.table(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.table(spark, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val l = Tables.table(spark, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      // customer scales with SF — no forced broadcast; AQE picks the
      // strategy from runtime sizes
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .groupBy(l("l_orderkey"), o("o_orderdate"), o("o_orderpriority"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
        .select(
          col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    })

  /** Q5-style local supplier volume: the 6-table star join with the
    * customer-and-supplier-same-nation constraint. */
  val q5LocalSupplier = QueryDef(
    "q5_local_supplier_volume",
    Some("""SELECT n.n_name,
           |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
           |FROM customer c
           |JOIN orders o ON c.c_custkey = o.o_custkey
           |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
           |JOIN nation n ON s.s_nationkey = n.n_nationkey
           |JOIN region r ON n.n_regionkey = r.r_regionkey
           |WHERE r.r_name = 'ASIA'
           |  AND EXTRACT(year FROM o.o_orderdate) = 1996
           |GROUP BY n.n_name
           |ORDER BY revenue DESC, n.n_name""".stripMargin),
    (spark, dir) => {
      val c = Tables.table(spark, dir, "customer")
      val o = Tables.table(spark, dir, "orders")
        .filter(year(col("o_orderdate")) === 1996)
      val l = Tables.table(spark, dir, "lineitem")
      val s = Tables.table(spark, dir, "supplier")
      val n = Tables.table(spark, dir, "nation")
      val r = Tables.table(spark, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        // supplier scales with SF — unhinted; nation/region are fixed
        // tiny dims and stay broadcast
        .join(s,
          l("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
        .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    })

  /** Q4-style correlated EXISTS: orders with at least one lineitem
    * shipped more than 60 days after the order date, counted per
    * priority (Catalyst rewrites the correlated EXISTS to a semi join).
    */
  val q4OrderPriority = QueryDef(
    "q4_order_priority",
    Some("""SELECT o_orderpriority, COUNT(*) AS n_late_orders
           |FROM orders o
           |WHERE EXISTS (
           |  SELECT 1 FROM lineitem l
           |  WHERE l.l_orderkey = o.o_orderkey
           |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin),
    (spark, dir) => {
      Tables.table(spark, dir, "orders").createOrReplaceTempView("v_orders")
      Tables.table(spark, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      spark.sql(
        """SELECT o_orderpriority, COUNT(*) AS n_late_orders
          |FROM v_orders o
          |WHERE EXISTS (
          |  SELECT 1 FROM v_lineitem l
          |  WHERE l.l_orderkey = o.o_orderkey
          |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    })

  /** VARIANT semi-structured surface (new in Spark 4): the payload is
    * parsed ONCE (`try_parse_json` → binary variant encoding) and every
    * downstream extraction reads the parsed form — vs the string path
    * (`get_json_object`, p1) where each extraction re-parses the JSON
    * text. With three derived outputs the string plan parses 3× per
    * row; at 100 TB parse-once is the difference between CPU-bound and
    * scan-bound ingest. The DuckDB mirror extracts via its native JSON
    * type (also parse-once), so both engines express the same
    * semi-structured contract. */
  val f16VariantJson = QueryDef(
    "f16_variant_json",
    Some("""SELECT event_id, k, k % 10 AS k_last, (k % 2 = 0) AS k_even
           |FROM (
           |  SELECT event_id,
           |    CASE WHEN json_valid(props) THEN
           |      CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
           |           THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END
           |    END AS k
           |  FROM events)
           |WHERE k IS NOT NULL
           |ORDER BY event_id""".stripMargin),
    (spark, dir) => {
      // Same engine-independence gate as p1: the engines' casts
      // disagree on non-integral values (DuckDB rounds '1.5', Spark's
      // variant cast does not), so k is extracted only when the raw
      // field is integral — checked against the string view of the
      // SAME parsed variant (still parse-once).
      //
      // `graft_barrier` pins the parse in its projection: without it,
      // predicate pushdown inlines a COPY of try_parse_json into the
      // `k IS NOT NULL` filter below the project and every input row
      // parses twice (Filter once, Project again for survivors).
      graft.functions.PlanBarrier.register(spark)
      Tables.events(spark, dir).createOrReplaceTempView("v_events_f16")
      spark.sql(
        """SELECT event_id, k, k % 10 AS k_last, (k % 2 = 0) AS k_even
          |FROM (
          |  SELECT event_id,
          |    CASE WHEN try_variant_get(pv, '$.k', 'string') RLIKE '^-?[0-9]+$'
          |         THEN try_variant_get(pv, '$.k', 'bigint') END AS k
          |  FROM (SELECT event_id, graft_barrier(try_parse_json(props)) AS pv
          |        FROM v_events_f16))
          |WHERE k IS NOT NULL
          |ORDER BY event_id""".stripMargin)
    })

  /** Wide VARIANT extraction: SIX typed reads off one parsed `pv`
    * (bigint, string, double, string-length, missing path, plus two
    * derived mods) behind a selective filter. This is the query shape
    * that made the un-barriered f16 plan catastrophic: pushdown would
    * inline ONE extra parse into the filter, and any later CSE change
    * could inline one per extraction — N+1 parses per row at 100 TB
    * ingest. With `graft_barrier` the plan carries exactly one
    * `try_parse_json` (asserted in PlanSpec) regardless of extraction
    * count. Oracle: DuckDB's native JSON type, also parse-once. */
  val f17VariantWide = QueryDef(
    "f17_variant_wide",
    Some("""SELECT event_id, k, k_str, k_dbl, k_len, k_missing,
           |  k % 7 AS k_mod7, (k % 2 = 0) AS k_even
           |FROM (
           |  SELECT event_id,
           |    CASE WHEN json_valid(props) THEN
           |      CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]+$')
           |           THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END
           |    END AS k,
           |    CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS k_str,
           |    CASE WHEN json_valid(props) THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS k_dbl,
           |    CASE WHEN json_valid(props) THEN CAST(length(json_extract_string(props, '$.k')) AS BIGINT) END AS k_len,
           |    CASE WHEN json_valid(props) THEN json_extract_string(props, '$.missing') END AS k_missing
           |  FROM events)
           |WHERE k IS NOT NULL AND k % 3 = 0
           |ORDER BY event_id""".stripMargin),
    (spark, dir) => {
      graft.functions.PlanBarrier.register(spark)
      Tables.events(spark, dir).createOrReplaceTempView("v_events_f17")
      spark.sql(
        """SELECT event_id, k, k_str, k_dbl, k_len, k_missing,
          |  k % 7 AS k_mod7, (k % 2 = 0) AS k_even
          |FROM (
          |  SELECT event_id,
          |    CASE WHEN try_variant_get(pv, '$.k', 'string') RLIKE '^-?[0-9]+$'
          |         THEN try_variant_get(pv, '$.k', 'bigint') END AS k,
          |    try_variant_get(pv, '$.k', 'string') AS k_str,
          |    try_variant_get(pv, '$.k', 'double') AS k_dbl,
          |    CAST(length(try_variant_get(pv, '$.k', 'string')) AS BIGINT) AS k_len,
          |    try_variant_get(pv, '$.missing', 'string') AS k_missing
          |  FROM (SELECT event_id, graft_barrier(try_parse_json(props)) AS pv
          |        FROM v_events_f17))
          |WHERE k IS NOT NULL AND k % 3 = 0
          |ORDER BY event_id""".stripMargin)
    })

  val defs: Seq[QueryDef] =
    Seq(q1Agg, q3Shipping, q4OrderPriority, q5LocalSupplier, p1JsonProps,
      p5Whitelist, p7LogSplit, fScalarDatetime, f13Age, f15MapOps,
      f16VariantJson, f17VariantWide)

  // drift tripwire for [[integralRe]]: the oracles embed the gate
  // literally (no interpolation — see the constant's doc), so an edit
  // to the dirtiness definition that misses a copy would silently
  // desynchronize the engines; this fails on first use instead
  for (d <- Seq(p1JsonProps, f15MapOps, f16VariantJson, f17VariantWide))
    require(d.oracle.exists(_.contains(integralRe)),
      s"${d.name}: oracle's integral gate drifted from Core.integralRe")
}
