package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** K3 — the JDBC batch sink contract of the reference
  * (`gmall-realtime/.../utils/ClickHouseUtil.java:20-54`): positional
  * `?` binding in BEAN-DECLARATION ORDER (reflection over
  * `getDeclaredFields`), fields carrying the sink annotation are
  * SKIPPED and every later position shifts left by one (`offset`), and
  * the statement flushes every `batchSize` rows
  * (`JdbcExecutionOptions.withBatchSize(5)`), plus a final flush for
  * the tail.
  *
  * Spark re-expression: the bean is the Row + its schema (schema field
  * order IS declaration order for a case-class-derived frame), the
  * annotation is the `transientCols` set, and the sink runs inside
  * `foreachBatch` → per-partition connections — one connection per
  * partition per micro-batch, the same granularity Flink's JdbcSink
  * gives one per sink subtask. The `Connection` factory is pluggable:
  * a mock in tests, `DriverManager.getConnection(url)` in a real
  * deployment — the binding/flush contract is identical either way.
  *
  * Scale: executors write in parallel per partition; the driver never
  * sees a row. Batch flushing bounds statement memory; connection
  * lifetime is one partition iteration. */
object JdbcBatchSink {

  /** INSERT statement over the non-transient columns, in declaration
    * order. */
  def insertSql(table: String, schema: StructType, transientCols: Set[String]): String = {
    val cols = schema.fields.map(_.name).filterNot(transientCols)
    s"INSERT INTO $table (${cols.mkString(",")}) VALUES (${cols.map(_ => "?").mkString(",")})"
  }

  /** Write one (micro-)batch. `connFactory` must be serializable — it
    * is invoked once per partition on the executor. */
  def writeBatch(
      df: DataFrame,
      table: String,
      connFactory: () => java.sql.Connection,
      batchSize: Int = 5,
      transientCols: Set[String] = Set.empty): Unit = {
    val schema = df.schema
    val sql = insertSql(table, schema, transientCols)
    // declaration-order positions with the reference's offset shift:
    // transient fields vacate their slot and later fields move up
    val boundIdx = schema.fields.zipWithIndex
      .filterNot { case (f, _) => transientCols(f.name) }
      .map(_._2)
    df.rdd.foreachPartition { rows: Iterator[Row] =>
      val conn = connFactory()
      try {
        val ps = conn.prepareStatement(sql)
        try {
          var pending = 0
          for (row <- rows) {
            var pos = 1
            for (i <- boundIdx) {
              ps.setObject(pos, row.get(i).asInstanceOf[AnyRef])
              pos += 1
            }
            ps.addBatch()
            pending += 1
            if (pending == batchSize) { ps.executeBatch(); pending = 0 }
          }
          if (pending > 0) ps.executeBatch() // tail flush (close-time flush)
        } finally ps.close()
      } finally conn.close()
    }
  }

  /** Streaming form: `foreachBatch` wrapper around [[writeBatch]] —
    * the `JdbcSink.sink(...)` shape the reference attaches to its DWS
    * streams. At-least-once, faithful to the reference
    * (`utils/ClickHouseUtil.java:20-54` re-INSERTs a replayed batch
    * and relies on ClickHouse's engine-side dedup); see
    * [[sinkExactlyOnce]] for the upgraded contract. */
  def sink(
      df: DataFrame,
      table: String,
      connFactory: () => java.sql.Connection,
      batchSize: Int = 5,
      transientCols: Set[String] = Set.empty): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        writeBatch(batch, table, connFactory, batchSize, transientCols)
    }

  /** Exactly-once form of [[writeBatch]]: foreachBatch replays a
    * failed micro-batch with the SAME batchId, so idempotence =
    * batchId-keyed delete-then-insert, each leg transactional. Two
    * layers of replay exist and each gets its own ledger key:
    *
    *   - **whole-batch replay** (crash after sink write, before the
    *     streaming checkpoint commit): a driver-side transaction
    *     `DELETE FROM t WHERE graft_batch_id = ?` clears EVERY row of the
    *     prior attempt — keyed on batchId alone because the replay may
    *     repartition differently than the first attempt;
    *   - **task retry within one attempt**: each partition's
    *     transaction opens with `DELETE ... WHERE graft_batch_id = ?
    *     AND graft_part_id = ?` before its inserts, so a re-executed task lands
    *     its rows once even when other partitions already committed.
    *
    * Rows carry two ledger columns (`graft_batch_id BIGINT`,
    * `graft_part_id INT`) appended after the data columns; a torn attempt
    * (crash mid-transaction) rolls back and leaves nothing. This is
    * the `ExactlyOnceSink`/`statsMerge` commit discipline re-expressed
    * for a JDBC target that supports transactions — the delete leg is
    * a no-op on the happy path and exactly the prior attempt on
    * replay. */
  def writeBatchExactlyOnce(
      df: DataFrame,
      table: String,
      connFactory: () => java.sql.Connection,
      batchId: Long,
      batchSize: Int = 5,
      transientCols: Set[String] = Set.empty): Unit = {
    val schema = df.schema
    require(!schema.fieldNames.contains(BatchIdCol) && !schema.fieldNames.contains(PartIdCol),
      s"input schema must not already carry the ledger columns $BatchIdCol/$PartIdCol")
    val cols = schema.fields.map(_.name).filterNot(transientCols) :+ BatchIdCol :+ PartIdCol
    val insSql = s"INSERT INTO $table (${cols.mkString(",")}) VALUES (${cols.map(_ => "?").mkString(",")})"
    val boundIdx = schema.fields.zipWithIndex
      .filterNot { case (f, _) => transientCols(f.name) }
      .map(_._2)

    // driver-side whole-batch clear: one txn, keyed on batchId only
    inTxn(connFactory()) { conn =>
      val del = conn.prepareStatement(s"DELETE FROM $table WHERE $BatchIdCol = ?")
      try { del.setObject(1, java.lang.Long.valueOf(batchId)); del.executeUpdate() }
      finally del.close()
    }

    df.rdd.foreachPartition { rows: Iterator[Row] =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      inTxn(connFactory()) { conn =>
        // task-retry clear: this partition's rows from a failed prior task
        val del = conn.prepareStatement(
          s"DELETE FROM $table WHERE $BatchIdCol = ? AND $PartIdCol = ?")
        try {
          del.setObject(1, java.lang.Long.valueOf(batchId))
          del.setObject(2, Integer.valueOf(pid))
          del.executeUpdate()
        } finally del.close()
        val ps = conn.prepareStatement(insSql)
        try {
          var pending = 0
          for (row <- rows) {
            var pos = 1
            for (i <- boundIdx) {
              ps.setObject(pos, row.get(i).asInstanceOf[AnyRef])
              pos += 1
            }
            ps.setObject(pos, java.lang.Long.valueOf(batchId))
            ps.setObject(pos + 1, Integer.valueOf(pid))
            ps.addBatch()
            pending += 1
            if (pending == batchSize) { ps.executeBatch(); pending = 0 }
          }
          if (pending > 0) ps.executeBatch()
        } finally ps.close()
      }
    }
  }

  /** Side-ledger variant of [[writeBatchExactlyOnce]]: the DATA table
    * keeps the clean bean schema — no `graft_batch_id`/`graft_part_id` columns,
    * matching the reference's wide-stats tables, which carry no
    * bookkeeping (`utils/ClickHouseUtil.java:20-54`) — and the replay
    * bookkeeping lives in two companions:
    *
    *   - `<table>_stage`: the micro-batch lands here first, through
    *     the SAME two-layer transactional discipline as
    *     [[writeBatchExactlyOnce]] (whole-batch clear + per-partition
    *     keyed delete+insert txns) — this is where the ledger columns
    *     live, and it is empty in steady state;
    *   - `<table>_ledger`: one row per PROMOTED batch — the batch's
    *     commit record.
    *
    * Promotion is one driver-side transaction of three server-side
    * statements (`INSERT INTO t SELECT … FROM stage WHERE graft_batch_id=?`;
    * ledger insert; stage clear) — no row ever moves through the
    * driver, so promote cost is the store's own bulk-copy, not a
    * second network write of the batch.
    *
    * Replay matrix: a crash before promote re-stages idempotently and
    * promotes once; a torn promote rolls back (stage intact, no ledger
    * row) and the retry re-runs it; a crash AFTER promote but before
    * the streaming checkpoint commit replays into the ledger check,
    * which skips the whole batch — the data table is never touched
    * twice. The ledger check must come FIRST and gate staging too:
    * promote already cleared the staging rows, and re-staging a
    * promoted batch would leave orphans there.
    *
    * CHECKPOINT-RESET HAZARD (divergence from
    * [[writeBatchExactlyOnce]], which overwrites by batch id): the
    * ledger keys replays on `batchId` ALONE, and a stream restarted
    * against a FRESH checkpoint re-issues batchIds from 0 — those
    * batches match old ledger rows and their NEW data is silently
    * skipped. Resetting the checkpoint therefore requires resetting
    * (truncating) `<table>_ledger` and `<table>_stage` with it — or
    * pointing at fresh tables — exactly as the non-ledgered form
    * requires clearing the data table itself. */
  def writeBatchExactlyOnceLedgered(
      df: DataFrame,
      table: String,
      connFactory: () => java.sql.Connection,
      batchId: Long,
      batchSize: Int = 5,
      transientCols: Set[String] = Set.empty): Unit = {
    val stage = s"${table}_stage"
    val ledger = s"${table}_ledger"
    val promoted = {
      val conn = connFactory()
      try {
        val q = conn.prepareStatement(s"SELECT 1 FROM $ledger WHERE batch_id = ?")
        try {
          q.setObject(1, java.lang.Long.valueOf(batchId))
          val rs = q.executeQuery()
          try rs.next() finally rs.close()
        } finally q.close()
      } finally conn.close()
    }
    if (promoted) return
    writeBatchExactlyOnce(df, stage, connFactory, batchId, batchSize, transientCols)
    val cols = df.schema.fields.map(_.name).filterNot(transientCols)
    inTxn(connFactory()) { conn =>
      def run(sql: String): Unit = {
        val ps = conn.prepareStatement(sql)
        try { ps.setObject(1, java.lang.Long.valueOf(batchId)); ps.executeUpdate(); () }
        finally ps.close()
      }
      run(s"INSERT INTO $table (${cols.mkString(",")}) " +
        s"SELECT ${cols.mkString(",")} FROM $stage WHERE $BatchIdCol = ?")
      run(s"INSERT INTO $ledger (batch_id) VALUES (?)")
      run(s"DELETE FROM $stage WHERE $BatchIdCol = ?")
    }
  }

  /** Streaming writer over [[writeBatchExactlyOnceLedgered]] — the
    * exactly-once JDBC sink whose data table keeps the bean schema. */
  def sinkExactlyOnceLedgered(
      df: DataFrame,
      table: String,
      connFactory: () => java.sql.Connection,
      batchSize: Int = 5,
      transientCols: Set[String] = Set.empty): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeBatchExactlyOnceLedgered(batch, table, connFactory, batchId, batchSize, transientCols)
    }

  /** Streaming writer over [[writeBatchExactlyOnce]]: checkpointed
    * source offsets + batchId-keyed transactional commit = end-to-end
    * exactly-once into a transactional JDBC store. */
  def sinkExactlyOnce(
      df: DataFrame,
      table: String,
      connFactory: () => java.sql.Connection,
      batchSize: Int = 5,
      transientCols: Set[String] = Set.empty): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        writeBatchExactlyOnce(batch, table, connFactory, batchId, batchSize, transientCols)
    }

  /** Ledger column names: plain identifiers every SQL dialect accepts
    * unquoted (Derby, for one, rejects a leading underscore). */
  val BatchIdCol = "graft_batch_id"
  val PartIdCol = "graft_part_id"

  /** begin(setAutoCommit(false)) → body → commit, rollback on any
    * failure, connection always closed. */
  private def inTxn(conn: java.sql.Connection)(body: java.sql.Connection => Unit): Unit =
    try {
      conn.setAutoCommit(false)
      try { body(conn); conn.commit() }
      catch {
        case t: Throwable =>
          try conn.rollback() catch { case r: Throwable => t.addSuppressed(r) }
          throw t
      }
    } finally conn.close()
}
