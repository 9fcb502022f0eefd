package graft

import graft.streaming.JdbcBatchSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Recording mock of the minimal JDBC surface the sink touches
  * (prepareStatement / setObject / addBatch / executeBatch / close),
  * built on dynamic proxies so no JDBC driver is needed. Local-mode
  * executors share the JVM, so the static log observes executor-side
  * calls. */
object MockJdbc {
  import java.lang.reflect.{InvocationHandler, Method, Proxy}
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def clear(): Unit = log.clear()
  def entries: Seq[String] = { val it = log.iterator(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq }

  private def default(t: Class[_]): AnyRef = t match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case java.lang.Void.TYPE => null
    case _ => null
  }

  private def pstmt(): java.sql.PreparedStatement = {
    val binds = scala.collection.mutable.TreeMap[Int, Any]()
    var pending = 0
    val h = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "setObject" =>
          binds(args(0).asInstanceOf[Integer].intValue()) = args(1); null
        case "addBatch" =>
          log.add("row " + binds.toSeq.map { case (k, v) => s"$k=$v" }.mkString(","))
          pending += 1; null
        case "executeBatch" =>
          log.add(s"flush $pending"); val r = new Array[Int](pending); pending = 0; r
        case "close" => null
        case _ => default(m.getReturnType)
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.PreparedStatement]), h)
      .asInstanceOf[java.sql.PreparedStatement]
  }

  def connection(): java.sql.Connection = {
    val h = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "prepareStatement" => log.add(s"prepare ${args(0)}"); pstmt()
        case "close" => null
        case _ => default(m.getReturnType)
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]), h).asInstanceOf[java.sql.Connection]
  }
}

/** Stateful mock of a transactional JDBC store for the exactly-once
  * sink: INSERT/DELETE statements stage operations on the connection,
  * `commit()` applies them atomically to a shared in-memory table,
  * `rollback()`/`close()`-without-commit discards them. A configurable
  * commit-failure index simulates a crash after the write but before
  * the transaction lands. */
object MockJdbcDb {
  import java.lang.reflect.{InvocationHandler, Method, Proxy}
  import scala.collection.mutable

  // multi-table store: the ledgered sink spans three tables (data,
  // <t>_stage, <t>_ledger) whose contents must stay distinguishable
  private val tables = mutable.Map[String, mutable.Buffer[Map[String, Any]]]()
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val commitSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failCommitAt: Int = -1 // 1-based commit index to fail once

  def clear(): Unit = synchronized {
    tables.clear(); log.clear(); commitSeq.set(0); failCommitAt = -1
  }
  def rows: Seq[Map[String, Any]] = synchronized { tables.values.flatten.toVector }
  def rowsOf(table: String): Seq[Map[String, Any]] =
    synchronized { tables.getOrElse(table, mutable.Buffer.empty).toVector }
  def entries: Seq[String] = { val it = log.iterator(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq }

  private sealed trait Op
  private final case class Delete(table: String, where: Map[String, Any]) extends Op
  private final case class Insert(table: String, row: Map[String, Any]) extends Op
  private final case class InsertSelect(dst: String, cols: Seq[String],
      src: String, whereCol: String, bind: Any) extends Op

  private def matches(r: Map[String, Any], where: Map[String, Any]): Boolean =
    where.forall { case (c, v) => r.get(c).map(String.valueOf).contains(String.valueOf(v)) }
  private def buf(t: String): mutable.Buffer[Map[String, Any]] =
    tables.getOrElseUpdate(t, mutable.Buffer.empty)

  // transaction apply: sequential within one synchronized block, so an
  // INSERT..SELECT in the same txn as the staging DELETE that follows
  // it sees the pre-delete source rows — statement order, like a real
  // transactional store
  private def applyOps(ops: Seq[Op]): Unit = synchronized {
    ops.foreach {
      case Delete(t, where) =>
        val b = buf(t); val survivors = b.filterNot(matches(_, where))
        b.clear(); b ++= survivors
      case Insert(t, row) => buf(t) += row
      case InsertSelect(dst, cols, src, whereCol, bind) =>
        buf(dst) ++= buf(src).toVector
          .filter(matches(_, Map(whereCol -> bind)))
          .map(r => cols.map(c => c -> r.getOrElse(c, null)).toMap)
    }
  }

  private def default(t: Class[_]): AnyRef = t match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case java.lang.Void.TYPE => null
    case _ => null
  }

  private val deleteRe = "(?i)DELETE FROM (\\S+)".r
  private val insertRe = "(?i)INSERT INTO (\\S+)".r
  private val selectFromRe = "(?i)SELECT .*? FROM (\\S+)".r
  private val whereColRe = "(\\w+) = \\?".r
  private def insertCols(sql: String): Seq[String] =
    sql.substring(sql.indexOf('(') + 1, sql.indexOf(')')).split(",").map(_.trim).toSeq

  private def resultSet(hasRow: Boolean): java.sql.ResultSet = {
    var consumed = false
    val h = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "next" =>
          val r = hasRow && !consumed; consumed = true; java.lang.Boolean.valueOf(r)
        case "close" => null
        case _ => default(m.getReturnType)
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.ResultSet]), h).asInstanceOf[java.sql.ResultSet]
  }

  private def stmt(sql: String, staged: mutable.Buffer[Op]): java.sql.PreparedStatement = {
    val trimmed = sql.trim
    val upper = trimmed.toUpperCase
    val binds = mutable.TreeMap[Int, Any]()
    val pending = mutable.Buffer[Map[String, Any]]()
    def whereMap(): Map[String, Any] =
      whereColRe.findAllMatchIn(trimmed).map(_.group(1)).zipWithIndex
        .map { case (c, i) => c -> binds(i + 1) }.toMap
    val h = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "setObject" => binds(args(0).asInstanceOf[Integer].intValue()) = args(1); null
        case "addBatch" =>
          val cols = insertCols(trimmed)
          pending += cols.zipWithIndex.map { case (c, i) => c -> binds.getOrElse(i + 1, null) }.toMap; null
        case "executeBatch" =>
          val t = insertRe.findFirstMatchIn(trimmed).get.group(1)
          val n = pending.size; staged ++= pending.map(Insert(t, _)); pending.clear(); new Array[Int](n)
        case "executeUpdate" =>
          if (upper.startsWith("DELETE"))
            staged += Delete(deleteRe.findFirstMatchIn(trimmed).get.group(1), whereMap())
          else if (upper.startsWith("INSERT") && upper.contains(" SELECT "))
            staged += InsertSelect(
              insertRe.findFirstMatchIn(trimmed).get.group(1), insertCols(trimmed),
              selectFromRe.findFirstMatchIn(trimmed.substring(trimmed.indexOf(')'))).get.group(1),
              whereColRe.findFirstMatchIn(trimmed).get.group(1), binds(1))
          else { // INSERT .. VALUES via executeUpdate (the ledger row)
            val cols = insertCols(trimmed)
            staged += Insert(insertRe.findFirstMatchIn(trimmed).get.group(1),
              cols.zipWithIndex.map { case (c, i) => c -> binds.getOrElse(i + 1, null) }.toMap)
          }
          Integer.valueOf(0)
        case "executeQuery" => // SELECT 1 FROM t WHERE c = ? (ledger check)
          val t = selectFromRe.findFirstMatchIn(trimmed).get.group(1)
          val hit = MockJdbcDb.synchronized {
            tables.getOrElse(t, mutable.Buffer.empty).exists(matches(_, whereMap()))
          }
          resultSet(hit)
        case "close" => null
        case _ => default(m.getReturnType)
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.PreparedStatement]), h)
      .asInstanceOf[java.sql.PreparedStatement]
  }

  def connection(): java.sql.Connection = {
    val staged = mutable.Buffer[Op]()
    val h = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "setAutoCommit" => log.add("begin"); null
        case "prepareStatement" => stmt(args(0).asInstanceOf[String], staged)
        case "commit" =>
          val n = commitSeq.incrementAndGet()
          if (n == failCommitAt) { log.add("commit-fail"); throw new java.sql.SQLException(s"injected commit failure #$n") }
          applyOps(staged.toSeq); staged.clear(); log.add("commit"); null
        case "rollback" => staged.clear(); log.add("rollback"); null
        case "close" => staged.clear(); null
        case _ => default(m.getReturnType)
      }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]), h).asInstanceOf[java.sql.Connection]
  }
}

/** The three contract points of ClickHouseUtil.java: declaration-order
  * positional binding, skip-annotated-field offset shift, flush at
  * batch size (plus tail flush). */
class JdbcBatchSinkSpec extends SparkSuite {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("binds columns positionally in declaration order, skipping transient fields") {
    MockJdbc.clear()
    // `trace` sits in the MIDDLE so the offset shift is observable:
    // amount must land at position 3, not 4
    val df = Seq((1L, "a", "t0", 10.5), (2L, "b", "t1", 20.5))
      .toDF("id", "name", "trace", "amount")
      .coalesce(1).sortWithinPartitions("id")
    JdbcBatchSink.writeBatch(df, "product_stats", () => MockJdbc.connection(),
      batchSize = 5, transientCols = Set("trace"))
    val e = MockJdbc.entries
    assert(e.head === "prepare INSERT INTO product_stats (id,name,amount) VALUES (?,?,?)")
    assert(e.contains("row 1=1,2=a,3=10.5"))
    assert(e.contains("row 1=2,2=b,3=20.5"))
  }

  test("flushes every batchSize rows and once more for the tail") {
    MockJdbc.clear()
    val df = spark.range(7).toDF("id").coalesce(1)
    JdbcBatchSink.writeBatch(df, "t", () => MockJdbc.connection(), batchSize = 5)
    val flushes = MockJdbc.entries.filter(_.startsWith("flush"))
    assert(flushes === Seq("flush 5", "flush 2"))
  }

  test("streaming form writes each micro-batch through the same contract") {
    MockJdbc.clear()
    val in = MemoryStream[(Long, String)]
    val q = JdbcBatchSink.sink(in.toDS().toDF("id", "v"), "dws_t",
      () => MockJdbc.connection(), batchSize = 2).start()
    in.addData((1L, "x"), (2L, "y"), (3L, "z"))
    q.processAllAvailable()
    q.stop()
    val e = MockJdbc.entries
    assert(e.exists(_ == "prepare INSERT INTO dws_t (id,v) VALUES (?,?)"))
    assert(e.count(_.startsWith("row")) === 3)
    // every row flushed: flush counts sum to the row count
    val flushed = e.filter(_.startsWith("flush")).map(_.split(" ")(1).toInt).sum
    assert(flushed === 3)
  }

  // ---- exactly-once form (batchId-keyed transactional commit) ----

  private def dataRows(bid: Long): Seq[(Any, Any)] =
    MockJdbcDb.rows.filter(r => String.valueOf(r(JdbcBatchSink.BatchIdCol)) == bid.toString)
      .map(r => (r("id"), r("v"))).sortBy(t => String.valueOf(t._1))

  test("exactly-once: rows land once with ledger columns and txn boundaries") {
    MockJdbcDb.clear()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v").repartition(2)
    JdbcBatchSink.writeBatchExactlyOnce(df, "dws_t", () => MockJdbcDb.connection(),
      batchId = 7L, batchSize = 2)
    val rs = MockJdbcDb.rows
    assert(rs.size === 4)
    assert(rs.forall(r => String.valueOf(r(JdbcBatchSink.BatchIdCol)) == "7" &&
      r.contains(JdbcBatchSink.PartIdCol)))
    // one driver txn (whole-batch delete) + one per partition, all committed
    val e = MockJdbcDb.entries
    assert(e.count(_ == "begin") === 3)
    assert(e.count(_ == "commit") === 3)
    assert(!e.contains("rollback"))
  }

  test("exactly-once: replaying the same batchId leaves counts and content unchanged") {
    MockJdbcDb.clear()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v").repartition(2)
    JdbcBatchSink.writeBatchExactlyOnce(df, "dws_t", () => MockJdbcDb.connection(),
      batchId = 7L, batchSize = 2)
    val first = dataRows(7L)
    // crash-after-write replay: same batchId, DIFFERENT partitioning —
    // the driver-level batchId delete must still clear every prior row
    JdbcBatchSink.writeBatchExactlyOnce(df.coalesce(1), "dws_t", () => MockJdbcDb.connection(),
      batchId = 7L, batchSize = 2)
    assert(MockJdbcDb.rows.size === 4)
    assert(dataRows(7L) === first)
  }

  test("exactly-once: distinct batches accumulate; a replay clears only its own batch") {
    MockJdbcDb.clear()
    val mk = () => MockJdbcDb.connection()
    JdbcBatchSink.writeBatchExactlyOnce(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), "t", mk, batchId = 0L)
    JdbcBatchSink.writeBatchExactlyOnce(
      Seq((4L, "d"), (5L, "e")).toDF("id", "v").coalesce(1), "t", mk, batchId = 1L)
    JdbcBatchSink.writeBatchExactlyOnce( // replay of batch 0
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1), "t", mk, batchId = 0L)
    assert(MockJdbcDb.rows.size === 5)
    assert(dataRows(0L).size === 3)
    assert(dataRows(1L).size === 2)
  }

  test("exactly-once: a torn attempt rolls back; the retry lands rows exactly once") {
    MockJdbcDb.clear()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
    val mk = () => MockJdbcDb.connection()
    // commit #1 = driver delete txn; #2 = the single partition's insert txn
    MockJdbcDb.failCommitAt = 2
    intercept[Throwable] {
      JdbcBatchSink.writeBatchExactlyOnce(df, "t", mk, batchId = 3L)
    }
    assert(MockJdbcDb.rows.isEmpty, "torn attempt must leave no committed rows")
    assert(MockJdbcDb.entries.contains("rollback"))
    JdbcBatchSink.writeBatchExactlyOnce(df, "t", mk, batchId = 3L)
    assert(MockJdbcDb.rows.size === 3)
    assert(dataRows(3L).size === 3)
  }

  // ---- side-ledger form: data table keeps the clean bean schema ----

  test("ledgered: rows promote to a bookkeeping-free data table; stage drains; ledger records the batch") {
    MockJdbcDb.clear()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v").repartition(2)
    JdbcBatchSink.writeBatchExactlyOnceLedgered(df, "dws_t", () => MockJdbcDb.connection(),
      batchId = 7L, batchSize = 2)
    val data = MockJdbcDb.rowsOf("dws_t")
    assert(data.size === 4)
    // the whole point: the data table carries ONLY the bean columns
    assert(data.forall(r => r.keySet === Set("id", "v")),
      s"bookkeeping leaked into the data table: ${data.head.keySet}")
    assert(MockJdbcDb.rowsOf("dws_t_stage").isEmpty, "stage must drain on promote")
    assert(MockJdbcDb.rowsOf("dws_t_ledger").map(r => String.valueOf(r("batch_id"))) === Seq("7"))
  }

  test("ledgered: a replay after a full promote is skipped outright — data, stage and ledger untouched") {
    MockJdbcDb.clear()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
    val mk = () => MockJdbcDb.connection()
    JdbcBatchSink.writeBatchExactlyOnceLedgered(df, "t", mk, batchId = 0L)
    val first = MockJdbcDb.rowsOf("t").sortBy(r => String.valueOf(r("id")))
    val commitsAfterFirst = MockJdbcDb.entries.count(_ == "commit")
    // crash-after-promote replay: same batchId, different partitioning
    JdbcBatchSink.writeBatchExactlyOnceLedgered(df.repartition(2), "t", mk, batchId = 0L)
    assert(MockJdbcDb.rowsOf("t").sortBy(r => String.valueOf(r("id"))) === first)
    assert(MockJdbcDb.rowsOf("t_stage").isEmpty, "a skipped replay must not re-stage")
    assert(MockJdbcDb.rowsOf("t_ledger").size === 1)
    assert(MockJdbcDb.entries.count(_ == "commit") === commitsAfterFirst,
      "a promoted batch's replay must not open any transaction")
  }

  test("ledgered: a torn promote rolls back (stage intact, no ledger row); the retry lands exactly once") {
    MockJdbcDb.clear()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
    val mk = () => MockJdbcDb.connection()
    // commit #1 = staging whole-batch clear; #2 = the partition txn;
    // #3 = the promote txn — fail that one
    MockJdbcDb.failCommitAt = 3
    intercept[Throwable] {
      JdbcBatchSink.writeBatchExactlyOnceLedgered(df, "t", mk, batchId = 5L)
    }
    assert(MockJdbcDb.rowsOf("t").isEmpty, "torn promote must leave the data table untouched")
    assert(MockJdbcDb.rowsOf("t_stage").size === 3, "staged rows survive a torn promote for the retry")
    assert(MockJdbcDb.rowsOf("t_ledger").isEmpty)
    assert(MockJdbcDb.entries.contains("rollback"))
    JdbcBatchSink.writeBatchExactlyOnceLedgered(df, "t", mk, batchId = 5L)
    assert(MockJdbcDb.rowsOf("t").size === 3)
    assert(MockJdbcDb.rowsOf("t").forall(r => r.keySet === Set("id", "v")))
    assert(MockJdbcDb.rowsOf("t_stage").isEmpty)
    assert(MockJdbcDb.rowsOf("t_ledger").size === 1)
  }

  test("ledgered streaming form: distinct batches accumulate in the clean table, one ledger row each") {
    MockJdbcDb.clear()
    val in = MemoryStream[(Long, String)]
    val q = JdbcBatchSink.sinkExactlyOnceLedgered(in.toDS().toDF("id", "v"), "dws_t",
      () => MockJdbcDb.connection(), batchSize = 2).start()
    in.addData((1L, "x"), (2L, "y"))
    q.processAllAvailable()
    in.addData((3L, "z"))
    q.processAllAvailable()
    q.stop()
    assert(MockJdbcDb.rowsOf("dws_t").size === 3)
    assert(MockJdbcDb.rowsOf("dws_t").forall(r => r.keySet === Set("id", "v")))
    assert(MockJdbcDb.rowsOf("dws_t_stage").isEmpty)
    assert(MockJdbcDb.rowsOf("dws_t_ledger").map(r => String.valueOf(r("batch_id"))).sorted === Seq("0", "1"))
  }

  test("exactly-once streaming form threads the foreachBatch batchId through") {
    MockJdbcDb.clear()
    val in = MemoryStream[(Long, String)]
    val q = JdbcBatchSink.sinkExactlyOnce(in.toDS().toDF("id", "v"), "dws_t",
      () => MockJdbcDb.connection(), batchSize = 2).start()
    in.addData((1L, "x"), (2L, "y"))
    q.processAllAvailable()
    in.addData((3L, "z"))
    q.processAllAvailable()
    q.stop()
    assert(MockJdbcDb.rows.size === 3)
    val bids = MockJdbcDb.rows.map(r => String.valueOf(r(JdbcBatchSink.BatchIdCol))).toSet
    assert(bids === Set("0", "1"))
  }

  test("exactly-once forms on embedded Derby: a replayed batch and a ledgered batch land every row once") {
    // a real SQL dialect instead of the mock: Derby parses the ledger
    // columns, the transactions and the INSERT..SELECT promote itself
    val url = "jdbc:derby:memory:graft_sink_spec;create=true"
    val mk = () => java.sql.DriverManager.getConnection(url)
    def exec(sql: String): Unit = {
      val c = mk()
      try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
      finally c.close()
    }
    def rows(sql: String): Seq[List[String]] = {
      val c = mk()
      try {
        val rs = c.createStatement().executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        try Iterator.continually(rs).takeWhile(_.next())
          .map(r => (1 to n).map(r.getString).toList).toVector
        finally rs.close()
      } finally c.close()
    }
    val ledgerCols = s"${JdbcBatchSink.BatchIdCol} BIGINT, ${JdbcBatchSink.PartIdCol} INT"
    try {
      exec(s"CREATE TABLE dws_t (id BIGINT, v VARCHAR(8), $ledgerCols)")
      exec("CREATE TABLE dws_l (id BIGINT, v VARCHAR(8))")
      exec(s"CREATE TABLE dws_l_stage (id BIGINT, v VARCHAR(8), $ledgerCols)")
      exec("CREATE TABLE dws_l_ledger (batch_id BIGINT)")
      val input = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      val expected = input.map { case (id, v) => List(id.toString, v) }
      val df = input.toDF("id", "v").repartition(2)
      JdbcBatchSink.writeBatchExactlyOnce(df, "dws_t", mk, batchId = 7L, batchSize = 2)
      // replay of the same batchId with a different partitioning
      JdbcBatchSink.writeBatchExactlyOnce(df.coalesce(1), "dws_t", mk, batchId = 7L,
        batchSize = 2)
      assert(rows("SELECT id, v FROM dws_t ORDER BY id") === expected)
      assert(rows(s"SELECT COUNT(*) FROM dws_t WHERE ${JdbcBatchSink.BatchIdCol} = 7") ===
        Seq(List("4")))
      JdbcBatchSink.writeBatchExactlyOnceLedgered(df, "dws_l", mk, batchId = 3L, batchSize = 2)
      assert(rows("SELECT id, v FROM dws_l ORDER BY id") === expected)
      assert(rows("SELECT COUNT(*) FROM dws_l_stage") === Seq(List("0")))
      assert(rows("SELECT batch_id FROM dws_l_ledger") === Seq(List("3")))
    } finally {
      // dropping an in-memory database reports success as SQLState 08006
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graft_sink_spec;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
  }
}
