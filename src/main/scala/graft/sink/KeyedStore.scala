package graft.sink

import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Keyed result store — the §1.3 sink surface of the reference
  * (MySQL tables written by hand-rolled DAOs). One value model covers
  * all five ad tables: a string key tuple and a long count.
  *
  * Semantics replicated (SURVEY.md §1.3 sink-semantics column):
  *  - `increment`  — ad_user_click_count: `SET click_count=click_count+?`
  *    (reference AdUserClickCountImpl.java:55-76)
  *  - `put`        — ad_stat / ad_click_trend upsert-overwrite
  *    (AdStatImpl.java:58-76, AdClickTrendImpl.java:66-83)
  *  - `insertKey`  — ad_blacklist insert-if-absent (AdBlacklistImpl.java:23)
  *  - `replaceGroup` — ad_province_top3 delete-by-(date,province)+insert
  *    (AdProvinceTop3Impl.java:30-49)
  */
trait KeyedStore extends AutoCloseable {
  def increment(table: String, key: Seq[String], delta: Long): Unit
  def get(table: String, key: Seq[String]): Option[Long]
  def put(table: String, key: Seq[String], value: Long): Unit
  def insertKey(table: String, key: Seq[String]): Unit
  def replaceGroup(table: String, groupPrefix: Seq[String],
      rows: Seq[(Seq[String], Long)]): Unit
  def scan(table: String): Seq[(List[String], Long)]
  /** Keys under a leading-components prefix — the indexed range read a
    * real store serves from its primary key (overridden with a WHERE
    * clause in JdbcStore); the default is correct for any store. */
  def scanPrefix(table: String, prefix: Seq[String]): Seq[(List[String], Long)] =
    scan(table).filter(_._1.startsWith(prefix))
  def close(): Unit

  /** Transaction brackets for exactly-once batch application: every
    * write between txBegin and txCommit lands atomically WITH the
    * batch marker, so a crash mid-batch rolls back rather than
    * leaving half-applied non-idempotent increments. No-op by default
    * (the in-memory test store is not transactional — documented). */
  def txBegin(): Unit = ()
  def txCommit(): Unit = ()
}

/** The store-writer protocol: every streaming foreachBatch body ships
  * its micro-batch frame into a store through exactly one of these
  * three helpers, picked by what a replayed batch would do to the
  * store. All three write executor-side, one store handle per
  * partition (T9); the driver only coordinates.
  *
  *  - [[perPartition]]: idempotent writes (absolute puts, group
  *    replaces) — a replay rewrites the same values, so no
  *    transaction and no ledger.
  *  - [[singleWriter]]: absolute state plus a derived rebuild over
  *    the whole (bounded) table — idempotent, but the puts and the
  *    rebuild must land together, so the batch is one transaction.
  *  - [[exactlyOnce]]: non-idempotent increments, guarded by the
  *    [[Ledger]].
  */
object KeyedStore {

  /** Idempotence ledger for non-idempotent (increment) writes. Keys
    * are (query, scope) where scope is `"batch"` for the batch-grain
    * fast-skip marker or `"p<partitionId>"` for the per-partition
    * ledger; values are `appliedBatchId + 1` (ledger rows are created
    * at 0 by the create-or-lock increment, so 0 must mean "nothing
    * applied" — batch ids start at 0). foreachBatch may re-deliver a
    * batch after a failure, and each PARTITION applies its increments
    * atomically with its ledger row in one store transaction — so a
    * replayed batch re-applies exactly the partitions that did not
    * commit, and nothing twice. Provision this table with the result
    * tables when backing the sink with a real database. */
  val Ledger = "graft_applied_batch"

  /** Idempotent writes: `write` each row through one store handle per
    * partition, with no transaction. */
  def perPartition(df: DataFrame, provider: StoreProvider)(
      write: (KeyedStore, Row) => Unit): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      val store = provider.open()
      try rows.foreach(r => write(store, r))
      finally store.close()
    }

  /** Absolute-state writes: the whole batch in one partition and one
    * transaction; an empty batch opens no store. The narrowing is a
    * `repartition(1)`, not a `coalesce(1)`: on a frame that ends in a
    * stateful operator, a coalesce would pull every state partition
    * into one task, where the shuffle only moves its output. */
  def singleWriter(df: DataFrame, provider: StoreProvider)(
      write: (KeyedStore, Iterator[Row]) => Unit): Unit =
    df.repartition(1).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val s = provider.open()
        try { s.txBegin(); write(s, rows); s.txCommit() }
        finally s.close()
      }
    }

  /** Non-idempotent writes, exactly once per (query, batchId) under
    * foreachBatch replay, whole batch or a single failed task:
    *
    *  1. Batch-grain pre-check: a batch below `(query, "batch")` was
    *     applied in full and returns before `df` — passed by name —
    *     is even built, so a skipped batch computes nothing.
    *  1. `repartition(parts, keys*)`: partition identity is
    *     replay-stable BY CONSTRUCTION, not by config — a
    *     REPARTITION_BY_NUM shuffle that AQE never coalesces, with a
    *     fixed partition count and Spark's deterministic hash
    *     partitioning, so a key maps to the same partition id in every
    *     attempt of every replay. (Relying on an aggregation's own
    *     output partitions would break: AQE coalesces those by runtime
    *     size, which can shift after a partial apply.) `parts` is part
    *     of the ledger's on-disk contract: changing it invalidates
    *     in-flight `p<pid>` rows, so drain the stream first.
    *  1. Per non-empty partition, in one transaction: create-or-lock
    *     the `(query, "p<pid>")` row (an increment of 0 — a row-level
    *     write lock on any real database), THEN read it, and run
    *     `write` only if it is at most `batchId`; then record
    *     `batchId + 1`. Concurrent attempts of the same partition
    *     (speculative execution, a zombie task overlapping its retry)
    *     serialize on the row lock: the second sees the first's
    *     batchId and skips.
    *  1. After the job, mark `(query, "batch")`: a clean replay then
    *     skips at step 1. */
  def exactlyOnce(provider: StoreProvider, query: String, batchId: Long,
      parts: Int, keys: Column*)(df: => DataFrame)(
      write: (KeyedStore, Iterator[Row]) => Unit): Unit = {
    val s0 = provider.open()
    val applied = try s0.get(Ledger, Seq(query, "batch")).getOrElse(0L)
    finally s0.close()
    if (batchId < applied) return
    df.repartition(parts, keys: _*).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val lkey = Seq(query, s"p${TaskContext.getPartitionId()}")
        val s = provider.open()
        try {
          s.txBegin()
          s.increment(Ledger, lkey, 0L)
          if (s.get(Ledger, lkey).getOrElse(0L) <= batchId) {
            write(s, rows)
            s.put(Ledger, lkey, batchId + 1)
          }
          s.txCommit()
        } finally s.close()
      }
    }
    val s2 = provider.open()
    try s2.put(Ledger, Seq(query, "batch"), batchId + 1)
    finally s2.close()
  }
}

/** Executor-side connection factory (the reference's pooled
  * JDBCHelper, T9): each task partition opens its own store handle. */
trait StoreProvider extends Serializable {
  def open(): KeyedStore
}

/** JVM-wide in-memory store, keyed by registry name — the local-mode /
  * test stand-in for MySQL. Thread-safe: sink tasks from 32 executor
  * threads write concurrently. */
object InMemoryStore {
  private val registries =
    new ConcurrentHashMap[String, ConcurrentHashMap[(String, List[String]), java.lang.Long]]()
  private val txLocks =
    new ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  private[sink] def registry(name: String) =
    registries.computeIfAbsent(name, _ => new ConcurrentHashMap())
  private[sink] def txLock(name: String) =
    txLocks.computeIfAbsent(name, _ => new java.util.concurrent.locks.ReentrantLock())
  def clear(name: String): Unit = registries.remove(name)
}

final class InMemoryStore(name: String) extends KeyedStore {
  private val m = InMemoryStore.registry(name)
  private var inTx = false

  /** Transactions here give MUTUAL EXCLUSION only (one registry-wide
    * lock, so the lock-then-check idempotence protocol serializes in
    * tests exactly like a row lock would on a real database) — NOT
    * rollback; a crash mid-tx leaves its writes applied. Use the
    * JdbcStore for rollback semantics. */
  override def txBegin(): Unit = {
    InMemoryStore.txLock(name).lock(); inTx = true
  }
  override def txCommit(): Unit = {
    inTx = false; InMemoryStore.txLock(name).unlock()
  }
  def increment(table: String, key: Seq[String], delta: Long): Unit =
    m.merge((table, key.toList), delta, (a, b) => a + b)
  def get(table: String, key: Seq[String]): Option[Long] =
    Option(m.get((table, key.toList))).map(_.longValue())
  def put(table: String, key: Seq[String], value: Long): Unit =
    m.put((table, key.toList), value)
  def insertKey(table: String, key: Seq[String]): Unit =
    m.putIfAbsent((table, key.toList), 0L)
  def replaceGroup(table: String, groupPrefix: Seq[String],
      rows: Seq[(Seq[String], Long)]): Unit = {
    val p = groupPrefix.toList
    m.keySet.removeIf { case (t, k) => t == table && k.startsWith(p) }
    rows.foreach { case (k, v) => put(table, k, v) }
  }
  def scan(table: String): Seq[(List[String], Long)] = {
    val out = Seq.newBuilder[(List[String], Long)]
    m.forEach { (k, v) => if (k._1 == table) out += ((k._2, v.longValue())) }
    out.result()
  }
  def close(): Unit =
    if (inTx) { inTx = false; InMemoryStore.txLock(name).unlock() } // crash path
}

final case class InMemoryProvider(name: String) extends StoreProvider {
  def open(): KeyedStore = new InMemoryStore(name)
}

/** JDBC-backed store. Table layout: `k1..kN VARCHAR` + `v BIGINT`,
  * primary key (k1..kN). Upserts use the portable update-then-insert
  * pattern of the reference DAOs (works on Derby/MySQL/Postgres
  * without dialect-specific MERGE). Races on first insert retry as an
  * update — same tolerance as the reference's batch writers. */
final class JdbcStore(conn: Connection) extends KeyedStore {

  private def where(n: Int) = (1 to n).map(i => s"k$i = ?").mkString(" AND ")
  /** The filter on a key prefix; an empty prefix is the whole table. */
  private def wherePrefix(n: Int) = if (n == 0) "" else s" WHERE ${where(n)}"
  private def setKeys(st: java.sql.PreparedStatement, key: Seq[String], from: Int = 1): Unit =
    key.zipWithIndex.foreach { case (k, i) => st.setString(from + i, k) }

  private def update(table: String, key: Seq[String], sql: String, v: Long): Int = {
    val st = conn.prepareStatement(sql)
    try { st.setLong(1, v); setKeys(st, key, 2); st.executeUpdate() }
    finally st.close()
  }

  private def insert(table: String, key: Seq[String], v: Long): Unit = {
    val cols = (1 to key.size).map("k" + _).mkString(", ")
    val qs = Seq.fill(key.size + 1)("?").mkString(", ")
    val st = conn.prepareStatement(s"INSERT INTO $table ($cols, v) VALUES ($qs)")
    try { setKeys(st, key); st.setLong(key.size + 1, v); st.executeUpdate() }
    finally st.close()
  }

  /** Duplicate-key detection by SQLState class 23 (integrity
    * violation) rather than exception subclass: MySQL/Derby throw
    * SQLIntegrityConstraintViolationException but PostgreSQL's driver
    * signals 23505 via plain PSQLException. */
  private def isDupKey(e: java.sql.SQLException): Boolean =
    Option(e.getSQLState).exists(_.startsWith("23"))

  def increment(table: String, key: Seq[String], delta: Long): Unit = {
    val n = update(table, key, s"UPDATE $table SET v = v + ? WHERE ${where(key.size)}", delta)
    if (n == 0) try insert(table, key, delta) catch {
      case e: java.sql.SQLException if isDupKey(e) =>
        update(table, key, s"UPDATE $table SET v = v + ? WHERE ${where(key.size)}", delta)
    }
  }

  def put(table: String, key: Seq[String], value: Long): Unit = {
    val n = update(table, key, s"UPDATE $table SET v = ? WHERE ${where(key.size)}", value)
    if (n == 0) try insert(table, key, value) catch {
      case e: java.sql.SQLException if isDupKey(e) =>
        update(table, key, s"UPDATE $table SET v = ? WHERE ${where(key.size)}", value)
    }
  }

  def get(table: String, key: Seq[String]): Option[Long] = {
    val st = conn.prepareStatement(
      s"SELECT v FROM $table WHERE ${where(key.size)}")
    try {
      setKeys(st, key)
      val rs = st.executeQuery()
      if (rs.next()) Some(rs.getLong(1)) else None
    } finally st.close()
  }

  def insertKey(table: String, key: Seq[String]): Unit =
    try insert(table, key, 0L) catch {
      case e: java.sql.SQLException if isDupKey(e) => () // already present
    }

  def replaceGroup(table: String, groupPrefix: Seq[String],
      rows: Seq[(Seq[String], Long)]): Unit = {
    val st = conn.prepareStatement(
      s"DELETE FROM $table${wherePrefix(groupPrefix.size)}")
    try { setKeys(st, groupPrefix); st.executeUpdate() } finally st.close()
    rows.foreach { case (k, v) => insert(table, k, v) }
  }

  def scan(table: String): Seq[(List[String], Long)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT * FROM $table")
      val nk = rs.getMetaData.getColumnCount - 1
      val out = Seq.newBuilder[(List[String], Long)]
      while (rs.next())
        out += (((1 to nk).map(rs.getString).toList, rs.getLong(nk + 1)))
      out.result()
    } finally st.close()
  }

  override def scanPrefix(table: String,
      prefix: Seq[String]): Seq[(List[String], Long)] = {
    val st = conn.prepareStatement(
      s"SELECT * FROM $table${wherePrefix(prefix.size)}")
    try {
      setKeys(st, prefix)
      val rs = st.executeQuery()
      val nk = rs.getMetaData.getColumnCount - 1
      val out = Seq.newBuilder[(List[String], Long)]
      while (rs.next())
        out += (((1 to nk).map(rs.getString).toList, rs.getLong(nk + 1)))
      out.result()
    } finally st.close()
  }

  /** READ COMMITTED is part of the transaction contract: the
    * lock-then-check idempotence protocol ([[KeyedStore.exactlyOnce]]) relies on a
    * plain SELECT after a row lock seeing the LATEST committed value.
    * Under MySQL's default REPEATABLE READ that read is a stale
    * snapshot established at transaction start — a zombie attempt
    * would block on the lock, then read the old ledger value and
    * re-apply. Pin the isolation level instead of inheriting the
    * store's default. */
  override def txBegin(): Unit = {
    conn.setTransactionIsolation(Connection.TRANSACTION_READ_COMMITTED)
    conn.setAutoCommit(false)
  }
  override def txCommit(): Unit = { conn.commit(); conn.setAutoCommit(true) }

  def close(): Unit = {
    if (!conn.getAutoCommit) conn.rollback() // crash path: drop the open tx
    conn.close()
  }
}

final case class JdbcProvider(url: String, props: Map[String, String] = Map.empty)
    extends StoreProvider {
  def open(): KeyedStore = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    new JdbcStore(DriverManager.getConnection(url, p))
  }
}
