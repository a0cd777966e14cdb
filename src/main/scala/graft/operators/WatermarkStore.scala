package graft.operators

import java.sql.Timestamp

/** Where the CDC cycle keeps its per-table watermarks (S6/S7), selectable
  * per deployment (VERDICT r15 task 2).
  *
  * The reference keeps its watermark table IN the source database via
  * `INSERT … ON DUPLICATE KEY UPDATE` (`service_layer/service.py:35-46`);
  * the engine's default is the crash-safe versioned parquet store beside
  * the sink ([[ParquetWatermarkStore]]). A deployment that wants state
  * where the reference keeps it binds [[JdbcWatermarkStore]] instead —
  * same upsert semantics, transactional.
  *
  * Contract shared by every binding:
  *  - `get`/`readAll` are driver-side — never a Spark job.
  *  - `update` is an UPSERT with last-writer-wins-by-MAX merge: committing
  *    an OLDER timestamp than the stored one is a no-op (re-runs and
  *    crash-retries can replay earlier commits; the watermark must never
  *    move backwards).
  *  - `update` is atomic and crash-safe: a crash mid-commit leaves the
  *    previous value readable, never a torn or absent row.
  *  - `onBeforeCommit` is a crash-injection test hook that runs after the
  *    new value is staged but before it becomes visible. */
trait WatermarkStore {

  /** S6: one table's watermark; None if the table was never synced. */
  def get(tableName: String): Option[Timestamp]

  /** The whole store — one read per cycle, shared across tables. */
  def readAll(): Map[String, Timestamp]

  /** S7: upsert with max-merge (see trait doc). */
  def update(tableName: String, ts: Timestamp,
      onBeforeCommit: () => Unit = () => ()): Unit

  /** The cycle announces its worker parallelism before a tick (VERDICT
    * r17 task 6): a pooled binding sizes its warm connection set to it.
    * Advisory — bindings without pooling ignore it. */
  def hintParallelism(n: Int): Unit = ()
}

/** The engine's default binding: one versioned parquet store beside the
  * sink, read and rewritten on the driver (the store section of [[Cdc]]):
  * crash-safe pointer commits, readable by any parquet engine. `update`
  * is a read-modify-write under the store's lock — streaming tables
  * commit from their own threads — keyed by table_name, last-writer-wins
  * by max; parquet has no MERGE, so it writes the whole (tiny) store into
  * the next version directory and flips the pointer
  * ([[Cdc.atomicOverwriteWith]]). */
final case class ParquetWatermarkStore(stateDir: String) extends WatermarkStore {
  def get(tableName: String): Option[Timestamp] = readAll().get(tableName)
  def readAll(): Map[String, Timestamp] = Cdc.readWatermarkMap(stateDir)
  def update(tableName: String, ts: Timestamp,
      onBeforeCommit: () => Unit = () => ()): Unit = {
    val path = Cdc.watermarkStorePath(stateDir)
    Cdc.storeLock(path).synchronized {
      val current = Cdc.readStoreMap(path)
      val winner = current.get(tableName).filter(_.after(ts)).getOrElse(ts)
      Cdc.atomicOverwriteWith(path,
        Cdc.writeWatermarkFile(_, current + (tableName -> winner)), onBeforeCommit)
    }
  }
}

/** Watermark state in a live database — the reference's literal shape
  * (`service_layer/service.py:35-46` keeps a `watermark` table in MySQL
  * and upserts with `INSERT … ON DUPLICATE KEY UPDATE`).
  *
  * The upsert here is the PORTABLE transactional form of that statement
  * (Derby has no native upsert; MySQL's is not standard SQL): inside one
  * transaction, a guarded `UPDATE … WHERE last_updated < ?` implements
  * the max-merge, a zero-row update falls through to `INSERT`, and a
  * duplicate-key race on the insert (two first-commits for one table)
  * retries the update — the loop terminates because after any concurrent
  * insert lands, the update path always applies. Row-level locks from the
  * database serialize concurrent writers ACROSS processes — a capability
  * the parquet store's driver-local locks deliberately do not claim.
  *
  * Connections are POOLED per store (VERDICT r16 task 1): a fleet tick
  * fronts thousands of get/update calls, and a connection handshake per
  * call was the commit path's dominant fixed cost — the reference
  * amortizes one connection across its whole cycle the same way
  * (`utils/mysql_connect.py:5-17`). At most [[poolMaxIdle]] connections
  * stay warm (steady state: one per cycle worker); 0 restores the
  * connection-per-call shape. A connection whose call threw is
  * discarded, never reused.
  *
  * The store table is created on first use when absent
  * (`controller/controller.py:23-24` ships the same CREATE TABLE IF NOT
  * EXISTS shape). */
final case class JdbcWatermarkStore(
    url: String,
    user: String = "",
    password: String = "",
    table: String = Cdc.WatermarkTable,
    poolMaxIdle: Int = 8) extends WatermarkStore {

  @transient private lazy val pool =
    new graft.sources.JdbcConnections.Pool(url, user, password, poolMaxIdle)

  /** Physical connections opened — the amortization pin (VERDICT r16 #1). */
  def connectionsOpened: Long = pool.openedCount

  /** Drop the warm connections (e.g. when retiring the store). */
  def closePool(): Unit = pool.drain()

  /** Pool capacity follows the cycle's parallelism (VERDICT r17 task 6);
    * an explicit `poolMaxIdle = 0` stays unpooled. */
  override def hintParallelism(n: Int): Unit = pool.ensureIdleCapacity(n)

  /** Create-if-absent via the portable metadata probe (CREATE TABLE IF NOT
    * EXISTS is not Derby SQL). Idempotent; a concurrent creator's
    * duplicate-DDL error is swallowed iff the table then exists. The
    * catalog walk runs ONCE per store instance (`ensured` flag) — a fleet
    * tick must not pay an information_schema scan per commit.
    *
    * Column type: `TIMESTAMP(6)` where the dialect takes a precision
    * (MySQL — whose bare TIMESTAMP is SECOND-precision and ROUNDS on
    * insert, which would commit a watermark slightly ABOVE the true
    * max(changeCol) and make the next strict-`>` delta silently skip
    * rows landing inside the rounded-away window; Postgres — where (6)
    * is the default anyway), falling back to bare `TIMESTAMP` where the
    * precision syntax is rejected (Derby — whose TIMESTAMP natively
    * keeps fractional seconds, so the fallback loses nothing). */
  private def ensureTable(conn: java.sql.Connection): Unit = {
    if (ensured) return
    def exists(): Boolean = {
      // scoped to the connection's CURRENT catalog/schema: a same-named
      // table in another schema must not satisfy the probe while the
      // unqualified DML below targets the default schema (ADVICE r16 —
      // the null wildcards matched any schema and left every subsequent
      // statement failing "table not found"). getSchema is JDBC 4.1;
      // a driver that cannot answer falls back to the wildcard.
      val cat = try conn.getCatalog catch { case _: java.sql.SQLException => null }
      val sch =
        try conn.getSchema
        catch { case _: java.sql.SQLException | _: AbstractMethodError => null }
      val rs = conn.getMetaData.getTables(cat, sch, "%", Array("TABLE"))
      try {
        var found = false
        while (rs.next() && !found)
          found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
        found
      } finally rs.close()
    }
    if (!exists()) {
      val ddls = Seq(
        s"CREATE TABLE $table (table_name VARCHAR(128) NOT NULL PRIMARY KEY, " +
          "last_updated TIMESTAMP(6))",
        s"CREATE TABLE $table (table_name VARCHAR(128) NOT NULL PRIMARY KEY, " +
          "last_updated TIMESTAMP)")
      val st = conn.createStatement()
      try {
        val created = ddls.exists { ddl =>
          try { st.executeUpdate(ddl); true }
          catch { case _: java.sql.SQLException => false }
        }
        if (!created && !exists())
          throw new java.sql.SQLException(
            s"could not create watermark table $table on $url")
      } finally st.close()
    }
    ensured = true
  }
  @volatile private var ensured = false

  def get(tableName: String): Option[Timestamp] = pool.withConnection { conn =>
    ensureTable(conn)
    val ps = conn.prepareStatement(
      s"SELECT last_updated FROM $table WHERE table_name = ?")
    try {
      ps.setString(1, tableName)
      val rs = ps.executeQuery()
      try if (rs.next()) Option(rs.getTimestamp(1)) else None
      finally rs.close()
    } finally ps.close()
  }

  def readAll(): Map[String, Timestamp] = pool.withConnection { conn =>
    ensureTable(conn)
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT table_name, last_updated FROM $table")
      try {
        val out = scala.collection.mutable.Map[String, Timestamp]()
        while (rs.next()) {
          val ts = rs.getTimestamp(2)
          if (ts != null) out(rs.getString(1)) = ts
        }
        out.toMap
      } finally rs.close()
    } finally st.close()
  }

  def update(tableName: String, ts: Timestamp,
      onBeforeCommit: () => Unit = () => ()): Unit = pool.withConnection { conn =>
    try {
      ensureTable(conn)
      conn.setAutoCommit(false)
      try {
        var committed = false
        while (!committed) {
          val upd = conn.prepareStatement(
            s"UPDATE $table SET last_updated = ? WHERE table_name = ? " +
              "AND (last_updated IS NULL OR last_updated < ?)")
          val updated =
            try {
              upd.setTimestamp(1, ts); upd.setString(2, tableName); upd.setTimestamp(3, ts)
              upd.executeUpdate()
            } finally upd.close()
          if (updated > 0) committed = true
          else {
            // zero rows: either the stored value already wins (max-merge
            // no-op — but only if the row EXISTS) or this is a first commit
            val sel = conn.prepareStatement(
              s"SELECT 1 FROM $table WHERE table_name = ?")
            val present =
              try { sel.setString(1, tableName); val rs = sel.executeQuery(); try rs.next() finally rs.close() }
              finally sel.close()
            if (present) committed = true // stored >= ts: no-op by contract
            else {
              val ins = conn.prepareStatement(
                s"INSERT INTO $table (table_name, last_updated) VALUES (?, ?)")
              try {
                ins.setString(1, tableName); ins.setTimestamp(2, ts)
                ins.executeUpdate()
                committed = true
              } catch {
                // duplicate key: a concurrent first-commit landed between
                // our probe and insert — loop back to the update path.
                // Detected via SQLState class 23 (integrity violation),
                // not exception subclass: PostgreSQL's PSQLException is
                // not an SQLIntegrityConstraintViolationException
                // (ADVICE r16). And because some engines (PostgreSQL)
                // abort the WHOLE transaction on any statement error,
                // roll back to restart it before re-entering the loop —
                // the discarded work is only the zero-row update and the
                // probe select, both side-effect-free; on Derby/MySQL the
                // rollback is a harmless no-op discard of the same.
                case e: java.sql.SQLException if isIntegrityViolation(e) =>
                  conn.rollback()
              } finally ins.close()
            }
          }
        }
        onBeforeCommit() // crash hook: nothing visible until conn.commit()
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback()
          catch {
            case _: java.sql.SQLException =>
              // rollback itself failed: the transaction is still open, and
              // the finally's setAutoCommit(true) would COMMIT it (JDBC:
              // enabling autoCommit commits the in-flight transaction) —
              // making the staged guarded UPDATE visible on a call that
              // reports failure, against the trait's crash contract
              // (ADVICE r17). Close the connection instead: nothing staged
              // can ever become visible, and the pool never sees it again.
              try conn.close() catch { case _: java.sql.SQLException => () }
          }
          throw e
      }
    } finally if (!conn.isClosed) conn.setAutoCommit(true) // pooled: the
    // next borrower must never inherit an open transaction (a failure
    // above discards the connection — withConnection returns only
    // cleanly-finished ones); skipped when the rollback-failure path
    // already closed the connection
  }

  /** Portable duplicate-key detection: the standard SQLState class 23
    * (integrity constraint violation) OR the JDBC exception subclass —
    * drivers disagree on which they raise (Derby/MySQL: the subclass;
    * PostgreSQL: PSQLException with state 23505). */
  private def isIntegrityViolation(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      Option(e.getSQLState).exists(_.startsWith("23"))
}
