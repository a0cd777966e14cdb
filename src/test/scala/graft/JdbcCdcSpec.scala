package graft

import graft.operators.{Cdc, ParquetWatermarkStore, WatermarkStore}
import graft.sources.{CdcSource, JdbcSource}
import org.scalatest.funsuite.AnyFunSuite

import java.sql.{DriverManager, Timestamp}

/** The reference's LITERAL deployment topology, end-to-end against a live
  * database (VERDICT r14 task 1): poll a JDBC source on a cadence —
  * watermark lookup → strict-`>` delta pushed into the database WHERE →
  * chunk → embed → vector-sink upsert → watermark commit
  * (`controller/controller.py:17-35`, `service_layer/service.py:48-80`).
  * Every leg was already covered piecewise (JdbcSpec: partitioned reads,
  * pushdown, dialect pins; CdcSpec: the cycle over parquet); this spec
  * runs `Cdc.syncCycleOutcomesOn` itself against embedded Derby — the only
  * in-container stand-in for MySQL, reached through the exact same Spark
  * JDBC source + `DatabaseMetaData` code paths a `jdbc:mysql` URL takes. */
class JdbcCdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val url = "jdbc:derby:memory:graftcdccycle;create=true"
  private def ts(s: String) = Timestamp.valueOf(s)

  /** One poll: rows per table, or the cycle's failures raised. */
  private def poll(source: CdcSource, store: WatermarkStore, sink: String,
      chunkSize: Int): Map[String, Long] =
    Cdc.requireSynced(Cdc.syncCycleOutcomesOn(spark, source, store, sink, chunkSize = chunkSize))

  private def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); sqls.foreach(st.executeUpdate); () }
    finally c.close()
  }

  private def insert(rows: (Long, Timestamp, String)*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO events_src VALUES (?, ?, ?)")
      rows.foreach { case (id, t, p) =>
        ps.setLong(1, id); ps.setTimestamp(2, t); ps.setString(3, p); ps.addBatch()
      }
      ps.executeBatch()
      ()
    } finally c.close()
  }

  test("CDC cycle end-to-end over live JDBC: catalog walk, strict-> delta pushed " +
      "into the database, sink + watermark advance across two polls") {
    exec("CREATE TABLE events_src (event_id BIGINT NOT NULL PRIMARY KEY, " +
      "ts TIMESTAMP, payload VARCHAR(64))")
    insert((1 to 6).map(i =>
      (i.toLong, ts(f"2024-01-01 00:0$i%d:00"), s"alpha-$i")): _*)

    val scratch = TestSpark.tempDir("graft_jdbc_cdc").toString
    val state = s"$scratch/state"
    val sink = s"$scratch/sink"
    val source = JdbcSource(url, schemaPattern = Some("APP"))

    // S2 over a live catalog: DatabaseMetaData.getTables (what SHOW TABLES
    // compiles to) — unquoted DDL identifiers come back folded upper
    assert(source.listTables() == Seq("EVENTS_SRC"))
    // S3 made live: the PK arrives from database metadata, not static config
    assert(source.primaryKey("EVENTS_SRC").contains("EVENT_ID"))
    assert(source.primaryKey("EVENTS_SRC").contains("EVENT_ID"), "cached lookup agrees")

    // --- poll 1: no watermark → full scan, sink written, watermark committed
    val n1 = poll(source, ParquetWatermarkStore(state), sink, chunkSize = 3)
    assert(n1 == Map("EVENTS_SRC" -> 6L))
    assert(ParquetWatermarkStore(state).get("EVENTS_SRC").contains(ts("2024-01-01 00:06:00")))
    val texts1 = Cdc.readVectorSink(spark, sink)
      .select("id", "text").collect().map(r => r.getString(0) -> r.getString(1))
    assert(texts1.nonEmpty && texts1.forall(_._1.startsWith("EVENTS_SRC#")))
    assert(texts1.exists(_._2.contains("alpha-1")) && texts1.exists(_._2.contains("alpha-6")))

    // --- poll 2: one tie row AT the watermark (strict-> must skip it,
    // T2 parity — the reference's own late-data gap) plus two real deltas
    insert(
      (7L, ts("2024-01-01 00:06:00"), "tie-7"),
      (8L, ts("2024-01-01 00:07:00"), "beta-8"),
      (9L, ts("2024-01-01 00:08:00"), "beta-9"))

    // the cycle's delta plan pushes the strict-> predicate INTO the
    // database (the reference's WHERE-in-SQL-string, service.py:52-54):
    // same construction syncTableOn uses, asserted on the executed plan
    val delta = Cdc.deltaScan(source.table(spark, "EVENTS_SRC"), "ts",
      ParquetWatermarkStore(state).get("EVENTS_SRC"))
    val plan = delta.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("pushedfilters"), s"no pushdown marker:\n$plan")
    assert(plan.contains("greaterthan(ts,"), s"strict-> not pushed to the database:\n$plan")

    val n2 = poll(source, ParquetWatermarkStore(state), sink, chunkSize = 3)
    assert(n2 == Map("EVENTS_SRC" -> 2L), "tie row must be excluded by strict->")
    assert(ParquetWatermarkStore(state).get("EVENTS_SRC").contains(ts("2024-01-01 00:08:00")))
    val texts2 = Cdc.readVectorSink(spark, sink).select("text")
      .collect().map(_.getString(0))
    assert(texts2.exists(t => t.contains("beta-8") || t.contains("beta-9")))
    assert(!texts2.exists(_.contains("tie-7")),
      "a row equal to the watermark leaked into the second poll")

    // --- poll 3: empty delta → P6 skip (no advance, sink byte-stable)
    val sinkRowsBefore = texts2.sorted.toSeq
    val n3 = poll(source, ParquetWatermarkStore(state), sink, chunkSize = 3)
    assert(n3 == Map("EVENTS_SRC" -> 0L))
    assert(ParquetWatermarkStore(state).get("EVENTS_SRC").contains(ts("2024-01-01 00:08:00")))
    assert(Cdc.readVectorSink(spark, sink).select("text")
      .collect().map(_.getString(0)).sorted.toSeq == sinkRowsBefore)
  }

  test("JDBC cycle skips non-CDC tables (no change column) and excludes the " +
      "watermark table case-insensitively") {
    exec(
      "CREATE TABLE dims_static (dim_id INT NOT NULL, label VARCHAR(32))",
      "CREATE TABLE watermark (table_name VARCHAR(64), last_updated TIMESTAMP)")
    val scratch = TestSpark.tempDir("graft_jdbc_skip").toString
    val source = JdbcSource(url, schemaPattern = Some("APP"))
    // the catalog sees all three; WATERMARK is excluded (controller.py:23-24
    // — folded upper by Derby, hence the case-insensitive anti-filter)
    assert(source.listTables().toSet == Set("EVENTS_SRC", "DIMS_STATIC", "WATERMARK"))
    val outcomes = Cdc.syncCycleOutcomesOn(spark, source,
      ParquetWatermarkStore(s"$scratch/state"), s"$scratch/sink", chunkSize = 3)
    assert(outcomes.keySet == Set("EVENTS_SRC", "DIMS_STATIC"))
    assert(outcomes("DIMS_STATIC") == Cdc.TableSynced(0L), "tables without the change column are skipped, not failed")
    // no PK on dims_static: the live metadata lookup answers None
    assert(source.primaryKey("DIMS_STATIC").isEmpty)
  }

  test("cycle with watermark state IN the source database (JdbcWatermarkStore): " +
      "the reference's literal state topology, two polls, tie-row exclusion") {
    val u2 = "jdbc:derby:memory:graftcdcdbstate;create=true"
    def exec2(sqls: String*): Unit = {
      val c = DriverManager.getConnection(u2)
      try { val st = c.createStatement(); sqls.foreach(st.executeUpdate); () }
      finally c.close()
    }
    def insert2(rows: (Long, Timestamp, String)*): Unit = {
      val c = DriverManager.getConnection(u2)
      try {
        val ps = c.prepareStatement("INSERT INTO events_src VALUES (?, ?, ?)")
        rows.foreach { case (id, t, p) =>
          ps.setLong(1, id); ps.setTimestamp(2, t); ps.setString(3, p); ps.addBatch()
        }
        ps.executeBatch()
        ()
      } finally c.close()
    }
    exec2("CREATE TABLE events_src (event_id BIGINT NOT NULL PRIMARY KEY, " +
      "ts TIMESTAMP, payload VARCHAR(64))")
    insert2((1 to 4).map(i =>
      (i.toLong, ts(f"2024-01-01 00:0$i%d:00"), s"alpha-$i")): _*)

    val sink = s"${TestSpark.tempDir("graft_jdbc_dbstate")}/sink"
    val source = JdbcSource(u2, schemaPattern = Some("APP"))
    val store = graft.operators.JdbcWatermarkStore(u2)

    val n1 = poll(source, store, sink, chunkSize = 2)
    assert(n1 == Map("EVENTS_SRC" -> 4L))
    assert(store.get("EVENTS_SRC").contains(ts("2024-01-01 00:04:00")))
    // the watermark table now EXISTS in the source catalog — the cycle's
    // case-insensitive anti-filter must keep excluding it from sync
    assert(source.listTables().contains("WATERMARK"))

    insert2(
      (5L, ts("2024-01-01 00:04:00"), "tie-5"), // AT the watermark: strict-> skips
      (6L, ts("2024-01-01 00:05:00"), "beta-6"))
    val n2 = poll(source, store, sink, chunkSize = 2)
    assert(n2 == Map("EVENTS_SRC" -> 1L), "tie row must be excluded by strict->")
    assert(store.get("EVENTS_SRC").contains(ts("2024-01-01 00:05:00")))
    val texts = Cdc.readVectorSink(spark, sink).select("text")
      .collect().map(_.getString(0))
    assert(texts.exists(_.contains("beta-6")) && !texts.exists(_.contains("tie-5")))
    // the state row is readable with plain SQL in the source database —
    // exactly where the reference's operator expects to find it
    val c = DriverManager.getConnection(u2)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT last_updated FROM watermark WHERE table_name = 'EVENTS_SRC'")
      assert(rs.next() && rs.getTimestamp(1) == ts("2024-01-01 00:05:00"))
    } finally c.close()
  }

  test("connection amortization: a JDBC fleet tick opens O(workers) probe " +
      "connections, not O(2T) — and zero once the pool is warm (VERDICT r16 task 1)") {
    val u5 = "jdbc:derby:memory:graftcdcpool;create=true"
    val T = 12
    val c = DriverManager.getConnection(u5)
    try {
      val st = c.createStatement()
      (1 to T).foreach { i =>
        st.executeUpdate(f"CREATE TABLE tbl_$i%02d (event_id BIGINT NOT NULL " +
          "PRIMARY KEY, ts TIMESTAMP, payload VARCHAR(32))")
        st.executeUpdate(f"INSERT INTO tbl_$i%02d VALUES (1, " +
          "TIMESTAMP('2024-01-01 00:01:00'), 'p1')")
      }
      ()
    } finally c.close()
    val sink = s"${TestSpark.tempDir("graft_jdbc_pool")}/sink"
    val source = JdbcSource(u5, schemaPattern = Some("APP"))
    val store = graft.operators.JdbcWatermarkStore(u5)
    // park every watermark AT the table max: the tick is all-quiet, i.e.
    // the steady state whose cost is pure probes (FleetProbe's tick 2)
    (1 to T).foreach(i => store.update(f"TBL_$i%02d", ts("2024-01-01 00:01:00")))
    val (src0, st0) = (source.connectionsOpened, store.connectionsOpened)

    // cold tick: every probe rides the pool — opens are bounded by the
    // cycle's worker count, never by the table count
    val out1 = Cdc.syncCycleOutcomesOn(spark, source, store, sink, parallelism = 4)
    assert(out1.values.forall(_ == Cdc.TableSynced(0L)), s"tick must be all-quiet: $out1")
    val (srcCold, stCold) =
      (source.connectionsOpened - src0, store.connectionsOpened - st0)
    assert(srcCold <= 6, s"source opened $srcCold connections for $T quiet tables " +
      "(must be O(workers): listTables + <=parallelism concurrent probes)")
    assert(stCold <= 5, s"store opened $stCold connections (must be O(workers))")
    assert(srcCold + stCold < T, "a quiet tick must amortize below one connection per table")

    // warm tick: the pool already holds the peak concurrency — ZERO new
    // physical connections for the whole cycle
    val out2 = Cdc.syncCycleOutcomesOn(spark, source, store, sink, parallelism = 4)
    assert(out2.values.forall(_ == Cdc.TableSynced(0L)))
    assert(source.connectionsOpened - src0 == srcCold,
      "a warm all-quiet tick must open zero new source connections")
    assert(store.connectionsOpened - st0 == stCold,
      "a warm all-quiet tick must open zero new store connections")

    // BEFORE shape, kept measurable: poolMaxIdle=0 restores a connection
    // per probe — the O(T) regime the pool exists to retire
    val unpooled = JdbcSource(u5, schemaPattern = Some("APP"), poolMaxIdle = 0)
    val u0 = unpooled.connectionsOpened
    val out3 = Cdc.syncCycleOutcomesOn(spark, unpooled, store, sink, parallelism = 4)
    assert(out3.values.forall(_ == Cdc.TableSynced(0L)))
    assert(unpooled.connectionsOpened - u0 > T,
      s"unpooled control must pay >= one connection per table, got ${unpooled.connectionsOpened - u0}")
  }

  test("pool capacity follows the cycle's parallelism (VERDICT r17 task 6): " +
      "at par=16 over default pools, cold opens <= workers and warm opens zero") {
    val u6 = "jdbc:derby:memory:graftcdcpool16;create=true"
    val T = 24 // > par so every worker slot actually fills
    val c = DriverManager.getConnection(u6)
    try {
      val st = c.createStatement()
      (1 to T).foreach { i =>
        st.executeUpdate(f"CREATE TABLE tbl_$i%02d (event_id BIGINT NOT NULL " +
          "PRIMARY KEY, ts TIMESTAMP, payload VARCHAR(32))")
        st.executeUpdate(f"INSERT INTO tbl_$i%02d VALUES (1, " +
          "TIMESTAMP('2024-01-01 00:01:00'), 'p1')")
      }
      ()
    } finally c.close()
    val sink = s"${TestSpark.tempDir("graft_jdbc_pool16")}/sink"
    // DEFAULT poolMaxIdle (8) — the r17 shape under-cached at par=16,
    // re-opening up to 8 connections per warm tick; the parallelism hint
    // must widen the warm set to the tick's real worker count
    val source = JdbcSource(u6, schemaPattern = Some("APP"))
    val store = graft.operators.JdbcWatermarkStore(u6)
    (1 to T).foreach(i => store.update(f"TBL_$i%02d", ts("2024-01-01 00:01:00")))
    val (src0, st0) = (source.connectionsOpened, store.connectionsOpened)

    val out1 = Cdc.syncCycleOutcomesOn(spark, source, store, sink, parallelism = 16)
    assert(out1.values.forall(_ == Cdc.TableSynced(0L)), s"tick must be all-quiet: $out1")
    val (srcCold, stCold) =
      (source.connectionsOpened - src0, store.connectionsOpened - st0)
    assert(srcCold <= 17, s"source cold opens must be <= par(+listTables), got $srcCold")
    assert(stCold <= 16, s"store cold opens must be <= par, got $stCold")

    val out2 = Cdc.syncCycleOutcomesOn(spark, source, store, sink, parallelism = 16)
    assert(out2.values.forall(_ == Cdc.TableSynced(0L)))
    assert(source.connectionsOpened - src0 == srcCold,
      "warm par=16 tick must open zero new source connections")
    assert(store.connectionsOpened - st0 == stCold,
      "warm par=16 tick must open zero new store connections")
  }

  test("ADD-direction change-column drift re-resolves after the negative-cache " +
      "TTL: a table that gains the change column leaves the full-scan path (ADVICE r17)") {
    val u7 = "jdbc:derby:memory:graftcdcaddcol;create=true"
    val c = DriverManager.getConnection(u7)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE gains_ts (event_id BIGINT NOT NULL PRIMARY KEY, " +
        "payload VARCHAR(32))")
      st.executeUpdate("INSERT INTO gains_ts VALUES (1, 'pre-column')")
      ()
    } finally c.close()
    val source = JdbcSource(u7, schemaPattern = Some("APP"))
    source.ProbeMemoMillis = 0L // expire negative resolutions immediately
    // no change column yet: the cheap probe answers unknown (full path)
    assert(source.changeMax("GAINS_TS", "ts").isEmpty)
    // the table GAINS the column (created empty then altered — the drift
    // case the r17 forever-negative cache kept on the full-scan path)
    val c2 = DriverManager.getConnection(u7)
    try {
      val st = c2.createStatement()
      st.executeUpdate("ALTER TABLE gains_ts ADD COLUMN ts TIMESTAMP")
      st.executeUpdate("UPDATE gains_ts SET ts = TIMESTAMP('2024-01-01 00:01:00')")
      ()
    } finally c2.close()
    assert(source.changeMax("GAINS_TS", "ts") ==
      Some(Some(ts("2024-01-01 00:01:00"))),
      "the expired negative entry must re-resolve and serve the exact MAX")
  }

  test("schema drift over live JDBC, DROP direction: a database DROP COLUMN " +
      "vanishes the field from new serializations — no crash, sink converges") {
    val u3 = "jdbc:derby:memory:graftcdcdrop;create=true"
    def exec3(sqls: String*): Unit = {
      val c = DriverManager.getConnection(u3)
      try { val st = c.createStatement(); sqls.foreach(st.executeUpdate); () }
      finally c.close()
    }
    exec3(
      "CREATE TABLE events_src (event_id BIGINT NOT NULL PRIMARY KEY, " +
        "ts TIMESTAMP, payload VARCHAR(64), region VARCHAR(8))",
      "INSERT INTO events_src VALUES (1, TIMESTAMP('2024-01-01 00:01:00'), 'a', 'eu')")
    val scratch = TestSpark.tempDir("graft_jdbc_drop").toString
    val (state, sink) = (s"$scratch/state", s"$scratch/sink")
    val source = JdbcSource(u3, schemaPattern = Some("APP"))
    poll(source, ParquetWatermarkStore(state), sink, chunkSize = 2)
    val v1 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v1.values.exists(_.contains("\"REGION\":\"eu\"")), s"pre-drop field missing: $v1")
    // the reference's SELECT * just starts returning the narrower shape
    exec3(
      "ALTER TABLE events_src DROP COLUMN region",
      "INSERT INTO events_src VALUES (2, TIMESTAMP('2024-01-01 00:02:00'), 'b')")
    poll(source, ParquetWatermarkStore(state), sink, chunkSize = 2)
    val v2 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val fresh = v2.keySet -- v1.keySet
    assert(fresh.nonEmpty, "post-drop row must sync")
    assert(fresh.forall(id => !v2(id).toUpperCase.contains("REGION")),
      s"dropped column must vanish from new serializations: $v2")
    assert(v1.keySet.subsetOf(v2.keySet), "pre-drop chunks persist untouched")
    // quiet third poll: byte-stable no-op
    poll(source, ParquetWatermarkStore(state), sink, chunkSize = 2)
    val v3 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v3 == v2)
  }
}
