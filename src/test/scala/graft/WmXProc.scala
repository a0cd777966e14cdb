package graft

import graft.operators.JdbcWatermarkStore

import java.sql.Timestamp

/** Cross-PROCESS watermark-store harness (VERDICT r16 task 5).
  *
  * `JdbcWatermarkStore` claims its guarded-UPDATE→INSERT→retry upsert is
  * serialized across processes by database row locks — a claim the
  * in-process stress tests (WatermarkStoreSpec) exercise only across
  * threads. This main is the second process: it boots the given store URL
  * and hammers `update` with a deterministic shuffle of timestamps, so a
  * parent process hammering the same table concurrently can assert
  * max-merge and no lost updates afterwards.
  *
  * Two outcomes, both load-bearing:
  *  - `DONE:<millis>` — the store accepted the workload; the parent
  *    asserts the final value is the max of both processes' commits.
  *  - `REFUSED:<sqlstate-chain>` — the engine would not even boot a
  *    second process on the database. Embedded Derby (this container's
  *    only database; derbyclient/derbynet are not shipped) answers
  *    XJ040→XSDB6 here: its boot lock makes a second process structurally
  *    impossible, which IS the embedded topology's cross-process safety
  *    story — there is no second process to race. For a client/server
  *    engine (MySQL/Postgres — the reference's deployment) the same
  *    harness runs the real race; WatermarkStoreSpec pins the refusal so
  *    the gap is documented in code, not prose.
  *
  * Usage: java -cp <test-classes:classes:jars> graft.WmXProc <jdbcUrl>
  *          <tableName> <startEpochMillis> <count>
  * (No Spark involved — the store is pure JDBC driver-side code.) */
object WmXProc {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: WmXProc <url> <table> <startMillis> <count>")
    val Array(url, tableName, startStr, countStr) = args
    val (start, count) = (startStr.toLong, countStr.toInt)
    try {
      val store = JdbcWatermarkStore(url)
      // deterministic shuffle: commits arrive out of order, so the
      // guarded UPDATE's max-merge is exercised, not just appended to
      val order = new scala.util.Random(42L).shuffle((0 until count).toVector)
      order.foreach { i =>
        store.update(tableName, new Timestamp(start + i * 1000L))
      }
      val fin = store.get(tableName).map(_.getTime).getOrElse(-1L)
      store.closePool()
      println(s"DONE:$fin")
    } catch {
      case e: java.sql.SQLException =>
        val states = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(8)
          .collect { case s: java.sql.SQLException => s.getSQLState }
          .mkString(",")
        println(s"REFUSED:$states")
    }
  }
}
