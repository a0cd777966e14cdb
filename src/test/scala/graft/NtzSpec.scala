package graft

import graft.operators.{Cdc, ParquetWatermarkStore}
import graft.sources.{DirSource, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Timestamp-type robustness (VERDICT r8 §wrong-1): a parquet writer is one
  * flag away from emitting TIMESTAMP(isAdjustedToUTC=false), which Spark 4
  * infers as TIMESTAMP_NTZ — the regenerated driver fixtures did exactly
  * that and broke q44 (analysis error on `unix_micros`) and q93 (swallowed
  * ClassCastException → empty sink). These tests write a genuinely-NTZ
  * parquet and drive the full affected surface over it: table load,
  * deltaScan, watermark collect, sessionize, and a complete sync cycle. */
class NtzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Write an events table whose `ts` is TIMESTAMP_NTZ on disk. */
  private def writeNtzEvents(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "click", 1.5, "{}"),
      (2L, ts("2024-01-01 00:10:00"), 10L, "view", 2.5, "{}"),
      (3L, ts("2024-01-01 02:00:00"), 10L, "click", 3.5, "{}"),
      (4L, ts("2024-01-01 00:05:00"), 20L, "view", 4.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("NTZ parquet normalizes to TimestampType at the Tables.table choke point") {
    val scratch = TestSpark.tempDir("graft_ntz").toString
    writeNtzEvents(scratch)
    // prove the file really is NTZ on disk (raw read, no normalization)
    val raw = spark.read.parquet(s"$scratch/events.parquet")
    assert(raw.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType,
      s"fixture not NTZ on disk: ${raw.schema("ts").dataType}")
    val df = Tables.table(spark, scratch, "events")
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    // UTC session tz → the cast is a reinterpretation, values identical
    assert(df.where(col("event_id") === 1L).select(col("ts")).as[Timestamp].head()
      == ts("2024-01-01 00:00:00"))
  }

  test("deltaScan + watermark collect survive NTZ fixtures end-to-end") {
    val scratch = TestSpark.tempDir("graft_ntz_cdc").toString
    writeNtzEvents(scratch)
    val df = Tables.table(spark, scratch, "events")
    val delta = Cdc.deltaScan(df, "ts", Some(ts("2024-01-01 00:05:00")))
    assert(delta.select("event_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("asTimestamp accepts Timestamp, LocalDateTime, Instant, null") {
    val t0 = ts("2024-01-01 00:00:00")
    assert(Cdc.asTimestamp(t0) eq t0)
    assert(Cdc.asTimestamp(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)) == t0)
    assert(Cdc.asTimestamp(java.time.Instant.parse("2024-01-01T00:00:00Z")) == t0)
    assert(Cdc.asTimestamp(null) == null)
    intercept[IllegalArgumentException] { Cdc.asTimestamp("2024-01-01") }
  }

  test("asTimestamp derives the LocalDateTime zone from the session, not hardcoded UTC") {
    val ldt = java.time.LocalDateTime.of(2024, 1, 1, 12, 0, 0)
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // noon NTZ rendered under UTC-5 is 17:00 UTC — a hardcoded-UTC
      // conversion would return 12:00 UTC (silently shifted watermarks)
      assert(Cdc.asTimestamp(ldt).toInstant == java.time.Instant.parse("2024-01-01T17:00:00Z"))
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
    assert(Cdc.asTimestamp(ldt).toInstant == java.time.Instant.parse("2024-01-01T12:00:00Z"))
  }

  test("normalizeTimestamps recurses into struct/array/map-nested NTZ") {
    import org.apache.spark.sql.types._
    val df = Seq((1L, ts("2024-01-01 00:00:00")))
      .toDF("id", "t")
      .select(col("id"),
        struct(col("t").cast("timestamp_ntz").as("inner"),
          array(col("t").cast("timestamp_ntz")).as("arr")).as("s"),
        map(lit("k"), col("t").cast("timestamp_ntz")).as("m"))
    val out = Tables.normalizeTimestamps(df)
    val sTyp = out.schema("s").dataType.asInstanceOf[StructType]
    assert(sTyp("inner").dataType == TimestampType)
    assert(sTyp("arr").dataType.asInstanceOf[ArrayType].elementType == TimestampType)
    assert(out.schema("m").dataType.asInstanceOf[MapType].valueType == TimestampType)
    // values survive the nested cast (UTC session: reinterpretation, not shift)
    val row = out.select(col("s.inner")).collect()(0)
    assert(Cdc.asTimestamp(row.get(0)) == ts("2024-01-01 00:00:00"))
  }

  test("full sync cycle over an NTZ source writes a non-empty sink and advances the watermark") {
    val scratch = TestSpark.tempDir("graft_ntz_cycle").toString
    val src = s"$scratch/src"
    writeNtzEvents(src)
    val synced = Cdc.requireSynced(Cdc.syncCycleOutcomesOn(spark, DirSource(src),
      ParquetWatermarkStore(s"$scratch/state"), s"$scratch/sink"))
    assert(synced == Map("events" -> 4L), s"cycle outcome: $synced")
    assert(Cdc.readVectorSink(spark, s"$scratch/sink").count() > 0)
    assert(ParquetWatermarkStore(s"$scratch/state").get("events").contains(ts("2024-01-01 02:00:00")))
  }

  test("footer-stats probe distrusts NTZ timestamps — a wall-clock stat must " +
      "never feed the quiet fast path (ADVICE r16 high)") {
    val scratch = TestSpark.tempDir("graft_ntz_stats").toString
    writeNtzEvents(scratch)
    // NTZ footer stats are wall-clock values, not instants: west of UTC
    // the raw stat UNDER-reports the normalized max by the zone offset,
    // so the probe must answer unknown, never a trusted max
    assert(Tables.parquetTimestampMax(s"$scratch/events.parquet", "ts").isEmpty,
      "NTZ column stats must be untrusted")
    // end-to-end: session west of UTC, watermark parked exactly at the
    // raw wall-clock max (the value a trusted NTZ stat would report).
    // The normalized max is offset hours LATER, so the table has real
    // deltas — a probe-trusting cycle would silently skip them.
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val state = TestSpark.tempDir("graft_ntz_stats_state").toString
      val sink = TestSpark.tempDir("graft_ntz_stats_sink").toString
      ParquetWatermarkStore(state).update(
        "events", Timestamp.from(java.time.Instant.parse("2024-01-01T02:00:00Z")))
      val synced = Cdc.requireSynced(Cdc.syncCycleOutcomesOn(spark, DirSource(scratch),
        ParquetWatermarkStore(state), sink))
      assert(synced == Map("events" -> 4L),
        s"an NTZ table with real deltas must not be skipped quiet: $synced")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("sessionize (q44) runs over an NTZ events fixture") {
    val scratch = TestSpark.tempDir("graft_ntz_q44").toString
    writeNtzEvents(scratch)
    val out = SparkEntry.queries("q44_sessionize")(spark, scratch).collect()
    // user 10: events at 00:00/00:10 (one session), 02:00 (new session,
    // gap > 30 min); user 20: one session
    assert(out.length == 3, out.mkString("\n"))
  }
}
