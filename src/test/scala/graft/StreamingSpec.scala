package graft

import graft.operators.{Cdc, ParquetWatermarkStore}
import graft.sources.DirSource
import graft.streaming.CdcStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Structured-Streaming pipeline (SURVEY §2.6): micro-batch CDC via
  * foreachBatch + checkpoint, and windowed event-time aggregation (T4). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The file stream source lists plain files in the input dir — a nested
    * `df.write.parquet(dir/x.parquet)` DIRECTORY is invisible to it. Write
    * to a scratch dir and move the part file in as one drop file. */
  private def writeDrop(df: org.apache.spark.sql.DataFrame, inDir: String, name: String): Unit = {
    val tmp = TestSpark.tempDir("graft_drop").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(s"$inDir/$name.parquet").toPath)
  }

  test("streaming CDC pipeline: drops arrive, chunks are embedded and upserted, " +
    "watermark advances; second drain is incremental") {
    val scratch = TestSpark.tempDir("graft_stream").toString
    val in = s"$scratch/in"; val state = s"$scratch/state"; val sink = s"$scratch/sink"
    new java.io.File(in).mkdirs()
    Cdc.initVectorSink(spark, sink)

    val batch1 = (1 to 120).map(i => (i.toLong, ts(f"2024-01-01 01:${i % 60}%02d:00"), s"p$i"))
      .toDF("event_id", "ts", "payload")
    writeDrop(batch1, in, "drop1")

    val schema = batch1.schema
    val writer = CdcStream.pipeline(spark, in, schema, state, sink, "events")
    CdcStream.runOnce(writer)

    val n1 = Cdc.readVectorSink(spark, sink).count()
    assert(n1 == 2) // ceil(120/100)
    val wm1 = ParquetWatermarkStore(state).get("events").get
    assert(wm1 == ts("2024-01-01 01:59:00"))

    // second drop: only newer rows contribute (strict > on the stored wm)
    val batch2 = Seq(
      (200L, ts("2024-01-01 01:30:00"), "late-row-dropped"), // <= wm → excluded (T2)
      (201L, ts("2024-01-02 00:00:00"), "new-row")).toDF("event_id", "ts", "payload")
    writeDrop(batch2, in, "drop2")
    CdcStream.runOnce(CdcStream.pipeline(spark, in, schema, state, sink, "events"))

    val sinkRows = Cdc.readVectorSink(spark, sink).collect()
    assert(sinkRows.length == 3) // one new chunk
    assert(ParquetWatermarkStore(state).get("events").get == ts("2024-01-02 00:00:00"))
    val texts = sinkRows.map(_.getAs[String]("text")).mkString(" ")
    assert(texts.contains("new-row"))
    assert(!texts.contains("late-row-dropped")) // T2 data-loss window, by design
  }

  test("crash between upsert and watermark commit reprocesses without duplicate ids " +
    "(T3 delivery contract, streaming form)") {
    // Inject a crash AFTER the sink upsert but BEFORE the watermark commit
    // (and before the micro-batch commit): the restarted query must re-run
    // the whole batch, and content-hash ids must absorb the re-delivery —
    // same rows, same ids, overwrite not duplicate.
    val scratch = TestSpark.tempDir("graft_stream_crash").toString
    val in = s"$scratch/in"; val state = s"$scratch/state"; val sink = s"$scratch/sink"
    new java.io.File(in).mkdirs()
    Cdc.initVectorSink(spark, sink)

    val batch1 = (1 to 120).map(i => (i.toLong, ts(f"2024-01-01 01:${i % 60}%02d:00"), s"p$i"))
      .toDF("event_id", "ts", "payload")
    writeDrop(batch1, in, "drop1")
    val schema = batch1.schema

    val crashing = CdcStream.pipeline(spark, in, schema, state, sink, "events",
      onAfterUpsert = () => throw new RuntimeException("injected crash before watermark commit"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.runOnce(crashing)
    }
    assert(err.getMessage.contains("injected crash"))
    // the crash window state: sink written, watermark NOT advanced
    assert(Cdc.readVectorSink(spark, sink).count() == 2) // ceil(120/100)
    assert(ParquetWatermarkStore(state).get("events").isEmpty)

    // restart clean: the uncommitted micro-batch re-runs end-to-end
    CdcStream.runOnce(CdcStream.pipeline(spark, in, schema, state, sink, "events"))
    val rows = Cdc.readVectorSink(spark, sink)
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("d")).collect()(0)
    assert(rows.getLong(0) == 2, s"re-run duplicated chunks: ${rows.getLong(0)}")
    assert(rows.getLong(0) == rows.getLong(1), "duplicate ids in sink after reprocess")
    assert(ParquetWatermarkStore(state).get("events").contains(ts("2024-01-01 01:59:00")))
  }

  test("the stream and the polling cycle share one tail: one drop yields the same " +
    "(id, source, text) rows and the same watermark on both paths") {
    val scratch = TestSpark.tempDir("graft_stream_parity").toString
    val in = s"$scratch/in"; val src = s"$scratch/src"
    new java.io.File(in).mkdirs()
    // rows arrive out of key order (97 permutes 1..250 mod 251), so chunks
    // cut in arrival order would differ from chunks cut on `event_id`
    val drop = (1 to 250).map(_ * 97 % 251)
      .map(i => (i.toLong, ts(f"2024-01-01 0${i % 3}:${i % 60}%02d:00"), s"p$i"))
      .toDF("event_id", "ts", "payload")
    writeDrop(drop, in, "drop1")
    // the polling path reads the same file as table `events`
    new java.io.File(s"$src/events.parquet").mkdirs()
    Files.copy(new java.io.File(s"$in/drop1.parquet").toPath,
      new java.io.File(s"$src/events.parquet/drop1.parquet").toPath)

    Cdc.initVectorSink(spark, s"$scratch/stream_sink")
    CdcStream.runOnce(CdcStream.pipeline(spark, in, drop.schema, s"$scratch/stream_state",
      s"$scratch/stream_sink", "events", orderCol = "event_id"))
    val polled = Cdc.syncCycleOutcomesOn(spark, DirSource(src),
      ParquetWatermarkStore(s"$scratch/poll_state"), s"$scratch/poll_sink",
      orderCol = "event_id", deterministicChunks = true)
    assert(polled == Map("events" -> Cdc.TableSynced(250L)))

    def rows(sink: String): Set[(String, String, String)] =
      Cdc.readVectorSink(spark, sink).select("id", "source", "text").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val streamed = rows(s"$scratch/stream_sink")
    assert(streamed.size == 3) // ceil(250/100)
    assert(streamed == rows(s"$scratch/poll_sink"))
    val wm = ParquetWatermarkStore(s"$scratch/stream_state").get("events")
    assert(wm.contains(ts("2024-01-01 02:59:00")))
    assert(ParquetWatermarkStore(s"$scratch/poll_state").get("events") == wm)
  }

  test("multi-batch ProcessingTime stream: live drops sequence through micro-batches " +
    "with strict-> lateness exclusion and watermark-after-sink commits") {
    val scratch = TestSpark.tempDir("graft_stream_pt").toString
    val in = s"$scratch/in"; val state = s"$scratch/state"; val sink = s"$scratch/sink"
    new java.io.File(in).mkdirs()
    Cdc.initVectorSink(spark, sink)

    val batch1 = (1 to 120).map(i => (i.toLong, ts(f"2024-01-01 01:${i % 60}%02d:00"), s"p$i"))
      .toDF("event_id", "ts", "payload")
    writeDrop(batch1, in, "drop1")

    // a real ProcessingTime trigger, kept running across drops — unlike the
    // AvailableNow drain, this exercises true micro-batch sequencing
    val q = CdcStream.pipeline(spark, in, batch1.schema, state, sink, "events",
      triggerInterval = "1 second").start()
    try {
      q.processAllAvailable()
      assert(Cdc.readVectorSink(spark, sink).count() == 2) // ceil(120/100)
      val wm1 = ParquetWatermarkStore(state).get("events").get
      assert(wm1 == ts("2024-01-01 01:59:00"))

      // drop 2 lands while the query is live: late row excluded (T2),
      // new row chunked, watermark advances only after the sink write (T3)
      val batch2 = Seq(
        (200L, ts("2024-01-01 01:30:00"), "late-row-dropped"),
        (201L, ts("2024-01-02 00:00:00"), "new-row")).toDF("event_id", "ts", "payload")
      writeDrop(batch2, in, "drop2")
      q.processAllAvailable()
      val rows2 = Cdc.readVectorSink(spark, sink).collect()
      assert(rows2.length == 3)
      val texts = rows2.map(_.getAs[String]("text")).mkString(" ")
      assert(texts.contains("new-row") && !texts.contains("late-row-dropped"))
      assert(ParquetWatermarkStore(state).get("events").get == ts("2024-01-02 00:00:00"))

      // drop 3 is ALL late: empty delta after the strict-> cut → no sink
      // write, no watermark movement (P6 under real micro-batching)
      val batch3 = Seq((300L, ts("2024-01-01 00:00:01"), "all-late"))
        .toDF("event_id", "ts", "payload")
      writeDrop(batch3, in, "drop3")
      q.processAllAvailable()
      assert(Cdc.readVectorSink(spark, sink).count() == 3)
      assert(ParquetWatermarkStore(state).get("events").get == ts("2024-01-02 00:00:00"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer: closes sessions on gap, keeps state open") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Event, Session}
    val scratch = TestSpark.tempDir("graft_sess").toString
    val in = s"$scratch/in"
    new java.io.File(in).mkdirs()
    val events = Seq(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(1L, ts("2024-01-01 00:10:00"), 2.0), // same session (gap 10m)
      Event(1L, ts("2024-01-01 02:00:00"), 3.0), // gap 110m → closes session 1
      Event(2L, ts("2024-01-01 00:00:00"), 9.0)  // other key, stays open
    ).toDF("user_id", "ts", "value")
    writeDrop(events, in, "drop1")

    val stream = spark.readStream.schema(events.schema).parquet(in).as[Event]
    val q = Sessionizer.sessionize(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sessions")
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // only the CLOSED session is emitted (append mode): user 1, events 1-2
    val out = spark.table("graft_sessions").as[Session].collect()
    assert(out.length == 1)
    assert(out(0).user_id == 1L && out(0).n == 2 && out(0).total_value == 3.0)
    assert(out(0).start_ts == ts("2024-01-01 00:00:00") && out(0).end_ts == ts("2024-01-01 00:10:00"))

    // a later drop beyond user 1's gap closes the 02:00 session (fresh
    // checkpoint: the memory sink can't recover one, so this drain
    // reprocesses all drops — the gap-close semantics are what's under test)
    writeDrop(Seq(Event(1L, ts("2024-01-01 05:00:00"), 4.0)).toDF("user_id", "ts", "value"), in, "drop2")
    val q2 = Sessionizer.sessionize(spark.readStream.schema(events.schema).parquet(in).as[Event])
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sessions2")
      .option("checkpointLocation", s"$scratch/cp2")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val out2 = spark.table("graft_sessions2").as[Session].collect()
    assert(out2.exists(s0 => s0.user_id == 1L && s0.n == 1 && s0.total_value == 3.0)) // 02:00 session closed
  }

  test("event-time timeout closes an abandoned session once the watermark passes the gap") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Event, Session}
    val scratch = TestSpark.tempDir("graft_sess_to").toString
    val in = s"$scratch/in"
    new java.io.File(in).mkdirs()
    val schema = Seq(Event(0L, ts("2024-01-01 00:00:00"), 0.0)).toDF("user_id", "ts", "value").schema
    // drop1: user 1's session ends 00:10 → timeout due at 00:40 (30 min gap)
    writeDrop(Seq(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(1L, ts("2024-01-01 00:10:00"), 2.0)).toDF("user_id", "ts", "value"), in, "drop1")
    // drops 2-3: only ANOTHER key's events — they advance the watermark past
    // 00:40; user 1 never sends a successor event (NoTimeout would hold its
    // session open forever, the exact gap this variant closes)
    writeDrop(Seq(Event(2L, ts("2024-01-01 02:00:00"), 9.0)).toDF("user_id", "ts", "value"), in, "drop2")
    writeDrop(Seq(Event(2L, ts("2024-01-01 02:10:00"), 9.5)).toDF("user_id", "ts", "value"), in, "drop3")

    // one file per micro-batch so the watermark ratchets between batches
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in).as[Event]
    val q = Sessionizer.sessionizeEventTime(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sessions_timeout")
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("graft_sessions_timeout").as[Session].collect()
    assert(out.exists(s0 => s0.user_id == 1L && s0.n == 2 && s0.total_value == 3.0 &&
      s0.start_ts == ts("2024-01-01 00:00:00") && s0.end_ts == ts("2024-01-01 00:10:00")),
      s"session not closed by event-time timeout: ${out.mkString(", ")}")
  }

  test("sessionizeBatchComplete (distributed flush) equals sessionize + open-session tails") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Event, Session}
    val events = Seq(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(1L, ts("2024-01-01 00:10:00"), 2.0),
      Event(1L, ts("2024-01-01 02:00:00"), 3.0), // gap closes session 1
      Event(2L, ts("2024-01-01 00:00:00"), 9.0)).toDS()
    val out = Sessionizer.sessionizeBatchComplete(spark, events).collect().toSet
    assert(out == Set(
      Session(1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00"), 2, 3.0),
      Session(1L, ts("2024-01-01 02:00:00"), ts("2024-01-01 02:00:00"), 1, 3.0),
      Session(2L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"), 1, 9.0)))
  }

  test("cross-batch streaming dedup: re-delivered keys within the horizon emit once") {
    val scratch = TestSpark.tempDir("graft_sdedup").toString
    val in = s"$scratch/in"
    new java.io.File(in).mkdirs()
    val d1 = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a"),
      (2L, ts("2024-01-01 00:01:00"), "b")).toDF("event_id", "ts", "payload")
    writeDrop(d1, in, "drop1")
    // drop2 re-delivers event 2 (at-least-once source) plus a new event
    writeDrop(Seq(
      (2L, ts("2024-01-01 00:01:00"), "b"),
      (3L, ts("2024-01-01 00:02:00"), "c")).toDF("event_id", "ts", "payload"), in, "drop2")

    val q = CdcStream.dedupedStream(spark, in, d1.schema, Seq("event_id"),
      horizon = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_sdedup")
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("graft_sdedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"dup not collapsed: ${ids.mkString(",")}")
  }

  test("stream-stream join matches keys within the time bound and drops the rest") {
    val scratch = TestSpark.tempDir("graft_ssjoin").toString
    val inL = s"$scratch/clicks"; val inR = s"$scratch/buys"
    new java.io.File(inL).mkdirs(); new java.io.File(inR).mkdirs()
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click"),
      (2L, ts("2024-01-01 12:00:00"), "click")).toDF("user_id", "ts", "kind")
    val buys = Seq(
      (1L, ts("2024-01-01 10:30:00"), "buy"),  // within 1h of user 1's click → match
      (2L, ts("2024-01-01 15:00:00"), "buy"),  // 3h after user 2's click → dropped
      (3L, ts("2024-01-01 10:15:00"), "buy"))  // no click for user 3 → dropped (inner)
      .toDF("user_id", "ts", "kind")
    writeDrop(clicks, inL, "drop1")
    writeDrop(buys, inR, "drop1")

    val joined = CdcStream.streamStreamJoin(
      spark, inL, clicks.schema, inR, buys.schema, key = "user_id", bound = "1 hour")
      .select(col("l.user_id").as("user_id"), col("l.ts").as("click_ts"), col("r.ts").as("buy_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("graft_ssjoin")
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("graft_ssjoin").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("buy_ts")))
    assert(out.toSeq == Seq((1L, ts("2024-01-01 10:30:00"))),
      s"expected exactly user 1's in-bound purchase: ${out.mkString(", ")}")
  }

  test("windowed streaming aggregation with watermark produces per-window counts") {
    val scratch = TestSpark.tempDir("graft_wstream").toString
    val in = s"$scratch/in"
    new java.io.File(in).mkdirs()
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), "click", 1.0),
      (2L, ts("2024-01-01 00:20:00"), "click", 2.0),
      (3L, ts("2024-01-01 01:10:00"), "view", 3.0)).toDF("event_id", "ts", "event_type", "value")
    writeDrop(events, in, "drop1")

    val agg = CdcStream.windowedCounts(spark, in, events.schema)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("graft_windowed")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.sql(
      "SELECT window.start, event_type, n, total_value FROM graft_windowed ORDER BY 1, 2").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Timestamp]("start") == ts("2024-01-01 00:00:00"))
    assert(out(0).getAs[Long]("n") == 2)
    assert(out(0).getAs[Double]("total_value") == 3.0)
    assert(out(1).getAs[String]("event_type") == "view")
  }
}
