package graft

import graft.operators.{Cdc, ParquetWatermarkStore, WatermarkStore}
import graft.sources.DirSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

/** CDC semantics (SURVEY §5.4): strict-`>` watermark, empty-delta skip,
  * watermark advance to max(ts), idempotent re-run (the property the
  * reference LACKS — its UUID ids duplicate on retry, T3). */
class CdcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** One cycle over a parquet directory: rows per table, or the cycle's
    * failures raised ([[Cdc.requireSynced]]). */
  private def sync(src: String, state: String, sink: String,
      deterministicChunks: Boolean = false): Map[String, Long] =
    Cdc.requireSynced(Cdc.syncCycleOutcomesOn(spark, DirSource(src),
      ParquetWatermarkStore(state), sink, deterministicChunks = deterministicChunks))

  test("strict-> delta excludes rows equal to the watermark (T2 parity)") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (2L, ts("2024-01-02 00:00:00")),
      (3L, ts("2024-01-03 00:00:00"))).toDF("event_id", "ts")
    val delta = Cdc.deltaScan(df, "ts", Some(ts("2024-01-02 00:00:00")))
    assert(delta.select("event_id").as[Long].collect().toSet == Set(3L))
    // no watermark → full scan (first sync, service.py:55-57)
    assert(Cdc.deltaScan(df, "ts", None).count() == 3)
  }

  test("boundedDeltaScan pins the sunk interval to (wm, upTo] — concurrent " +
      "appends past the measured watermark never leak into the cycle") {
    val wm = ts("2024-01-01 00:00:00")
    val newWm = ts("2024-01-03 00:00:00")
    // row 4 models a source append landing BETWEEN the watermark agg and
    // the delta re-scan: changeCol > newWm, so it must be excluded this
    // cycle (the commit only covers newWm) and picked up once by the next
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (2L, ts("2024-01-02 00:00:00")),
      (3L, newWm),
      (4L, ts("2024-01-04 00:00:00"))).toDF("event_id", "ts")
    val sunk = Cdc.boundedDeltaScan(df, "ts", Some(wm), newWm)
    assert(sunk.select("event_id").as[Long].collect().toSet == Set(2L, 3L))
    // the next cycle (watermark = newWm) picks up exactly the leftover
    assert(Cdc.deltaScan(df, "ts", Some(newWm))
      .select("event_id").as[Long].collect().toSet == Set(4L))
    // first sync: lower bound absent, upper clamp still holds
    assert(Cdc.boundedDeltaScan(df, "ts", None, newWm)
      .select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("deltaScanWithLateness re-reads the lateness window (T2 documented fix)") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (2L, ts("2024-01-01 00:10:00")),
      (3L, ts("2024-01-01 00:20:00"))).toDF("event_id", "ts")
    val delta = Cdc.deltaScanWithLateness(df, "ts", Some(ts("2024-01-01 00:10:00")), latenessSeconds = 600)
    // >= (wm - 10min) → includes rows 1 (equal to adjusted), 2 and 3
    assert(delta.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("schema drift: a column added between cycles flows into the chunk JSON (dynamic SELECT *)") {
    val scratch = TestSpark.tempDir("graft_cdc_evo").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    // cycle 1: (event_id, ts, payload)
    Seq((1L, ts("2024-01-01 00:00:00"), "a"), (2L, ts("2024-01-02 00:00:00"), "b"))
      .toDF("event_id", "ts", "payload").write.parquet(s"$src/events.parquet")
    sync(src, s"$scratch/state", s"$scratch/sink")
    // cycle 2: the table gained a column (ALTER TABLE analog) — new rows
    // carry it as appended wider-schema files, old files stay untouched
    Seq((3L, ts("2024-01-03 00:00:00"), "c", "eu"))
      .toDF("event_id", "ts", "payload", "region")
      .write.mode("append").parquet(s"$src/events.parquet")
    sync(src, s"$scratch/state", s"$scratch/sink")
    val texts = Cdc.readVectorSink(spark, s"$scratch/sink")
      .select("text").as[String].collect()
    // the delta row serializes WITH the new column (the reference's
    // SELECT * against the post-ALTER schema)
    assert(texts.exists(t => t.contains("\"region\":\"eu\"") && t.contains("\"event_id\":3")),
      s"new column missing from cycle-2 chunks: ${texts.mkString("\n")}")
    // cycle-1 chunks were not rewritten (their JSON predates the column)
    assert(texts.exists(t => t.contains("\"event_id\":1") && !t.contains("region")))
  }

  test("scalable chunking in the sync path covers the same rows (the default mode)") {
    val scratch = TestSpark.tempDir("graft_cdc_sc").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 250).map(i => (i.toLong, ts(f"2024-01-01 00:${i % 60}%02d:${i % 60}%02d"), s"u$i"))
      .toDF("event_id", "ts", "payload").write.parquet(s"$src/events.parquet")
    val n = sync(src, s"$scratch/state", s"$scratch/sink")
    assert(n("events") == 250)
    val sink = Cdc.readVectorSink(spark, s"$scratch/sink")
    assert(sink.count() >= 3) // >= ceil(250/100); partition-local boundaries may add chunks
  }

  test("watermark store: absent → None; upsert is last-writer-wins by max") {
    val state = TestSpark.tempDir("graft_wm").toString
    val store = ParquetWatermarkStore(state)
    assert(store.get("t1").isEmpty)
    store.update("t1", ts("2024-01-02 00:00:00"))
    assert(store.get("t1").contains(ts("2024-01-02 00:00:00")))
    // MERGE semantics: second upsert with later value advances
    store.update("t1", ts("2024-01-05 00:00:00"))
    assert(store.get("t1").contains(ts("2024-01-05 00:00:00")))
    // independent keys don't interfere
    store.update("t2", ts("2024-01-01 00:00:00"))
    assert(store.get("t1").contains(ts("2024-01-05 00:00:00")))
  }

  test("watermark RMW is driver-side: zero Spark jobs per commit, Spark read surface agrees (r14)") {
    // VERDICT r13 #2: the commit used to run ~3 Spark jobs per table per
    // cycle under the commit lock — O(jobs), not O(rows), at 1,000 CDC
    // tables the cycle's driver bottleneck. The RMW of a T-row store is
    // driver work; pin that NO job is scheduled by lookups or commits.
    val state = TestSpark.tempDir("graft_wm_jobs").toString
    val store = ParquetWatermarkStore(state)
    val jobs = QueryProfile(spark) {
      (1 to 5).foreach { i =>
        store.update(s"t$i", ts(f"2024-01-0$i%d 00:00:00"))
      }
      assert(store.get("t3").contains(ts("2024-01-03 00:00:00")))
      assert(Cdc.readWatermarkMap(state).size == 5)
    }.jobs.size
    assert(jobs == 0, s"watermark lookups+commits must schedule no Spark job, saw $jobs")
    // the Spark read surface (readWatermarks) sees exactly what the
    // driver-side writer committed — same schema, same µs instants
    val rows = Cdc.readWatermarks(spark, state).collect()
      .map(r => r.getString(0) -> Cdc.asTimestamp(r.get(1))).toMap
    assert(rows == (1 to 5).map(i => s"t$i" -> ts(f"2024-01-0$i%d 00:00:00")).toMap)
  }

  test("watermark store survives a crash injected before the commit (pre-write value readable)") {
    // The old implementation had a window (live → _old rename, then
    // tmp → live rename) where NO live store existed; a crash there
    // silently reset every watermark (forced full re-sync). The versioned
    // store commits by one atomic pointer rename — a crash at ANY point
    // before it must leave the previous value intact and readable.
    val state = TestSpark.tempDir("graft_wm_crash").toString
    val store = ParquetWatermarkStore(state)
    store.update("t1", ts("2024-01-02 00:00:00"))
    val boom = intercept[RuntimeException] {
      store.update("t1", ts("2024-03-01 00:00:00"),
        onBeforeCommit = () => throw new RuntimeException("injected crash before pointer publish"))
    }
    assert(boom.getMessage.contains("injected"))
    // pre-write value still live and readable — no reset, no missing dir
    assert(store.get("t1").contains(ts("2024-01-02 00:00:00")))
    // the next successful write commits the new value, GCs the crashed
    // write's orphan dir, and keeps the previously-pointed version for one
    // extra write (reader-vs-GC grace) — so exactly 2 version dirs remain:
    // the published one and its predecessor, with the orphan gone
    store.update("t1", ts("2024-03-01 00:00:00"))
    assert(store.get("t1").contains(ts("2024-03-01 00:00:00")))
    val vdirs = new java.io.File(state).listFiles().map(_.getName)
      .filter(_.startsWith(Cdc.WatermarkTable + "_v")).sorted
    assert(vdirs.length == 2, s"expected published + grace-kept predecessor: ${vdirs.mkString(",")}")
    // a further write retires the grace-kept dir: still exactly 2
    store.update("t1", ts("2024-03-02 00:00:00"))
    val vdirs2 = new java.io.File(state).listFiles().map(_.getName)
      .filter(_.startsWith(Cdc.WatermarkTable + "_v")).sorted
    assert(vdirs2.length == 2, s"grace must be ONE write long: ${vdirs2.mkString(",")}")
    assert(vdirs2.toSet.intersect(vdirs.toSet).size == 1, "only the previously-published dir survives")
  }

  /** The error every reader and writer raises on a store in an older layout. */
  private def refused(f: => Any): Unit = {
    val e = intercept[IllegalStateException](f)
    assert(e.getMessage.contains("initializeIndex"), e.getMessage)
  }

  /** The file's `last_updated` parquet type, from its footer. */
  private def tsType(f: java.io.File): String = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration()))
    try (r.getFooter.getFileMetaData.getSchema: org.apache.parquet.schema.GroupType)
      .getType("last_updated").toString
    finally r.close()
  }

  // an unversioned Spark-written INT96 store, then a versioned INT64-ms one
  test("watermark store: old layouts are refused until initializeIndex republishes them") {
    val state = TestSpark.tempDir("graft_wm_upgrade").toString
    val store = ParquetWatermarkStore(state)
    val scratch = TestSpark.tempDir("graft_wm_upgrade_sink").toString
    val wm = Cdc.WatermarkTable
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    // the pre-versioning layout: a bare Spark-written parquet dir at state/watermark
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try Seq(("t1", ts("2024-01-02 00:00:00.123456")), ("t0", null.asInstanceOf[Timestamp]))
      .toDF("table_name", "last_updated").write.parquet(s"$state/$wm")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    refused(store.get("t1"))
    refused(Cdc.readWatermarkMap(state))
    refused(store.update("t2", ts("2024-02-01 00:00:00")))
    val engine = new Engine(spark, s"$scratch/src", state, s"$scratch/sink")
    engine.initializeIndex()
    assert(Cdc.readWatermarkMap(state) == Map("t1" -> ts("2024-01-02 00:00:00.123456")))
    // the bare dir is gone; the pointer names a driver-written µs file
    assert(!new java.io.File(s"$state/$wm").exists())
    val live = new java.io.File(state, Files.readString(
      java.nio.file.Paths.get(s"$state/$wm.current")).trim)
    assert(live.listFiles().filter(_.getName.endsWith(".parquet"))
      .forall(f => tsType(f).contains("TIMESTAMP(MICROS")))
    // a second upgrade publishes no new version
    val before = new java.io.File(state).listFiles().map(_.getName).toSet
    engine.initializeIndex()
    assert(new java.io.File(state).listFiles().map(_.getName).toSet == before)
    store.update("t2", ts("2024-02-01 00:00:00"))
    assert(store.get("t2").contains(ts("2024-02-01 00:00:00")))

    // a versioned store whose live file Spark wrote as INT64 ms
    val vdir = s"$state/${wm}_v000099"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Seq(("t3", ts("2024-03-01 00:00:00.250"))).toDF("table_name", "last_updated")
      .coalesce(1).write.parquet(vdir)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    Files.writeString(java.nio.file.Paths.get(s"$state/$wm.current"), s"${wm}_v000099")
    refused(Cdc.readWatermarkMap(state))
    refused(store.update("t4", ts("2024-04-01 00:00:00")))
    engine.initializeIndex()
    assert(Cdc.readWatermarkMap(state) == Map("t3" -> ts("2024-03-01 00:00:00.250")))
    assert(Files.readString(java.nio.file.Paths.get(s"$state/$wm.current")).trim == s"${wm}_v000100")
  }

  test("vector upsert: same id overwrites (Pinecone semantics, service.py:160-166)") {
    val sink = TestSpark.tempDir("graft_sink").toString
    Cdc.initVectorSink(spark, sink)
    val b1 = Seq(("a#1", Array(1f), "t", "old"), ("a#2", Array(2f), "t", "x"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b1)
    val b2 = Seq(("a#1", Array(9f), "t", "new")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b2)
    val out = Cdc.readVectorSink(spark, sink).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("text")).toMap
    assert(out == Map("a#1" -> "new", "a#2" -> "x"))
  }

  test("a merge-path sink commit reads its staging without Spark's hidden-path warning") {
    val sink = TestSpark.tempDir("graft_sink_stagewarn").toString
    Cdc.initVectorSink(spark, sink)
    Cdc.upsertVectors(spark, sink, Seq(("a#1", Array(1f), "t", "old"), ("a#2", Array(2f), "t", "x"))
      .toDF("id", "embedding", "source", "text"))
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-datasource", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        warnings.add(e.getMessage.getFormattedMessage); ()
      }
    }
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    appender.start()
    logger.addAppender(appender)
    try {
      // a#1 lands in a published bucket: the commit merges, not renames
      Cdc.upsertVectors(spark, sink, Seq(("a#1", Array(9f), "t", "new"), ("a#3", Array(3f), "t", "y"))
        .toDF("id", "embedding", "source", "text"))
    } finally { logger.removeAppender(appender); appender.stop() }
    val ignored = warnings.asScala.filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
    val out = Cdc.readVectorSink(spark, sink).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("text")).toMap
    assert(out == Map("a#1" -> "new", "a#2" -> "x", "a#3" -> "y"))
  }

  test("namespaces isolate ids: same id upserted into two namespaces keeps both") {
    val sink = TestSpark.tempDir("graft_sink_ns").toString
    Cdc.initVectorSink(spark, sink)
    val b = Seq(("a#1", Array(1f), "t", "in-task1")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b) // default namespace task1
    val b2 = Seq(("a#1", Array(2f), "t", "in-task2")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b2, namespace = "task2")
    val rows = Cdc.readVectorSink(spark, sink).collect()
      .map(r => (r.getAs[String]("namespace"), r.getAs[String]("text")))
    assert(rows.toSet == Set(("task1", "in-task1"), ("task2", "in-task2")))
    // overwriting in task2 leaves task1 untouched
    val b3 = Seq(("a#1", Array(3f), "t", "in-task2-v2")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b3, namespace = "task2")
    val after = Cdc.readVectorSink(spark, sink).collect()
      .map(r => (r.getAs[String]("namespace"), r.getAs[String]("text")))
    assert(after.toSet == Set(("task1", "in-task1"), ("task2", "in-task2-v2")))
  }

  test("merge commit MOVES staged files into the new root — new rows are never rewritten (r14)") {
    val sink = TestSpark.tempDir("graft_sink_mv").toString
    Cdc.initVectorSink(spark, sink)
    // publish a first batch so the second batch's buckets OVERLAP →
    // commit takes the merge path, not the empty-overlap rename
    val ids = (1 to 40).map(i => s"m#$i")
    Cdc.upsertVectors(spark, sink,
      ids.map(id => (id, Array(1f), "t", s"v1-$id")).toDF("id", "embedding", "source", "text"))
    val b2 = ids.take(20).map(id => (id, Array(2f), "t", s"v2-$id"))
      .toDF("id", "embedding", "source", "text")
    val staged = Cdc.stageUpsert(spark, sink, b2).get
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val stagedNames = walk(new java.io.File(staged.stageDir))
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(stagedNames.nonEmpty)
    Cdc.commitStagedUpsert(spark, sink, staged)
    // the staged batch's physical files live under the published roots,
    // names intact — one rename each, zero Spark rewrite of new rows
    val rootFiles = walk(new java.io.File(sink))
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(stagedNames.subsetOf(rootFiles),
      s"staged files must be MOVED into the root: missing ${stagedNames -- rootFiles}")
    // and the merge is still correct: overwritten ids serve v2, rest v1
    val out = Cdc.readVectorSink(spark, sink).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("text")).toMap
    assert(out == ids.map(id => id ->
      (if (ids.take(20).contains(id)) s"v2-$id" else s"v1-$id")).toMap)
  }

  test("upsert rewrites only touched buckets: other bucket files stay byte-identical") {
    val sink = TestSpark.tempDir("graft_sink_bk").toString
    Cdc.initVectorSink(spark, sink)
    // spread ids over buckets, then find two ids in different buckets
    val ids = (1 to 40).map(i => s"t#$i")
    val b1 = ids.map(id => (id, Array(1f), "t", s"v1-$id")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b1)
    val byBucket = Cdc.readVectorSink(spark, sink).select("id", "bucket").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val (touchId, touchBucket) = byBucket.head
    val otherBucket = byBucket.values.find(_ != touchBucket).get
    def bucketFiles(bk: Int): Map[String, String] = {
      // locate the bucket through the manifest (MVCC: its generation root
      // is part of its identity — an untouched bucket must not even MOVE)
      val entry = Cdc.readManifest(sink)
        .find(e => e.namespace == "task1" && e.bucket == bk).get
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val dir = new java.io.File(s"$sink/${entry.root}/namespace=task1/bucket=$bk")
      walk(dir).filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getPath.stripPrefix(sink) -> java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5").digest(bytes))
      }.toMap
    }
    val before = bucketFiles(otherBucket)
    assert(before.nonEmpty)
    // upsert touching only touchBucket
    val b2 = Seq((touchId, Array(9f), "t", "v2")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b2)
    assert(bucketFiles(otherBucket) == before,
      "untouched bucket must keep identical bytes at identical paths")
    val texts = Cdc.readVectorSink(spark, sink).where(col("id") === touchId)
      .select("text").collect().map(_.getString(0))
    assert(texts.toSeq == Seq("v2"))
  }

  test("re-upsert that moves an id to a new simb sub-partition leaves no stale copy") {
    val sink = TestSpark.tempDir("graft_sink_simb").toString
    Cdc.initVectorSink(spark, sink)
    // all-positive leading signs → simb 15; all-negative → simb 0
    val b1 = Seq(("a#1", Array(1f, 1f, 1f, 1f), "t", "v1")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b1)
    val b2 = Seq(("a#1", Array(-1f, -1f, -1f, -1f), "t", "v2")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b2)
    val rows = Cdc.readVectorSink(spark, sink).select("id", "text", "simb").collect()
    assert(rows.length == 1, s"stale simb copy survived: ${rows.mkString(",")}")
    assert(rows(0).getAs[String]("text") == "v2")
    assert(rows(0).getAs[Int]("simb") == 0)
  }

  test("crash before the manifest flip leaves the committed snapshot; retry converges; orphan swept") {
    val sink = TestSpark.tempDir("graft_sink_crash").toString
    Cdc.initVectorSink(spark, sink)
    // commit a first batch spread over several buckets
    val ids = (1 to 40).map(i => s"t#$i")
    val b1 = ids.map(id => (id, Array(1f), "t", s"v1-$id")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b1)
    val committed = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(committed.size == 40)

    // second batch touches several buckets; die AFTER the data write but
    // BEFORE the atomic manifest pointer flip
    val b2 = ids.take(10).map(id => (id, Array(2f), "t", s"v2-$id")).toDF("id", "embedding", "source", "text")
    val boom = intercept[RuntimeException] {
      Cdc.upsertVectors(spark, sink, b2,
        onBeforeCommit = () => throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage == "injected crash")

    // MVCC: a crashed commit is INVISIBLE — the read is bit-for-bit the
    // previous snapshot, never a mid-swap mix (the pre-r13 bucket-swap
    // design could only promise per-bucket old-or-new here)
    val midway = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(midway == committed, "crashed (unpublished) commit leaked into a read")
    val orphanRoots = new java.io.File(sink).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("vectors_g")).map(_.getName).toSet

    // re-running the same upsert (what a crashed CDC cycle does)
    // converges the sink to the full batch-2 state
    Cdc.upsertVectors(spark, sink, b2)
    val after = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after.keySet == committed.keySet)
    ids.take(10).foreach(id => assert(after(id) == s"v2-$id", s"$id not overwritten on retry"))
    ids.drop(10).foreach(id => assert(after(id) == s"v1-$id"))
    // the crashed attempt's orphan generation root was GC-swept by the
    // successful commit (it was never referenced by any manifest)
    val live = Cdc.readManifest(sink).map(_.root).toSet
    orphanRoots.diff(live).foreach { orphan =>
      assert(!new java.io.File(sink, orphan).exists(), s"orphan root $orphan survived GC")
    }
  }

  test("crash during the staged write leaves the live sink untouched") {
    val sink = TestSpark.tempDir("graft_sink_stagefail").toString
    Cdc.initVectorSink(spark, sink)
    val b1 = Seq(("a#1", Array(1f), "t", "v1")).toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b1)
    // a failing batch plan aborts the stage write before any manifest/swap
    val bad = Seq(("a#1", Array(2f), "t", "v2")).toDF("id", "embedding", "source", "text")
      .withColumn("text", expr("raise_error('boom')"))
    intercept[Exception] { Cdc.upsertVectors(spark, sink, bad) }
    val rows = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("a#1" -> "v1"))
  }

  test("incremental compaction bounds live generation roots at MaxLiveRoots") {
    val sink = TestSpark.tempDir("graft_sink_compact").toString
    Cdc.initVectorSink(spark, sink)
    // 2×MaxLiveRoots single-id commits: every commit adds a root, so
    // without compaction the root count would grow without bound (and
    // with it every read's union width and the sink's file count)
    val n = Cdc.MaxLiveRoots * 2
    (1 to n).foreach { i =>
      val b = Seq((s"t#$i", Array(i.toFloat), "t", s"v$i")).toDF("id", "embedding", "source", "text")
      Cdc.upsertVectors(spark, sink, b)
      val roots = Cdc.readManifest(sink).map(_.root).distinct
      assert(roots.size <= Cdc.MaxLiveRoots,
        s"commit $i left ${roots.size} live roots: $roots")
    }
    // no row was lost to the folds, and every id reads its latest value
    val rows = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == (1 to n).map(i => s"t#$i" -> s"v$i").toMap)
    // physically retired roots are gone from disk: GC keeps the roots of
    // the current and previous manifests, and current = (prev − folded)
    // ∪ {new}, so at most MaxLiveRoots + 1 root dirs may exist
    val onDisk = new java.io.File(sink).listFiles()
      .filter(f => f.isDirectory && (f.getName == "vectors" || f.getName.startsWith("vectors_g")))
      .map(_.getName).toSet
    assert(onDisk.size <= Cdc.MaxLiveRoots + 1,
      s"retired roots not GC'd: ${onDisk.size} on disk: $onDisk")
  }

  test("MVCC snapshot isolation: a read resolved mid-commit or pre-commit sees the old snapshot") {
    val sink = TestSpark.tempDir("graft_sink_mvcc").toString
    Cdc.initVectorSink(spark, sink)
    val ids = (1 to 30).map(i => s"t#$i")
    def gen(tag: String) =
      ids.map(id => (id, Array(1f), "t", s"$tag-$id")).toDF("id", "embedding", "source", "text")
    def textsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("text").collect().map(_.getString(0).takeWhile(_ != '-')).toSet
    Cdc.upsertVectors(spark, sink, gen("g1"))

    // (a) a reader that resolves DURING an in-flight commit (after the
    // data write, before the pointer flip) sees exactly the old snapshot
    var midCommit: Set[String] = null
    Cdc.upsertVectors(spark, sink, gen("g2"),
      onBeforeCommit = () => midCommit = textsOf(Cdc.readVectorSink(spark, sink)))
    assert(midCommit == Set("g1"), s"mid-commit read tore: $midCommit")

    // (b) a reader that RESOLVED before a commit still materializes its
    // snapshot after it (one-behind GC retention) — and it is the OLD one
    val pinned = Cdc.readVectorSink(spark, sink) // resolves manifest + listing now
    Cdc.upsertVectors(spark, sink, gen("g3"))
    assert(textsOf(pinned) == Set("g2"), "pinned reader must see its resolved snapshot")
    assert(textsOf(Cdc.readVectorSink(spark, sink)) == Set("g3"))
  }

  test("pre-simb sink layout fails fast with a reinitialize error") {
    val sink = TestSpark.tempDir("graft_sink_oldlayout").toString
    // fabricate the round-2 layout: (namespace, bucket) with files directly
    // under bucket= (no simb= level)
    Seq(("a#1", Array(1f), "t", "old", "task1", 3))
      .toDF("id", "embedding", "source", "text", "namespace", "bucket")
      .write.partitionBy("namespace", "bucket").parquet(s"$sink/vectors")
    val b = Seq(("a#2", Array(2f), "t", "new")).toDF("id", "embedding", "source", "text")
    // writers and readers refuse the manifest-less root ...
    refused(Cdc.upsertVectors(spark, sink, b))
    refused(Cdc.readVectorSink(spark, sink))
    // ... and the upgrade cannot adopt it: it names the pre-simb layout
    val engine = new Engine(spark, s"$sink/src", s"$sink/state", sink)
    val e = intercept[IllegalStateException] { engine.initializeIndex() }
    assert(e.getMessage.contains("pre-simb"))
    refused(Cdc.upsertVectors(spark, sink, b))
  }

  test("sink layout is chosen at creation, persisted, and honored by later upserts") {
    val sink = TestSpark.tempDir("graft_sink_layout").toString
    Cdc.initVectorSink(spark, sink, Cdc.SinkLayout(buckets = 4, simBits = 2))
    assert(Cdc.readLayout(sink) == Cdc.SinkLayout(4, 2))
    val b = (1 to 30).map(i => (s"t#$i", Array(1f, -1f, 1f), "t", s"v$i"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b)
    val rows = Cdc.readVectorSink(spark, sink).select("bucket", "simb").collect()
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 4), "bucket beyond layout")
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 4), "simb beyond 2^simBits")
    // a second init must NOT re-layout an existing sink
    Cdc.initVectorSink(spark, sink, Cdc.SinkLayout(buckets = 64, simBits = 4))
    assert(Cdc.readLayout(sink) == Cdc.SinkLayout(4, 2))
    // a sink an upsert creates without init gets the default layout's file
    val fresh = TestSpark.tempDir("graft_sink_upsert_layout").toString
    Cdc.upsertVectors(spark, fresh, b)
    assert(new java.io.File(s"$fresh/vectors_layout.properties").isFile)
    assert(Cdc.readLayout(fresh) == Cdc.DefaultLayout)
    // a directory without the file is in an older layout: refused, naming the upgrade
    val bare = TestSpark.tempDir("graft_sink_nolayout").toString
    refused(Cdc.readLayout(bare))
  }

  test("upsertVectors drops null ids (non-nullable partition contract)") {
    val sink = TestSpark.tempDir("graft_sink_nullid").toString
    Cdc.initVectorSink(spark, sink)
    val b = Seq((null.asInstanceOf[String], Array(1f), "t", "x"), ("a#1", Array(1f), "t", "y"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b)
    val ids = Cdc.readVectorSink(spark, sink).select("id").collect().map(_.getString(0))
    assert(ids.toSeq == Seq("a#1"))
  }

  test("sinkStats summarizes per-namespace count and dim (describe_index_stats analog)") {
    val sink = TestSpark.tempDir("graft_sink_st").toString
    Cdc.initVectorSink(spark, sink)
    val b = Seq(("a#1", Array(1f, 2f, 3f), "t", "x"), ("a#2", Array(4f, 5f, 6f), "t", "y"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, b)
    val st = Cdc.sinkStats(spark, sink).collect()(0)
    assert(st.getAs[String]("namespace") == "task1")
    assert(st.getAs[Long]("n_vectors") == 2L)
    assert(st.getAs[Int]("dim") == 3)
  }

  test("two-batch incremental sync: second batch picks up only ts > wm; " +
    "re-run is a no-op (idempotence via content-hash ids)") {
    val scratch = TestSpark.tempDir("graft_cdc").toString
    val src = s"$scratch/src"; val state = s"$scratch/state"; val sink = s"$scratch/sink"
    new java.io.File(src).mkdirs()
    val batch1 = (1 to 150).map(i => (i.toLong, ts(f"2024-01-01 00:${i % 60}%02d:${i % 60}%02d"), s"u$i"))
      .toDF("event_id", "ts", "payload")
    batch1.write.parquet(s"$src/events.parquet")
    // deterministic mode: exact chunk counts are what this test asserts
    val r1 = sync(src, state, sink, deterministicChunks = true)
    assert(r1("events") == 150)
    val wm1 = ParquetWatermarkStore(state).get("events").get
    val n1 = Cdc.readVectorSink(spark, sink).count()
    assert(n1 == 2) // ceil(150/100) chunks

    // append newer rows (overwrite table with union)
    val batch2 = (151 to 180).map(i => (i.toLong, ts("2024-01-02 00:00:00"), s"u$i"))
      .toDF("event_id", "ts", "payload")
    batch1.union(batch2).write.mode("overwrite").parquet(s"$src/events.parquet")
    val r2 = sync(src, state, sink, deterministicChunks = true)
    assert(r2("events") == 30) // only the delta
    assert(ParquetWatermarkStore(state).get("events").get.after(wm1))

    // third run: empty delta → skip, watermark unchanged (P6)
    val wm2 = ParquetWatermarkStore(state).get("events").get
    val r3 = sync(src, state, sink)
    assert(r3("events") == 0)
    assert(ParquetWatermarkStore(state).get("events").get == wm2)
  }

  test("a failed table is isolated AND loud: outcomes name it, requireSynced throws (T6)") {
    val scratch = TestSpark.tempDir("graft_cdc_fail").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    Seq((1L, ts("2024-01-01 00:00:00"), "a"), (2L, ts("2024-01-02 00:00:00"), "b"))
      .toDF("event_id", "ts", "payload").write.parquet(s"$src/events.parquet")
    // a table whose read fails: garbage bytes behind a .parquet name
    Files.write(java.nio.file.Paths.get(s"$src/broken.parquet"),
      "this is not a parquet file".getBytes)

    // outcome surface: failure isolated per table, healthy table commits
    val outcomes = Cdc.syncCycleOutcomesOn(spark, DirSource(src),
      ParquetWatermarkStore(s"$scratch/state"), s"$scratch/sink")
    assert(outcomes("events") == Cdc.TableSynced(2L))
    assert(outcomes("broken").isFailure)
    assert(Cdc.readVectorSink(spark, s"$scratch/sink").count() > 0)
    assert(ParquetWatermarkStore(s"$scratch/state").get("events").isDefined)

    // rows surface: a partial failure must raise, not masquerade as
    // "no new data" (VERDICT r8: empty sink read as fast success)
    val e = intercept[Cdc.CdcCycleException] {
      sync(src, s"$scratch/state2", s"$scratch/sink2")
    }
    assert(e.failures.keySet == Set("broken"))
    assert(e.getMessage.contains("broken"))
  }

  test("crash between the sink commit and the watermark commit (polling path): " +
      "the table fails, the sink holds its rows, a re-run converges (T3)") {
    val scratch = TestSpark.tempDir("graft_cdc_gap").toString
    val (src, state, sink) = (s"$scratch/src", s"$scratch/state", s"$scratch/sink")
    new java.io.File(src).mkdirs()
    (1 to 120).map(i => (i.toLong, ts(f"2024-01-01 01:${i % 60}%02d:00"), s"p$i"))
      .toDF("event_id", "ts", "payload").write.parquet(s"$src/events.parquet")
    val parquet = ParquetWatermarkStore(state)
    // the parquet store, except that its first commit crashes
    val crashing = new WatermarkStore {
      private val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def get(t: String): Option[Timestamp] = parquet.get(t)
      def readAll(): Map[String, Timestamp] = parquet.readAll()
      def update(t: String, at: Timestamp, onBeforeCommit: () => Unit): Unit =
        if (crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash before watermark commit")
        else parquet.update(t, at, onBeforeCommit)
    }
    val out = Cdc.syncCycleOutcomesOn(spark, DirSource(src), crashing, sink,
      deterministicChunks = true)
    out("events") match {
      case Cdc.TableFailed(e) => assert(e.getMessage.contains("injected crash"))
      case other => fail(s"the crashed commit must fail the table: $other")
    }
    // the crash window state: sink committed, watermark NOT advanced
    val first = Cdc.readVectorSink(spark, sink).select("id").as[String].collect()
    assert(first.length == 2) // ceil(120/100)
    assert(parquet.get("events").isEmpty)

    // re-run: the whole delta again, overwriting the same ids
    assert(sync(src, state, sink, deterministicChunks = true) == Map("events" -> 120L))
    val ids = Cdc.readVectorSink(spark, sink).select("id").as[String].collect()
    assert(ids.length == ids.distinct.length, s"duplicate ids after the re-run: ${ids.toSeq}")
    assert(ids.toSet == first.toSet)
    assert(parquet.get("events").contains(ts("2024-01-01 01:59:00")))
  }

  test("concurrent cycle matches the serial result (commit-lock correctness)") {
    val scratch = TestSpark.tempDir("graft_cdc_par").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    // several independent CDC tables, all with deltas, synced in one cycle
    (0 until 4).foreach { k =>
      (1 to 120).map(i => (i.toLong + k * 1000, ts(f"2024-01-01 0$k:${i % 60}%02d:00"), s"t$k-u$i"))
        .toDF("event_id", "ts", "payload").write.parquet(s"$src/tab$k.parquet")
    }
    val r = sync(src, s"$scratch/state", s"$scratch/sink")
    assert(r == (0 until 4).map(k => s"tab$k" -> 120L).toMap)
    val sink = Cdc.readVectorSink(spark, s"$scratch/sink")
    // every table's chunks present, ids unique (no lost update under the
    // concurrent upserts), watermark per table committed
    assert(sink.select("id").distinct().count() == sink.count())
    (0 until 4).foreach { k =>
      assert(sink.where(col("source") === s"tab$k").count() >= 2)
      assert(ParquetWatermarkStore(s"$scratch/state").get(s"tab$k").isDefined)
    }
  }

  test("concurrent watermark commits from streaming-style threads: no lost update (r15 lock)") {
    // ADVICE r14: the batch path serializes commits under the cycle's
    // commitLock, but CdcStream's foreachBatch threads call
    // update concurrently — two unlocked RMWs could both read
    // version N and race to publish v{N+1}, the last pointer flip
    // dropping the loser's table. The per-store lock makes the RMW
    // atomic; this drives 8 simultaneous commits (barrier-released, the
    // racing shape) and requires every one of them to survive.
    val state = TestSpark.tempDir("graft_wm_race").toString
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { i =>
      val t = new Thread(() => {
        try {
          barrier.await()
          ParquetWatermarkStore(state).update(s"stream$i", ts(f"2024-01-0$i%d 00:00:00"))
        } catch { case e: Throwable => failures.add(e); () }
      })
      t.start(); t
    }
    threads.foreach(_.join(60000))
    assert(failures.isEmpty, s"commit threw: ${failures.toArray.mkString(";")}")
    val store = Cdc.readWatermarkMap(state)
    assert(store == (1 to 8).map(i => s"stream$i" -> ts(f"2024-01-0$i%d 00:00:00")).toMap,
      s"lost update under concurrent streaming commits: $store")
  }

  test("schema evolution converges: updated rows re-emit under the new schema, " +
      "repeat cycles are byte-stable no-ops (VERDICT r14 #5)") {
    val scratch = TestSpark.tempDir("graft_cdc_evo2").toString
    val src = s"$scratch/src"
    val state = s"$scratch/state"
    val sink = s"$scratch/sink"
    new java.io.File(src).mkdirs()
    // cycle 1: rows 1-2 under schema (event_id, ts, payload)
    Seq((1L, ts("2024-01-01 00:00:00"), "a"), (2L, ts("2024-01-02 00:00:00"), "b"))
      .toDF("event_id", "ts", "payload").write.parquet(s"$src/events.parquet")
    sync(src, state, sink)
    val v1 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // ALTER analog + an UPDATE of row 2: the updated row's ts is bumped
    // (the only way a CDC source re-surfaces a row), and it now carries
    // the new column — appended as a wider-schema file, old file untouched
    Seq((2L, ts("2024-01-03 00:00:00"), "b", "eu"))
      .toDF("event_id", "ts", "payload", "region")
      .write.mode("append").parquet(s"$src/events.parquet")
    sync(src, state, sink)
    val v2 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the re-emitted row serializes WITH the new field under a NEW
    // content-hash id — the new-schema chunk supersedes the old one as
    // the row's latest content; the old chunk persists as then-current
    // history (exactly the reference's UUID-keyed Pinecone behavior)
    val newChunks = v2.keySet -- v1.keySet
    assert(newChunks.nonEmpty, "the updated row must re-emit")
    assert(newChunks.forall(id => v2(id).contains("\"region\":\"eu\"") &&
      v2(id).contains("\"event_id\":2")), s"new-schema serialization missing: $v2")
    assert(v1.keySet.subsetOf(v2.keySet), "pre-ALTER chunks are never rewritten")
    // convergence: with no further source changes the cycle is a no-op —
    // same ids, same text, watermark parked (idempotent thereafter)
    val wm2 = ParquetWatermarkStore(state).get("events")
    sync(src, state, sink)
    val v3 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v3 == v2, "a quiet cycle must be a no-op after evolution")
    assert(ParquetWatermarkStore(state).get("events") == wm2)
  }

  test("quiet-table fast path: footer-stats max is exact across encodings, " +
      "drift, and nulls — and unknown when stats can't be trusted (r16)") {
    val dir = TestSpark.tempDir("graft_stats_max").toString
    import graft.sources.Tables
    // a modern lake writes INT64 timestamps (Delta/Iceberg, pyarrow; the
    // driver fixtures); Spark's own legacy default is INT96 — pinned
    // below as the untrusted fall-back case
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      // exact max over multiple files
      Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-05 00:00:00")))
        .toDF("event_id", "ts").write.parquet(s"$dir/t1.parquet")
      Seq((3L, ts("2024-01-03 00:00:00")))
        .toDF("event_id", "ts").write.mode("append").parquet(s"$dir/t1.parquet")
      assert(Tables.parquetTimestampMax(s"$dir/t1.parquet", "ts")
        .contains(Some(ts("2024-01-05 00:00:00"))))
      // drift: one file lacks the column — its rows are null there, max
      // still exact from the carrying file
      Seq((4L, "x")).toDF("event_id", "payload")
        .write.mode("append").parquet(s"$dir/t1.parquet")
      assert(Tables.parquetTimestampMax(s"$dir/t1.parquet", "ts")
        .contains(Some(ts("2024-01-05 00:00:00"))))
      // all-null column → Some(None); absent table dir → Some(None)
      Seq((1L, Option.empty[java.sql.Timestamp])).toDF("event_id", "ts")
        .write.parquet(s"$dir/t2.parquet")
      assert(Tables.parquetTimestampMax(s"$dir/t2.parquet", "ts").contains(None))
      assert(Tables.parquetTimestampMax(s"$dir/absent.parquet", "ts").contains(None))
      // non-timestamp column → unknown (fall back to the Spark aggregate)
      assert(Tables.parquetTimestampMax(s"$dir/t1.parquet", "event_id").isEmpty)
      // a data file Spark's scan WOULD read but the probe can't see through
      // (renamed, no .parquet suffix) → unknown, never an under-reported max
      Seq((9L, ts("2024-09-01 00:00:00"))).toDF("event_id", "ts")
        .write.parquet(s"$dir/t4.parquet")
      val part = new java.io.File(s"$dir/t4.parquet").listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        part.toPath.resolveSibling("renamed-data-file"))
      assert(Tables.parquetTimestampMax(s"$dir/t4.parquet", "ts").isEmpty,
        "foreign data files must make the probe answer unknown")
      // legacy INT96 timestamps: stats are untrustworthy by design
      // (PARQUET-1065 ordering corruption) → unknown, never a wrong max
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      Seq((1L, ts("2024-01-09 00:00:00"))).toDF("event_id", "ts")
        .write.parquet(s"$dir/t3.parquet")
      assert(Tables.parquetTimestampMax(s"$dir/t3.parquet", "ts").isEmpty)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
  }

  test("quiet-table fast path: a quiet sync schedules ZERO Spark jobs; an " +
      "active table is never skipped (r16)") {
    val scratch = TestSpark.tempDir("graft_quiet_path").toString
    val (src, state, sink) = (s"$scratch/src", s"$scratch/state", s"$scratch/sink")
    new java.io.File(src).mkdirs()
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    Seq((1L, ts("2024-01-01 00:00:00"), "a"), (2L, ts("2024-01-02 00:00:00"), "b"))
      .toDF("event_id", "ts", "payload").write.parquet(s"$src/events.parquet")
    sync(src, state, sink) // first sync: full path
    val wmAfter = ParquetWatermarkStore(state).get("events")
    assert(wmAfter.contains(ts("2024-01-02 00:00:00")))
    // quiet table (footer max == watermark): syncTableOn must answer from
    // driver-side footer stats — no relation, no aggregate, no job
    val quiet = QueryProfile(spark) {
      val store = ParquetWatermarkStore(state)
      Cdc.syncTableOn(spark, DirSource(src), store, sink, "events",
        store.get("events"), "ts", "event_id", chunkSize = 99)
    }
    assert(quiet.result == 0L)
    assert(quiet.jobs.isEmpty, s"quiet sync must schedule no Spark job, saw ${quiet.jobs.size}")
    // new rows past the watermark: the probe answers ACTIVE and the full
    // path syncs them — the fast path can never under-report
    try {
      Seq((3L, ts("2024-01-03 00:00:00"), "c"))
        .toDF("event_id", "ts", "payload").write.mode("append").parquet(s"$src/events.parquet")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    val store = ParquetWatermarkStore(state)
    val n2 = Cdc.syncTableOn(spark, DirSource(src), store, sink, "events",
      store.get("events"), "ts", "event_id", chunkSize = 99)
    assert(n2 == 1L, "active table must not be skipped by the fast path")
    assert(ParquetWatermarkStore(state).get("events").contains(ts("2024-01-03 00:00:00")))
  }

  test("schema drift, DROP direction: a parquet lake keeps the union schema — " +
      "post-drop rows serialize the field as null, sink converges (VERDICT r15 #4)") {
    val scratch = TestSpark.tempDir("graft_cdc_drop").toString
    val (src, state, sink) = (s"$scratch/src", s"$scratch/state", s"$scratch/sink")
    new java.io.File(src).mkdirs()
    Seq((1L, ts("2024-01-01 00:00:00"), "a", "eu"))
      .toDF("event_id", "ts", "payload", "region").write.parquet(s"$src/events.parquet")
    sync(src, state, sink)
    val v1 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v1.values.exists(_.contains("\"region\":\"eu\"")))
    // DROP analog: later files simply stop carrying the column (a parquet
    // lake has no DDL — the old files still have it, so the merged SELECT *
    // keeps the union schema and null-fills, unlike a database drop)
    Seq((2L, ts("2024-01-02 00:00:00"), "b"))
      .toDF("event_id", "ts", "payload").write.mode("append").parquet(s"$src/events.parquet")
    sync(src, state, sink)
    val v2 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val fresh = v2.keySet -- v1.keySet
    assert(fresh.nonEmpty, "the new row must sync")
    assert(fresh.forall(id => v2(id).contains("\"region\":null")),
      s"post-drop row must serialize the dropped field as null (F1 null retention): $v2")
    assert(v1.keySet.subsetOf(v2.keySet), "pre-drop chunks are never rewritten")
    // convergence: a quiet third cycle is a byte-stable no-op
    sync(src, state, sink)
    val v3 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v3 == v2)
  }

  test("schema drift, WIDEN direction: int->bigint between polls — the merged " +
      "read widens instead of crashing, values serialize identically (VERDICT r15 #4)") {
    val scratch = TestSpark.tempDir("graft_cdc_widen").toString
    val (src, state, sink) = (s"$scratch/src", s"$scratch/state", s"$scratch/sink")
    new java.io.File(src).mkdirs()
    // cycle 1: qty is INT
    Seq((1L, ts("2024-01-01 00:00:00"), 10, "a"))
      .toDF("event_id", "ts", "qty", "payload").write.parquet(s"$src/events.parquet")
    sync(src, state, sink)
    val v1 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v1.values.exists(_.contains("\"qty\":10")))
    // ALTER COLUMN widen analog: new files carry qty as BIGINT. Spark's own
    // mergeSchema refuses int-vs-long footers, so this pins the widened-
    // union fallback in Tables.table end-to-end through the cycle.
    Seq((2L, ts("2024-01-02 00:00:00"), 3000000000L, "b"))
      .toDF("event_id", "ts", "qty", "payload").write.mode("append").parquet(s"$src/events.parquet")
    sync(src, state, sink)
    val v2 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val fresh = v2.keySet -- v1.keySet
    assert(fresh.nonEmpty, "the widened row must sync, not crash the read")
    assert(fresh.forall(id => v2(id).contains("\"qty\":3000000000")),
      s"post-widen row must carry the long value: $v2")
    assert(v1.keySet.subsetOf(v2.keySet), "pre-widen chunks are never rewritten")
    // old rows re-read under the widened schema serialize the SAME text
    // (10 as long prints \"10\") — convergence: quiet cycle is a no-op
    sync(src, state, sink)
    val v3 = Cdc.readVectorSink(spark, sink).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(v3 == v2)
  }
}
