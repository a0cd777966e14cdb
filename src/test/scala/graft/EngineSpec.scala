package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** The facade end-to-end: bootstrap → poll twice → query the index. */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  test("engine lifecycle: initialize, poll, watermark advance, similarity query") {
    val scratch = TestSpark.tempDir("graft_engine").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 150).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"payload-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")

    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    engine.runPolling(intervalSeconds = 0, maxCycles = 2) // second cycle = empty delta

    val wm = engine.watermarks().collect()
    assert(wm.length == 1 && wm(0).getAs[String]("table_name") == "events")

    // nprobe = 0 → exact full-namespace scan: a 2-chunk sink must return
    // both regardless of which simb partitions the chunks hash into
    val hits = engine.searchSimilar("payload-42 payload-43", k = 2, nprobe = 0).collect()
    assert(hits.length == 2)
    assert(hits(0).getAs[Double]("score") > 0.1) // tokens overlap the indexed chunks
    assert(hits(0).getAs[String]("id").startsWith("events#"))
  }

  test("searchSimilarBatch returns per-query ranked hits in one plan") {
    import graft.operators.Cdc
    import graft.functions.Embeddings
    val scratch = TestSpark.tempDir("graft_engine_batch").toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    val batch = (1 to 30).map(i => (s"d#$i", Embeddings.embed(s"alpha beta doc number $i"), "t", s"text $i"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, batch)
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    val out = engine.searchSimilarBatch(
      Seq("alpha beta doc number 7", "alpha beta doc number 23"), k = 3).collect()
    val byQuery = out.groupBy(_.getAs[String]("query"))
    assert(byQuery.size == 2)
    byQuery.foreach { case (_, rows) =>
      assert(rows.length <= 3 && rows.map(_.getAs[Int]("rank")).min == 1)
    }
    // each query's own doc ranks first in its bucket
    assert(byQuery("alpha beta doc number 7").minBy(_.getAs[Int]("rank")).getAs[String]("id") == "d#7")
    assert(byQuery("alpha beta doc number 23").minBy(_.getAs[Int]("rank")).getAs[String]("id") == "d#23")
  }

  test("engine builds a persisted IVF index from its sink and answers text queries") {
    import graft.operators.Cdc
    import graft.functions.Embeddings
    val scratch = TestSpark.tempDir("graft_engine_ivf").toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    val batch = (1 to 40).map(i => (s"d#$i", Embeddings.embed(s"alpha beta doc number $i"), "t", s"text $i"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, batch)
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    engine.refreshIvfIndex(k = 4, iters = 2)
    val hits = engine.searchIvf(engine.ivfIndexDir(), "alpha beta doc number 17", k = 5, nprobe = 4)
      .collect().map(_.getAs[String]("id"))
    assert(hits.nonEmpty && hits.head == "d#17", s"got: ${hits.mkString(",")}")
  }

  test("searchSimilar partition-prunes the scan to the probe's simb buckets") {
    import graft.operators.{Cdc, SimilaritySearch}
    import graft.functions.Embeddings
    val scratch = TestSpark.tempDir("graft_engine_prune").toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    // vectors spanning several simb partitions: real embeddings of distinct texts
    val batch = (1 to 40).map(i => (s"d#$i", Embeddings.embed(s"alpha beta doc number $i"), "t", s"text $i"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, batch)
    val nSimb = Cdc.readVectorSink(spark, sink).select("simb").distinct().count()
    assert(nSimb > 1, "fixture must span multiple simb partitions for the pruning test to bite")

    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    val query = "alpha beta doc number 7"
    val result = engine.searchSimilar(query, k = 5, nprobe = 2)
    val ids = result.collect().map(_.getAs[String]("id"))
    // the probe's own bucket contains doc 7 → it must surface
    assert(ids.contains("d#7"))
    // the scan must carry the simb filter as a PARTITION filter (directory
    // pruning, not a post-scan row filter) ...
    val planStr = result.queryExecution.executedPlan.toString
    assert(planStr.matches("(?s).*PartitionFilters: \\[[^\\]]*simb.*"),
      s"simb must prune partitions at the scan:\n$planStr")
    // ... and actually read fewer files than the sink holds
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val totalFiles = Option(new java.io.File(sink).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && (f.getName == "vectors" || f.getName.startsWith("vectors_g")))
      .flatMap(walk).count(_.getName.endsWith(".parquet"))
    val scanned = result.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.sum
    assert(scanned > 0 && scanned < totalFiles,
      s"pruned scan should read a strict subset of files ($scanned of $totalFiles)")
  }

  // --- store upgrade (Engine.initializeIndex) --------------------------------

  /** The error every reader and writer raises on a store in an older layout. */
  private def refused(f: => Any): Unit = {
    val e = intercept[IllegalStateException](f)
    assert(e.getMessage.contains("initializeIndex"), e.getMessage)
  }

  /** Every file under `root` with its size and mtime: equal before and
    * after a run means the run published and deleted nothing. */
  private def tree(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  private def docs(ids: Seq[Int]) = {
    import graft.functions.Embeddings
    ids.map(i => (s"d#$i", Embeddings.embed(s"alpha beta doc number $i"), "t", s"text $i"))
      .toDF("id", "embedding", "source", "text")
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Seq[Float])] =
    df.select("id", "text", "embedding").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2))).toSet

  /** The sink layout written before the manifest: one `vectors` root of
    * (namespace, bucket, simb) directories, no manifest pointer. */
  private def writeManifestlessSink(sink: String, ids: Seq[Int]): Unit = {
    import graft.operators.Cdc
    import org.apache.spark.sql.functions.{col, lit}
    docs(ids).withColumn("namespace", lit(Cdc.DefaultNamespace))
      .withColumn("bucket", Cdc.bucketOf(col("id")))
      .withColumn("simb", Cdc.simBucketOf(col("embedding")))
      .write.partitionBy("namespace", "bucket", "simb").parquet(s"$sink/vectors")
  }

  test("store upgrade: a manifest-less vectors sink is refused, then adopted with " +
      "its rows unchanged, and takes upserts afterwards") {
    import graft.operators.Cdc
    val scratch = TestSpark.tempDir("graft_upgrade_sink").toString
    val sink = s"$scratch/sink"
    writeManifestlessSink(sink, 1 to 30)
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    refused(Cdc.readVectorSink(spark, sink))
    refused(Cdc.upsertVectors(spark, sink, docs(Seq(99))))
    refused(engine.searchSimilar("alpha beta doc number 7", k = 3))
    refused(engine.runSyncCycle())
    assert(!new java.io.File(s"$sink/vectors_manifest.current").exists(), "refusals write nothing")

    engine.initializeIndex()
    assert(rowSet(Cdc.readVectorSink(spark, sink)) == rowSet(docs(1 to 30)))
    assert(Cdc.readManifest(sink).map(_.root).toSet == Set("vectors"))
    assert(engine.searchSimilar("alpha beta doc number 7", k = 1).collect()
      .map(_.getAs[String]("id")).toSeq == Seq("d#7"))
    val upgraded = tree(sink)
    engine.initializeIndex()
    assert(tree(sink) == upgraded, "a second upgrade must publish nothing")

    // a later upsert adds and overwrites ids across the adopted root
    Cdc.upsertVectors(spark, sink,
      docs(Seq(99)).union(docs(Seq(1)).withColumn("text", org.apache.spark.sql.functions.lit("new"))))
    val after = Cdc.readVectorSink(spark, sink).select("id", "text").as[(String, String)].collect().toMap
    assert(after.size == 31 && after("d#1") == "new" && after("d#99") == "text 99")
  }

  test("store upgrade: a manifest sink without a layout file is refused, then given " +
      "the default layout with its rows unchanged") {
    import graft.operators.Cdc
    val scratch = TestSpark.tempDir("graft_upgrade_layout").toString
    val sink = s"$scratch/sink"
    Cdc.upsertVectors(spark, sink, docs(1 to 20))
    val layoutFile = new java.io.File(s"$sink/vectors_layout.properties")
    assert(layoutFile.delete())
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    refused(Cdc.upsertVectors(spark, sink, docs(Seq(99))))
    refused(engine.searchSimilar("alpha beta doc number 7", k = 3))
    assert(!layoutFile.exists(), "refusals write nothing")

    engine.initializeIndex()
    assert(Cdc.readLayout(sink) == Cdc.DefaultLayout)
    assert(rowSet(Cdc.readVectorSink(spark, sink)) == rowSet(docs(1 to 20)))
    assert(engine.searchSimilar("alpha beta doc number 7", k = 1).collect()
      .map(_.getAs[String]("id")).toSeq == Seq("d#7"))
    val upgraded = tree(sink)
    engine.initializeIndex()
    assert(tree(sink) == upgraded, "a second upgrade must write nothing")
  }

  test("store upgrade: a pointer-less IVF container with root-level base_count and " +
      "base_counts files is refused, then retrained into a version") {
    import graft.operators.{Cdc, IvfIndex}
    val scratch = TestSpark.tempDir("graft_upgrade_ivf_flat").toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    Cdc.upsertVectors(spark, sink, docs(1 to 30))
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    val container = engine.ivfIndexDir()
    IvfIndex.build(Cdc.readVectorSink(spark, sink), "id", "embedding", container, k = 4, iters = 2)
    // the pre-sidecar bookkeeping: counts at the container root
    val root = java.nio.file.Paths.get(container)
    Files.move(root.resolve("centroids/_base_counts"), root.resolve("base_counts"))
    Files.delete(root.resolve("centroids/_appended_counts"))
    Files.writeString(root.resolve("base_count"), "30")
    refused(engine.liveIvfDir())
    refused(engine.hasIvfIndex())
    refused(engine.searchLiveIvf("alpha", 3))
    refused(engine.refreshIvfIndex())
    refused(engine.ivfStatus())
    // the same directory searched as a direct build still answers
    assert(engine.searchIvf(container, "alpha beta doc number 17", k = 1, nprobe = 4)
      .collect().map(_.getAs[String]("id")).toSeq == Seq("d#17"))

    engine.initializeIndex()
    val live = engine.liveIvfDir().get
    assert(new java.io.File(live).getName == "v000001")
    assert(Seq("data", "centroids", "base_count", "base_counts")
      .forall(h => !new java.io.File(container, h).exists()), "shadowed halves must go")
    assert(spark.read.parquet(s"$live/data").select("id").as[String].collect().toSet ==
      (1 to 30).map(i => s"d#$i").toSet)
    assert(IvfIndex.appendedFraction(live) == 0.0)
    assert(engine.searchLiveIvf("alpha beta doc number 17", 1).get.collect()
      .map(_.getAs[String]("id")).toSeq == Seq("d#17"))
    val upgraded = tree(container)
    engine.initializeIndex()
    assert(tree(container) == upgraded, "a second upgrade must publish nothing")
  }

  test("store upgrade: an IVF version without count sidecars or roots= is refused, " +
      "then retrained with its build parameters, and appends afterwards") {
    import graft.operators.{Cdc, IvfIndex}
    val scratch = TestSpark.tempDir("graft_upgrade_ivf_sidecars").toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    Cdc.upsertVectors(spark, sink, docs(1 to 30))
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    engine.refreshIvfIndex(k = 4, iters = 2)
    val v1 = engine.liveIvfDir().get
    new java.io.File(s"$v1/centroids/_base_counts").delete()
    new java.io.File(s"$v1/centroids/_appended_counts").delete()
    Files.writeString(java.nio.file.Paths.get(v1, "_build.properties"),
      "k=4\niters=2\nsampleFraction=1.0\n")
    Cdc.upsertVectors(spark, sink, docs(31 to 33))
    refused(engine.refreshIvfIndex())
    refused(engine.ivfStatus())
    refused(IvfIndex.appendedFraction(v1))
    // with roots= but still no sidecars, the append path refuses too
    Files.writeString(java.nio.file.Paths.get(v1, "_build.properties"),
      "k=4\niters=2\nsampleFraction=1.0\nroots=\n")
    refused(engine.refreshIvfIndex())
    assert(engine.liveIvfDir().contains(v1), "a refused refresh flips nothing")

    engine.initializeIndex()
    val live = engine.liveIvfDir().get
    assert(live != v1)
    assert(IvfIndex.centroidEntries(spark, live).size == 4, "k=4 inherited from _build.properties")
    assert(IvfIndex.appendedFraction(live) == 0.0)
    assert(Files.readAllLines(java.nio.file.Paths.get(live, "_build.properties"))
      .contains(s"roots=${Cdc.readManifest(sink).map(_.root).distinct.sorted.mkString(",")}"))
    assert(spark.read.parquet(s"$live/data").select("id").as[String].collect().toSet ==
      (1 to 33).map(i => s"d#$i").toSet)
    val upgraded = tree(engine.ivfIndexDir())
    engine.initializeIndex()
    assert(tree(engine.ivfIndexDir()) == upgraded, "a second upgrade must publish nothing")
    Cdc.upsertVectors(spark, sink, docs(Seq(34)))
    engine.refreshIvfIndex()
    assert(IvfIndex.appendedFraction(engine.liveIvfDir().get) > 0.0, "the refresh appended")
  }

  test("store upgrade: a hash-sharded watermark store is refused, then merged into " +
      "one store; a run cut before the marker's delete converges") {
    import graft.operators.{Cdc, ParquetWatermarkStore}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import java.nio.file.Paths
    val scratch = TestSpark.tempDir("graft_upgrade_wm_shards").toString
    val state = s"$scratch/state"
    val wm = Cdc.WatermarkTable
    val rows = (1 to 12).map(i => s"table_$i" -> Timestamp.valueOf(f"2024-01-$i%02d 00:00:00")).toMap
    // the sharded layout: a table's row lives in shard md5-hash32(name) % 4,
    // each shard a store behind its own pointer, named by a marker holding 4
    val shardOf = rows.keys.toSeq.toDF("n")
      .select(col("n"), pmod(graft.functions.PortableHash.hash32(col("n")), lit(4)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val shards = rows.groupBy { case (t, _) => shardOf(t) }
    assert(shards.keySet == Set(0, 1, 2, 3), "every shard must hold a row")
    new java.io.File(state).mkdirs()
    shards.foreach { case (i, shardRows) =>
      val one = TestSpark.tempDir(s"graft_upgrade_wm_shard$i").toString
      val store = ParquetWatermarkStore(one)
      shardRows.foreach { case (t, ts) => store.update(t, ts) }
      val shard = f"${wm}_b$i%04d"
      val live = Files.readString(Paths.get(one, s"$wm.current")).trim
      Files.move(Paths.get(one, live), Paths.get(state, s"${shard}_v000001"))
      Files.writeString(Paths.get(state, s"$shard.current"), s"${shard}_v000001")
    }
    Files.writeString(Paths.get(state, s"$wm.shards"), "4")
    val cut = s"$scratch/cut"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(state), new java.io.File(cut))

    val store = ParquetWatermarkStore(state)
    refused(store.get("table_1"))
    refused(store.readAll())
    refused(store.update("table_1", Timestamp.valueOf("2024-06-01 00:00:00")))
    refused(Cdc.readWatermarkMap(state))
    val engine = new Engine(spark, s"$scratch/src", state, s"$scratch/sink")
    engine.initializeIndex()
    assert(store.readAll() == rows)
    def shardFiles(dir: String) = new java.io.File(dir).list()
      .filter(n => n.startsWith(s"${wm}_b") || n.startsWith(s"$wm.shards")).toSeq
    assert(shardFiles(state).isEmpty, "the marker and every shard store must go")
    val upgraded = tree(scratch)
    engine.initializeIndex()
    assert(tree(scratch) == upgraded, "a second upgrade must write nothing")

    // a run cut after the merged store's pointer flip, before the marker's delete
    Files.copy(Paths.get(state, s"$wm.current"), Paths.get(cut, s"$wm.current"))
    val merged = Files.readString(Paths.get(state, s"$wm.current")).trim
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(state, merged), new java.io.File(cut, merged))
    refused(ParquetWatermarkStore(cut).readAll())
    new Engine(spark, s"$scratch/src", cut, s"$scratch/sink").initializeIndex()
    assert(ParquetWatermarkStore(cut).readAll() == rows)
    assert(shardFiles(cut).isEmpty)
  }

  test("store upgrade: a tree upgraded only halfway (sink adopted, watermark store " +
      "not) converges on the next run") {
    import graft.operators.Cdc
    val scratch = TestSpark.tempDir("graft_upgrade_halfway").toString
    val (sink, state) = (s"$scratch/sink", s"$scratch/state")
    writeManifestlessSink(sink, 1 to 10)
    val wmDir = s"$state/${Cdc.WatermarkTable}"
    Seq(("events", Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("table_name", "last_updated")
      .write.parquet(wmDir)
    // a file Spark cannot read cuts the run after the sink step
    Files.writeString(java.nio.file.Paths.get(wmDir, "part-99999.parquet"), "not parquet")
    val engine = new Engine(spark, s"$scratch/src", state, sink)
    intercept[Exception](engine.initializeIndex())
    assert(Cdc.readManifest(sink).nonEmpty, "the sink step published before the cut")
    refused(Cdc.readWatermarkMap(state))
    val manifests = new java.io.File(sink).listFiles().map(_.getName)
      .filter(_.startsWith("vectors_manifest_v")).toSet

    Files.delete(java.nio.file.Paths.get(wmDir, "part-99999.parquet"))
    engine.initializeIndex()
    assert(new java.io.File(sink).listFiles().map(_.getName)
      .filter(_.startsWith("vectors_manifest_v")).toSet == manifests, "the sink was done")
    assert(Cdc.readWatermarkMap(state) == Map("events" -> Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(rowSet(Cdc.readVectorSink(spark, sink)) == rowSet(docs(1 to 10)))
    val upgraded = tree(scratch)
    engine.initializeIndex()
    assert(tree(scratch) == upgraded, "a converged tree is left untouched")
  }
}
