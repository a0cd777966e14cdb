package perfbench

import graft.functions.{Embeddings, JsonRows}
import graft.operators.{Cdc, Chunker, IvfIndex, Materialize, ParquetWatermarkStore, SimilaritySearch}
import graft.sources.DirSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, max}

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** The scenario with its sync cycle rebuilt from the public calls
  * `Engine.runSyncCycle` → `Cdc.syncCycleOutcomesOn` → `Cdc.syncTableOn`
  * make, in the same order and with the same concurrency (tables on a
  * pool of up to 8 workers, sink commit and watermark commit under the
  * engine's commit lock), with a span around each call. */
final class TracedScenario(spark: SparkSession, w: Workload, seed: Long, work: File, out: Outcome,
    val trace: Trace, val counters: SparkCounters)
    extends Scenario(spark, w, seed, work, out) {

  private val source = DirSource(srcDir.getPath)
  private val store = ParquetWatermarkStore(stateDir.getPath)
  private val Parallelism = 8 // the cycle's default worker count
  var phase = "backfill"
  private var cycles = 0
  /** (rows rewritten by the commit's merge, rows staged) per commit. */
  val rewrites = ArrayBuffer.empty[(String, Long, Long)]

  /** Spark counter deltas of every traced cycle and IVF build, by phase. */
  val counts = ArrayBuffer.empty[(String, SparkCounters.Snapshot)]

  override def cycle(): Map[String, Long] = {
    cycles += 1
    val (synced, cnt) = counters.over(trace.op(s"$phase-$cycles", s"cycle.$phase") {
      Cdc.initVectorSink(spark, sinkDir.getPath, Cdc.DefaultLayout)
      val tables = trace.span("sources.list")(source.listTables())
        .filterNot(_.equalsIgnoreCase(Cdc.WatermarkTable))
      source.hintParallelism(Parallelism)
      store.hintParallelism(Parallelism)
      val wms = trace.span("watermark.read")(store.readAll())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(Parallelism, tables.size)))
      val synced = try {
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val ctx = trace.context
        val futures = tables.map(t => t -> scala.concurrent.Future {
          trace.withContext(ctx)(trace.span("table")(syncTable(t, wms.get(t))))
        }(ec))
        futures.map { case (t, f) => t -> scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf) }.toMap
      } finally pool.shutdown()
      if (synced.valuesIterator.sum > 0 && engine.hasIvfIndex()) trace.span("ivf.refresh")(engine.refreshIvfIndex())
      synced
    })
    counts += ((phase, cnt))
    synced
  }

  override def buildIvf(): Unit = {
    val (_, cnt) = counters.over(trace.op("ivf-build", "ivf.build")(engine.refreshIvfIndex()))
    counts += (("ivf.build", cnt))
  }

  private def syncTable(t: String, wm: Option[java.sql.Timestamp]): Long = {
    val changeCol = "ts"
    val quiet = wm.exists(mark => trace.span("sources.probe")(source.changeMax(t, changeCol)) match {
      case Some(Some(mx)) => !mx.after(mark)
      case _ => false
    })
    if (quiet) return 0L
    val rel = trace.span("sources.relation")(source.table(spark, t))
    if (!rel.columns.exists(_.equalsIgnoreCase(changeCol))) return 0L
    source.primaryKey(t)
    val agg = trace.span("delta.agg")(Cdc.deltaScan(rel, changeCol, wm)
      .agg(count(lit(1)).as("n"), max(col(changeCol)).as("mx")).collect()(0))
    val n = agg.getLong(0)
    if (n == 0L) return 0L
    val newWm = Cdc.asTimestamp(agg.get(1))
    val s2 = Materialize.loopWidthSession(spark, n)
    val delta = Cdc.boundedDeltaScan(
      if (s2 eq spark) rel else trace.span("sources.relation")(source.table(s2, t)), changeCol, wm, newWm)
    val json = delta.withColumn("_json", JsonRows.toJsonCol(delta))
    val chunks = Chunker.chunkScalable(json, col("_json"), t, w.chunkSize)
    val vectors = chunks.select(col("id"), Embeddings.embedCol(col("text")).as("embedding"),
      col("source"), col("text"))
    val staged = trace.span("chunk_embed.stage")(Cdc.stageUpsert(s2, sinkDir.getPath, vectors, ns))
    engine.commitLock.synchronized {
      staged.foreach { st =>
        val stagedRows = SinkReader.rowCount(new File(st.stageDir))
        val roots0 = SinkReader.manifest(sinkDir).map(_._1).toSet
        trace.span("sink.commit")(Cdc.commitStagedUpsert(s2, sinkDir.getPath, st))
        val written = SinkReader.manifest(sinkDir).filterNot(e => roots0(e._1))
          .map { case (root, ns, b) => SinkReader.rowCount(new File(sinkDir, s"$root/namespace=$ns/bucket=$b")) }.sum
        synchronized { rewrites += ((phase, written - stagedRows, stagedRows)) }
      }
      trace.span("watermark.commit")(store.update(t, newWm))
    }
    n
  }
}

/** The traced run: per-layer spans and Spark counters for the scenario,
  * the query routes decomposed in-process, and the curation queries. */
object Traced {

  val K = 10

  /** The curation list: the three queries that regressed in the last
    * tuning round (q45, q74, q65), the two it sped up (q52, q63), the other
    * dedup and near-duplicate operators (q53, q18), and a relational join
    * no text change should move (q07). */
  val CurationQueries: Seq[String] = Seq("q07_join_revenue", "q18_minhash_lsh", "q45_dedup_clusters",
    "q52_tfidf", "q53_dedup_clusters_star", "q63_ngram_lm_score", "q65_curation_pipeline", "q74_keep_best")

  def run(spark: SparkSession, w: Workload, seed: Long, work: File, outDir: File, out: Outcome,
      fixtures: Option[String]): Unit = {
    val trace = new Trace
    val counters = new SparkCounters(spark)
    val sc = new TracedScenario(spark, w, seed, work, out, trace, counters)
    val countLog = ArrayBuffer.empty[String]
    def logCounts(op: String, s: SparkCounters.Snapshot): Unit =
      countLog += s"""{"kind":"counters","op":${Json.str(op)},"jobs":${s.jobs},"tasks":${s.tasks},""" +
        s""""shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes}}"""

    sc.setup()
    Main.log("set-up done")
    sc.counts.foreach { case (phase, cnt) => logCounts(phase, cnt) }
    val backfillJobs = sc.counts.collect { case ("backfill" | "ivf.build", c) => c.jobs }.sum

    // the steady cycle and the quiet cycles, each once untraced
    // (Engine.runSyncCycle) and once traced (the rebuild), from the same
    // snapshot state and the same seeded delta
    sc.restore()
    val landed = sc.landDelta(3, 0)
    val ((_, untracedMs), cycleCounts) = counters.over(Stats.timed(sc.engine.runSyncCycle()))
    logCounts("steady-untraced", cycleCounts)
    sc.unland(landed)
    sc.phase = "steady"
    val (tracedMs, landed2) = sc.steady(0)
    out.metric("sink.files", SinkReader.liveFiles(sc.sinkDir, sc.ns).size, "count")
    out.metric("sink.live_roots", SinkReader.liveRoots(sc.sinkDir), "count")
    sc.unland(landed2)
    Main.log("steady cycles done")
    sc.restore()
    sc.phase = "quiet"
    val quietUntracedMs = (0 until 3).map(_ => Stats.timed(sc.engine.runSyncCycle())._2)
    val quietMs = (0 until 3).map(_ => sc.quiet())
    Main.log("quiet cycles done")
    // query routes, in-process with spans, then over HTTP
    sc.reference
    val texts = Gen.queries(seed, 6)
    texts.zipWithIndex.foreach { case (q, i) =>
      val route = Client.Routes(i % Client.Routes.size)
      out.record(s"query_${route.name}", sc.rowProblems(route, q, K, inProcess(sc, trace, route, q, s"query-$i")))
    }
    // each query again: what the /query handler runs, in-process (its
    // Spark jobs counted), then the same request over loopback HTTP
    val http = new graft.ServeHttp(sc.engine)
    val port = http.start(0)
    val queryJobs = ArrayBuffer.empty[Long]
    val overhead = try texts.zipWithIndex.map { case (q, i) =>
      val route = Client.Routes(i % Client.Routes.size)
      val ((_, inMs), cnt) = counters.over(Stats.timed(routeJson(sc, route, q)))
      queryJobs += cnt.jobs
      val (res, httpMs) = Stats.timed(Client.query(port, q, K, route))
      out.record(s"http_${route.name}", sc.answerProblems(route, q, K, res))
      httpMs - inMs
    } finally http.stop()
    sc.recallGuards()
    Main.log("queries done")

    // curation queries: cold (first execution in this JVM)
    val curation = fixtures.map(dir => CurationRun(spark, counters, dir, new File(outDir, "curation"), trace))

    // per-layer metrics
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def steadyOp(name: String) = med(trace.perOp("cycle.steady", name))
    out.metric("sources.probe_ms", med(Seq("cycle.steady", "cycle.quiet")
      .flatMap(trace.perOp(_, "sources.list", "sources.probe"))), "ms")
    out.metric("sources.relation_ms", steadyOp("sources.relation"), "ms")
    out.metric("watermark.read_ms", steadyOp("watermark.read"), "ms")
    out.metric("watermark.commit_ms", steadyOp("watermark.commit"), "ms")
    out.metric("delta.agg_ms", steadyOp("delta.agg"), "ms")
    val stageBackfill = trace.perOp("cycle.backfill", "chunk_embed.stage").sum
    out.metric("chunk_embed.stage_ms", stageBackfill, "ms")
    out.metric("chunk_embed.rows_per_s", w.tables * w.rowsPerTable / (stageBackfill / 1000), "rows/s")
    out.metric("sink.commit_ms", steadyOp("sink.commit"), "ms")
    out.metric("sink.commit_backfill_ms", trace.perOp("cycle.backfill", "sink.commit").sum, "ms")
    val rw = sc.rewrites.filter(_._1 == "steady")
    out.metric("sink.rewrite_ratio", rw.map(_._2).sum.toDouble / math.max(1L, rw.map(_._3).sum), "ratio")
    out.metric("ivf.build_ms", med(trace.durations("ivf.build")), "ms")
    out.metric("ivf.refresh_ms", steadyOp("ivf.refresh"), "ms")
    out.metric("ivf.centroid_load_ms", med(trace.durations("ivf.centroid_load")), "ms")
    out.metric("ivf.search_ms", med(trace.durations("ivf.search")), "ms")
    out.metric("ivf.recall_at_10", sc.meanRecall("ivf"), "ratio")
    out.metric("search.embed_ms", med(trace.durations("search.embed")), "ms")
    out.metric("search.resolve_ms", med(trace.durations("search.resolve")), "ms")
    out.metric("search.exact_ms", med(trace.durations("search.exact")), "ms")
    out.metric("search.simb_ms", med(trace.durations("search.simb")), "ms")
    out.metric("search.simb_recall_at_10", sc.meanRecall("simb"), "ratio")
    out.metric("http.overhead_ms", med(overhead.toSeq), "ms")
    out.metric("spark.jobs_backfill", backfillJobs.toDouble, "count")
    out.metric("spark.jobs_per_cycle", cycleCounts.jobs.toDouble, "count")
    out.metric("spark.tasks_per_cycle", cycleCounts.tasks.toDouble, "count")
    out.metric("spark.jobs_per_query", queryJobs.sum.toDouble / queryJobs.size, "count")
    out.metric("trace.untraced_cycle_ms", untracedMs, "ms")
    out.metric("trace.traced_cycle_ms", tracedMs, "ms")
    out.metric("trace.composition_gap_pct", 100 * (tracedMs / untracedMs - 1), "%")
    out.metric("trace.untraced_quiet_cycle_ms", med(quietUntracedMs), "ms")
    out.metric("trace.traced_quiet_cycle_ms", med(quietMs), "ms")
    curation.foreach(_.foreach { case (k, v, u) => out.metric(k, v, u) })

    trace.writeJsonl(new File(outDir, "spans.jsonl"))
    java.nio.file.Files.write(new File(outDir, "counters.jsonl").toPath,
      countLog.mkString("", "\n", "\n").getBytes("UTF-8"))
    val self = trace.selfTimes.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(math.rint(v * 1000) / 1000)}" }
    java.nio.file.Files.writeString(new File(outDir, "layers.json").toPath,
      s"""{"workload":${Json.str(w.name)},"self_ms":${self.mkString("{", ",", "}")}}\n""")
    ()
  }

  /** One route, decomposed into the public calls the served path makes. */
  private def inProcess(sc: Scenario, trace: Trace, route: Client.Route, q: String, op: String): Seq[(String, Double)] =
    trace.op(op, s"query.${route.name}") {
      val spark = sc.spark
      val probe = trace.span("search.embed")(Embeddings.embed(q))
      val json = route match {
        case Client.Ivf =>
          val dir = sc.engine.liveIvfDir().get
          trace.span("ivf.centroid_load")(IvfIndex.centroidEntries(spark, dir))
          trace.span("ivf.search")(IvfIndex.search(spark, dir, probe, K).toJSON.collect())
        case _ =>
          val nsDf = trace.span("search.resolve")(Cdc.readVectorSink(spark, sc.sinkDir.getPath, Some(sc.ns)))
          val probeCol = lit(probe).cast("array<float>")
          if (route == Client.Exact)
            trace.span("search.exact")(SimilaritySearch.topK(nsDf, "id", "embedding", probeCol, K).toJSON.collect())
          else trace.span("search.simb") {
            val simBits = Cdc.readLayout(sc.sinkDir.getPath).simBits
            val buckets = (SimilaritySearch.multiProbeBuckets(probe, simBits, 2).map(_.toInt) :+ -1).distinct
            SimilaritySearch.topK(nsDf.where(col("simb").isin(buckets: _*) || col("simb").isNull),
              "id", "embedding", probeCol, K).toJSON.collect()
          }
      }
      Client.rows(json)
    }

  /** What the `/query` handler runs for a route, without HTTP. */
  private def routeJson(sc: Scenario, route: Client.Route, q: String): Array[String] = route match {
    case Client.Exact => sc.engine.searchSimilar(q, K, nprobe = 0).toJSON.collect()
    case Client.Simb => sc.engine.searchSimilar(q, K, nprobe = 2).toJSON.collect()
    case _ => sc.engine.searchIvf(sc.engine.ivfIndexDir(), q, K).toJSON.collect()
  }
}

/** Runs the curation list once on the fixtures, cold (the first run of
  * each query in this JVM). Each query's result is written as parquet,
  * timed and counted, and that output is what the DuckDB comparison
  * reads: one execution serves both, which a run's time budget needs.
  * Writes the oracle SQL the program declares for each query beside it. */
object CurationRun {
  def apply(spark: SparkSession, counters: SparkCounters, fixtures: String, dir: File,
      trace: Trace): Seq[(String, Double, String)] = {
    dir.mkdirs()
    val metrics = Traced.CurationQueries.flatMap { q =>
      val df = graft.SparkEntry.queries(q)(spark, fixtures)
      val ((_, ms), cnt) = counters.over(Stats.timed(trace.op(q, s"curation.$q")(
        df.write.mode("overwrite").parquet(new File(dir, q).getPath))))
      spark.catalog.clearCache()
      Main.log(f"curation $q ${ms / 1000}%.1f s")
      val short = q.takeWhile(_ != '_')
      Seq((s"curation.${short}_s", ms / 1000, "s"), (s"curation.${short}_jobs", cnt.jobs.toDouble, "count"),
        (s"curation.${short}_shuffle_mb", cnt.shuffleBytes / 1e6, "MB"),
        (s"curation.${short}_spill_mb", cnt.spillBytes / 1e6, "MB"))
    }
    val oracle = Traced.CurationQueries.map(q => s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}")
    java.nio.file.Files.writeString(new File(dir, "oracle_sql.json").toPath, oracle.mkString("{", ",", "}"))
    metrics :+ (("curation.suite_s", metrics.filter(_._1.endsWith("_s")).map(_._2).sum, "s"))
  }
}
