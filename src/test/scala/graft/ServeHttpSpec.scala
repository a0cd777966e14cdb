package graft

import org.scalatest.funsuite.AnyFunSuite

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files
import java.sql.Timestamp

/** End-to-end over the HTTP surface: one synced engine served on an
  * ephemeral port, every route exercised through a real TCP request
  * (reference analog: the Flask app object of `app.py:5-18`, which
  * registers no routes — ServeHttp's four are the engine's live
  * surfaces). */
class ServeHttpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(in.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("health, stats, watermarks, and query respond over TCP; missing param is a 400") {
    val scratch = TestSpark.tempDir("graft_http").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 120).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"payload-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")

    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    engine.runSyncCycle()

    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val base = s"http://127.0.0.1:$port"

      val (hc, health) = get(s"$base/health")
      assert(hc == 200)
      assert(health.contains("\"healthy\":true"))
      assert(health.contains("\"consecutive_failures\":0"))

      val (sc, stats) = get(s"$base/stats")
      assert(sc == 200)
      assert(stats.startsWith("[") && stats.contains("n_vectors"))

      val (wc, wm) = get(s"$base/watermarks")
      assert(wc == 200)
      assert(wm.contains("events"))

      val (qc, hits) = get(s"$base/query?q=payload-42+payload-43&k=2")
      assert(qc == 200)
      assert(hits.contains("events#"))
      assert(hits.contains("\"score\""))
      // k bound respected: exactly 2 row objects
      assert(hits.sliding(7).count(_ == "\"score\"") == 2)

      val (bc, err) = get(s"$base/query?k=2")
      assert(bc == 400)
      assert(err.contains("missing required param: q"))
    } finally api.stop()
  }

  test("/query IVF routing: served_by observable, staleness bounded by auto-refresh, mode pins paths") {
    val scratch = TestSpark.tempDir("graft_http_ivf").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 80).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"alpha-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")

    // autoRefreshIvf = false first: the STALE-index scenario must be
    // detectable from the response, not silent (r12 ADVICE medium)
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink",
      autoRefreshIvf = false)
    engine.initializeIndex()
    engine.runSyncCycle()
    assert(!engine.hasIvfIndex(), "no index yet → default must be the exact scan")

    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val base = s"http://127.0.0.1:$port"
      // no index: auto mode says so; mode=ivf demands one loudly
      val (nc, noIdx) = get(s"$base/query?q=alpha-42&k=2")
      assert(nc == 200 && noIdx.contains("\"served_by\":\"exact\""), noIdx)
      val (mc, mErr) = get(s"$base/query?q=alpha-42&k=2&mode=ivf")
      assert(mc == 400 && mErr.contains("no IVF index"), mErr)

      engine.refreshIvfIndex(k = 4, iters = 2)
      assert(engine.hasIvfIndex(), "refresh must publish a discoverable index")

      // vectors upserted AFTER the build exist only in the sink; with
      // auto-refresh off the IVF route cannot see them — but the caller
      // can TELL, because served_by names the index path
      (81 to 82).map(i => (i.toLong, Timestamp.valueOf(s"2024-01-02 00:00:0${i - 80}"), "zebra unique marker"))
        .toDF("event_id", "ts", "payload")
        .write.mode("append").parquet(s"$src/events.parquet")
      engine.runSyncCycle()

      val (ec, exact) = get(s"$base/query?q=zebra+unique+marker&k=1&mode=exact")
      assert(ec == 200 && exact.contains("\"served_by\":\"exact\""), exact)
      val (dc, viaIvf) = get(s"$base/query?q=zebra+unique+marker&k=80")
      assert(dc == 200 && viaIvf.contains("\"served_by\":\"ivf\""), viaIvf)
      val exactIds = idsOf(exact)
      val ivfIds = idsOf(viaIvf)
      assert(exactIds.nonEmpty && ivfIds.nonEmpty)
      assert(exactIds.forall(id => !ivfIds.contains(id)),
        s"stale IVF cannot see post-build ids (and says so via served_by): $exactIds vs $ivfIds")

      // an atomic refresh bounds the staleness: the same route now serves
      // the post-build vector — this is what runSyncCycle does every
      // cycle under autoRefreshIvf = true (the default)
      engine.refreshIvfIndex()
      val (rc, fresh) = get(s"$base/query?q=zebra+unique+marker&k=80")
      assert(rc == 200 && fresh.contains("\"served_by\":\"ivf\""), fresh)
      assert(exactIds.subsetOf(idsOf(fresh)),
        s"refreshed index must serve the new rows: $exactIds vs ${idsOf(fresh)}")

      // explicit nprobe still pins the sign-bucket sink path
      val (sc2, viaSimb) = get(s"$base/query?q=zebra+unique+marker&k=5&nprobe=2")
      assert(sc2 == 200 && viaSimb.contains("\"served_by\":\"simb\""), viaSimb)
    } finally api.stop()
  }

  test("/ivf/status: no-index answers exists=false; a live index reports the " +
      "staleness clock and the stale-cluster list") {
    val scratch = TestSpark.tempDir("graft_http_ivfstatus").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 60).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"gamma-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink",
      autoRefreshIvf = false)
    engine.initializeIndex()
    engine.runSyncCycle()

    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val base = s"http://127.0.0.1:$port"
      val (nc, none) = get(s"$base/ivf/status")
      assert(nc == 200 && none.contains("\"exists\":false") &&
        none.contains("\"stale_clusters\":[]"), none)

      engine.refreshIvfIndex(k = 4, iters = 2)
      val (hc, healthy) = get(s"$base/ivf/status")
      assert(hc == 200 && healthy.contains("\"exists\":true") &&
        healthy.contains("\"centroids\":4") &&
        healthy.contains("\"appended_fraction\":0.0000") &&
        healthy.contains("\"stale_clusters\":[]") && !healthy.contains("advice"), healthy)

      // concentrated append straight into the LIVE index dir: one cluster
      // absorbs everything → the route must report it stale
      import org.apache.spark.sql.functions.col
      val live = engine.liveIvfDir().get
      val anchor = spark.read.parquet(s"$live/data")
        .limit(1).collect()(0).getSeq[Float](1).toArray
      val rnd = new scala.util.Random(47)
      val conc = (0 until 25).map { i =>
        val v = anchor.clone()
        (0 until v.length).foreach(j => v(j) += (rnd.nextFloat() * 2 - 1) * 0.02f)
        (s"hot#$i", v)
      }.toDF("vec_id", "embedding").withColumn("embedding", col("embedding").cast("array<float>"))
      graft.operators.IvfIndex.append(conc, "vec_id", "embedding", live)

      val (sc, staleBody) = get(s"$base/ivf/status")
      assert(sc == 200 && staleBody.contains("\"exists\":true"), staleBody)
      assert(staleBody.contains("\"cluster\":") && staleBody.contains("\"appended_rows\":"),
        s"the stale report must name clusters: $staleBody")
    } finally api.stop()
  }

  test("auto-refresh cycles append to the live index: ids once, centroids unchanged, " +
      "/ivf/status reports the appended fraction") {
    import graft.operators.{Cdc, IvfIndex}
    val scratch = TestSpark.tempDir("graft_http_ivfappend").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    def land(from: Int, to: Int, day: Int): Unit =
      (from to to).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-$day%02d 00:${i % 60}%02d:00"),
        s"delta-$i")).toDF("event_id", "ts", "payload")
        .write.mode("append").parquet(s"$src/events.parquet")
    land(1, 60, 1)
    // one row per chunk: 60 vectors, so the 5 appended stay under the
    // 0.5 rebuild bar
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink", chunkSize = 1)
    engine.initializeIndex()
    engine.runSyncCycle()
    engine.refreshIvfIndex(k = 4, iters = 2)
    val cents = IvfIndex.centroidEntries(spark, engine.liveIvfDir().get)
      .map { case (id, c) => (id, c.toSeq) }

    land(61, 63, 2)
    engine.runSyncCycle()
    land(64, 65, 3)
    engine.runSyncCycle()

    val live = engine.liveIvfDir().get
    val ids = spark.read.parquet(s"$live/data").select("id").as[String].collect().toSeq
    val sinkIds = Cdc.readVectorSink(spark, s"$scratch/sink", Some(Cdc.DefaultNamespace))
      .select("id").as[String].collect().toSet
    assert(ids.size == ids.toSet.size && ids.toSet == sinkIds,
      s"index ids must be the sink's, each once: ${ids.size} vs ${sinkIds.size}")
    assert(IvfIndex.centroidEntries(spark, live).map { case (id, c) => (id, c.toSeq) } == cents,
      "appending cycles keep the trained centroids")

    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val (code, body) = get(s"http://127.0.0.1:$port/ivf/status")
      assert(code == 200 && body.contains("\"centroids\":4"), body)
      val frac = "\"appended_fraction\":([0-9.]+)".r.findFirstMatchIn(body).map(_.group(1).toDouble)
      assert(frac.exists(_ > 0.0), s"appended rows must show in the staleness clock: $body")
    } finally api.stop()
  }

  test("the HTTP server binds loopback unless another address is asked for") {
    val scratch = TestSpark.tempDir("graft_http_bind").toString
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", s"$scratch/sink")
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      assert(api.address.exists(_.getAddress.isLoopbackAddress), s"bound ${api.address}")
      val (code, _) = get(s"http://127.0.0.1:$port/health")
      assert(code == 200)
    } finally api.stop()
    assert(api.address.isEmpty)
    val any = new java.net.InetSocketAddress(0).getAddress
    val port2 = api.start(0, any)
    try assert(api.address.exists(a => a.getAddress.isAnyLocalAddress && a.getPort == port2))
    finally api.stop()
  }

  test("store-reading routes take no lock: all respond while a commit holds Engine.commitLock") {
    val scratch = TestSpark.tempDir("graft_http_lockfree").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 40).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"pay-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    engine.runSyncCycle()
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val base = s"http://127.0.0.1:$port"
      // hold the writers' lock — exactly what a table's commit section
      // does for its whole duration — and require every read route to
      // complete anyway (pre-r13 they would deadlock-wait here)
      val done = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() => engine.commitLock.synchronized {
        done.await()
      })
      holder.start()
      try {
        for (route <- Seq("/stats", "/watermarks", "/query?q=pay-7&k=2")) {
          val (code, body) = get(s"$base$route")
          assert(code == 200, s"$route blocked or failed under commitLock: $body")
        }
      } finally { done.countDown(); holder.join() }
    } finally api.stop()
  }

  test("/health answers while a slow /query is pinned in flight (r14: no dispatcher serialization)") {
    val scratch = TestSpark.tempDir("graft_http_health").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 40).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"pay-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    engine.runSyncCycle()
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val base = s"http://127.0.0.1:$port"
      // park a /query at its entry hook — the deterministic stand-in for
      // a slow exact scan (pre-r14 setExecutor(null) would queue /health
      // behind it on the single dispatcher thread for its full duration)
      val entered = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      api.onQueryStart = () => { entered.countDown(); release.await() }
      val slow = new java.util.concurrent.atomic.AtomicReference[(Int, String)]()
      val t = new Thread(() => slow.set(get(s"$base/query?q=pay-7&k=2")))
      t.start()
      try {
        assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS),
          "the pinned query never reached its handler")
        api.onQueryStart = () => () // only the pinned request parks
        val t0 = System.nanoTime()
        val (hc, health) = get(s"$base/health")
        val healthSecs = (System.nanoTime() - t0) / 1e9
        assert(hc == 200 && health.contains("\"healthy\""), health)
        assert(healthSecs < 5.0,
          f"/health took $healthSecs%.1fs while a query was pinned — still queueing behind it")
      } finally { release.countDown(); t.join() }
      // the pinned query completes normally once released
      assert(slow.get() != null && slow.get()._1 == 200, s"pinned query failed: ${slow.get()}")
    } finally api.stop()
  }

  test("/query flood degrades with 503 backpressure within the bound; slot holders and /health unaffected (r15)") {
    val scratch = TestSpark.tempDir("graft_http_flood").toString
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 40).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"pay-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    engine.runSyncCycle()
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val base = s"http://127.0.0.1:$port"
      api.queryWaitMs = 400
      // pin all 8 slot holders in flight (deterministic saturation): the
      // excess requests must 503 within ~queryWaitMs instead of parking
      // their threads indefinitely (pre-r15 behavior, VERDICT r14 #2)
      val acquired = new java.util.concurrent.atomic.AtomicInteger()
      val hold = new java.util.concurrent.CountDownLatch(1)
      api.onQuerySlotAcquired = () => { acquired.incrementAndGet(); hold.await() }
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
      val t0 = System.nanoTime()
      val threads = (1 to 12).map { _ =>
        val t = new Thread(() => results.add(get(s"$base/query?q=pay-7&k=1")))
        t.start(); t
      }
      try {
        // the 4 excess requests are answered 503 while the 8 holders park
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (results.size() < 4 && System.nanoTime() < deadline) Thread.sleep(20)
        val rejects = results.toArray(Array.empty[(Int, String)])
        assert(rejects.length == 4, s"expected exactly 4 saturated rejects, got ${rejects.mkString(";")}")
        assert(rejects.forall(_._1 == 503), s"excess must 503: ${rejects.mkString(";")}")
        assert(rejects.forall(_._2.contains("saturated")), rejects.mkString(";"))
        val rejectSecs = (System.nanoTime() - t0) / 1e9
        assert(rejectSecs < 10.0, f"503s took $rejectSecs%.1fs — not a bounded wait")
        assert(acquired.get == 8, s"all 8 slots should be held, saw ${acquired.get}")
        // /health stays green throughout the flood
        val (hc, health) = get(s"$base/health")
        assert(hc == 200 && health.contains("\"healthy\""), health)
      } finally hold.countDown()
      threads.foreach(_.join(60000))
      // the 8 slot holders complete normally once released
      val all = results.toArray(Array.empty[(Int, String)])
      assert(all.count(_._1 == 200) == 8, s"slot holders must succeed: ${all.map(_._1).mkString(",")}")
    } finally {
      api.onQuerySlotAcquired = () => ()
      api.stop()
    }
  }

  test("/query rejects k < 1 with a 400") {
    val scratch = TestSpark.tempDir("graft_http_k").toString
    val src = s"$scratch/src"
    land(src, 1 to 20, 1, i => s"pay-$i")
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    engine.runSyncCycle()
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      for (k <- Seq(0, -1); route <- Seq("mode=exact", "nprobe=2", "mode=auto")) {
        val (code, body) = get(s"http://127.0.0.1:$port/query?q=pay-7&k=$k&$route")
        assert(code == 400 && body.contains("k must be at least 1"), s"k=$k $route: $code $body")
      }
    } finally api.stop()
  }

  test("/query sees each sink commit and each IVF pointer flip on the next request") {
    val scratch = TestSpark.tempDir("graft_http_visible").toString
    val (src, sink) = (s"$scratch/src", s"$scratch/sink")
    val engine = ivfEngine(scratch, 40, autoRefreshIvf = false)
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val ids = routeIds(port) _
      val before = sinkIds(sink)
      Seq("mode=exact", "nprobe=16", "mode=ivf").foreach(r => assert(ids(r) == before, r))
      val v1 = engine.liveIvfDir().get

      land(src, 41 to 50, 2, i => s"zebra-$i")
      engine.runSyncCycle()
      val after = sinkIds(sink)
      assert(after.size == before.size + 10)
      Seq("mode=exact", "nprobe=16").foreach(r => assert(ids(r) == after, s"$r missed the commit"))
      assert(ids("mode=ivf") == before, "the IVF route serves its own pointer, not the sink's")

      engine.refreshIvfIndex()
      assert(engine.liveIvfDir().exists(_ != v1), "the refresh must flip current")
      assert(ids("mode=ivf") == after, "mode=ivf missed the flip of current")
      assert(ids("mode=auto") == after)
    } finally api.stop()
  }

  test("/query answers stay correct when the sink is deleted and copied back under the " +
      "same pointer names, then committed to again") {
    val scratch = TestSpark.tempDir("graft_http_restore").toString
    val (src, state, sink, snap) = (s"$scratch/src", s"$scratch/state", s"$scratch/sink", s"$scratch/snap")
    val engine = ivfEngine(scratch, 40)
    Seq(src, state, sink).foreach(d => copyTree(d, d.replace(scratch, snap)))
    def restore(): Unit = Seq(src, state, sink).foreach { d =>
      graft.operators.Cdc.deleteRecursively(new java.io.File(d))
      copyTree(d.replace(scratch, snap), d)
    }
    val routes = Seq("mode=exact", "nprobe=16", "mode=ivf")
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      val ids = routeIds(port) _
      val base = sinkIds(sink)
      routes.foreach(r => assert(ids(r) == base, r))
      land(src, 41 to 50, 2, i => s"zebra-$i")
      engine.runSyncCycle() // commit and IVF auto-refresh
      val afterA = sinkIds(sink)
      routes.foreach(r => assert(ids(r) == afterA, r))
      val (manifestA, ivfA) = (pointer(s"$sink/vectors_manifest.current"), engine.liveIvfDir())

      // a different delta committed onto the restored copy, with no query
      // in between: the manifest and the IVF version reuse the names the
      // held snapshots have, and only their stat tells them apart
      restore()
      land(src, 41 to 46, 3, i => s"yak-$i")
      engine.runSyncCycle()
      assert(pointer(s"$sink/vectors_manifest.current") == manifestA && engine.liveIvfDir() == ivfA,
        "the fixture must reuse the pointer names")
      val afterB = sinkIds(sink)
      assert(afterB.size == base.size + 6 && (afterA -- base).intersect(afterB).isEmpty)
      routes.foreach(r => assert(ids(r) == afterB, s"$r served a snapshot of the same name"))

      restore()
      routes.foreach(r => assert(ids(r) == base, s"$r after the restore"))
    } finally api.stop()
  }

  test("a query resolved before a commit answers from its snapshot after it") {
    val scratch = TestSpark.tempDir("graft_http_inflight").toString
    val (src, sink) = (s"$scratch/src", s"$scratch/sink")
    val engine = ivfEngine(scratch, 40)
    def idSet(df: org.apache.spark.sql.DataFrame) = df.select("id").as[String].collect().toSet
    val before = sinkIds(sink)
    // resolved (snapshot taken, plan built), not yet run: what a /query
    // handler holds between its resolve and its collect
    val exact = engine.searchSimilar("alpha", k = 500)
    val simb = engine.searchSimilar("alpha", k = 500, nprobe = 16)
    val ivf = engine.searchIvf(engine.ivfIndexDir(), "alpha", k = 500)
    land(src, 41 to 50, 2, i => s"zebra-$i")
    engine.runSyncCycle() // sink commit and IVF flip in between
    Seq(exact, simb, ivf).foreach(df => assert(idSet(df) == before))
    val after = sinkIds(sink)
    assert(after.size == before.size + 10)
    assert(idSet(engine.searchSimilar("alpha", k = 500)) == after)
    assert(idSet(engine.searchIvf(engine.ivfIndexDir(), "alpha", k = 500)) == after)
  }

  test("after one warm-up per route, exact, nprobe=2 and IVF /query requests each run one " +
      "Spark job over a root spanning more than 32 bucket directories") {
    import graft.operators.Cdc
    val scratch = TestSpark.tempDir("graft_http_jobs").toString
    val sink = s"$scratch/sink"
    val engine = ivfEngine(scratch, 150, clusters = 4)
    val entries = Cdc.readManifest(sink).filter(_.namespace == Cdc.DefaultNamespace)
    assert(entries.size > 32 && entries.map(_.root).distinct.size == 1,
      s"the fixture must put one root over 32 bucket directories: ${entries.size}")
    val api = new ServeHttp(engine)
    val port = api.start(0)
    try {
      def jobs(route: String): Int = {
        val r = QueryProfile(spark)(get(s"http://127.0.0.1:$port/query?q=alpha-7&k=10&$route"))
        assert(r.result._1 == 200, r.result._2)
        r.jobs.size
      }
      // the first request lists the root, above Spark's 32-path threshold
      // a Spark job of its own
      assert(jobs("mode=exact") >= 2)
      val routes = Seq("mode=exact", "nprobe=2", "mode=ivf", "mode=auto")
      routes.foreach(jobs)
      routes.foreach(r => assert(jobs(r) == 1, s"$r ran more than one Spark job"))
    } finally api.stop()
  }

  /** An engine over `rows` events under `scratch`, one vector per row,
    * synced once, with a `clusters`-cluster IVF index. With 2 clusters
    * the default nprobe 2 makes the IVF route an exact scan of the live
    * version, so every route answers all ids when k exceeds them. */
  private def ivfEngine(scratch: String, rows: Int, clusters: Int = 2,
      autoRefreshIvf: Boolean = true): Engine = {
    land(s"$scratch/src", 1 to rows, 1, i => s"alpha-$i")
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", s"$scratch/sink",
      chunkSize = 1, autoRefreshIvf = autoRefreshIvf)
    engine.initializeIndex()
    engine.runSyncCycle()
    engine.refreshIvfIndex(k = clusters, iters = 2)
    engine
  }

  private def land(src: String, rows: Range, day: Int, text: Int => String): Unit =
    rows.map(i => (i.toLong, Timestamp.valueOf(f"2024-01-$day%02d 00:${i % 60}%02d:00"), text(i)))
      .toDF("event_id", "ts", "payload")
      .write.mode("append").parquet(s"$src/events.parquet")

  private def sinkIds(sink: String): Set[String] =
    graft.operators.Cdc.readVectorSink(spark, sink, Some(graft.operators.Cdc.DefaultNamespace))
      .select("id").as[String].collect().toSet

  private def routeIds(port: Int)(route: String): Set[String] = {
    val (code, body) = get(s"http://127.0.0.1:$port/query?q=alpha&k=500&$route")
    assert(code == 200, s"$route: $body")
    idsOf(body)
  }

  private def pointer(path: String): String = Files.readString(java.nio.file.Paths.get(path)).trim

  /** Copy a tree keeping file times, as a backup restore would. */
  private def copyTree(from: String, to: String): Unit = {
    val base = java.nio.file.Paths.get(from)
    Files.walk(base).forEach { p =>
      val target = java.nio.file.Paths.get(to).resolve(base.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      ()
    }
  }

  private def idsOf(json: String): Set[String] =
    "\"id\":\"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSet
}
