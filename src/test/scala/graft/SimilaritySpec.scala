package graft

import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Similarity-search operators: brute force is ground truth; LSH and IVF
  * must find the planted nearest neighbor. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  // 50 deterministic pseudo-random vectors + a planted near-dup of vec 7
  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val planted = base(7)._2.clone(); planted(0) += 0.01f
    (base :+ (99L, planted)).toDF("vec_id", "embedding")
  }

  test("brute-force topK: self first, planted near-dup found for probe 7") {
    val probe = vecs.where(col("vec_id") === 7).collect()(0).getSeq[Float](1).toArray
    val top = SimilaritySearch.topK(vecs, "vec_id", "embedding", lit(probe).cast("array<float>"), 3)
      .collect().map(_.getLong(0))
    assert(top(0) == 7L)
    assert(top(1) == 99L)
  }

  test("IVF ANN finds the planted neighbor with nprobe covering its cluster") {
    val centroids = SimilaritySearch.ivfTrain(vecs, "vec_id", "embedding", k = 4, iters = 2)
    assert(centroids.length == 4)
    val probe = vecs.where(col("vec_id") === 7).collect()(0).getSeq[Float](1).toArray
    val top = SimilaritySearch.ivfTopK(vecs, "vec_id", "embedding", centroids, probe, k = 3, nprobe = 1)
      .collect().map(_.getLong(0))
    // probe 7 and its near-dup share a cluster by construction (cosine ~1)
    assert(top.contains(7L) && top.contains(99L))
  }

  test("distributed ivfTrain equals a driver-side Lloyd reference (same seed/assignment/mean)") {
    // Reference implementation of the same deterministic Lloyd iteration,
    // entirely on the driver: first-k-by-id seeding, cosine assignment with
    // ties to the lowest index, double-precision mean. The distributed
    // posexplode + avg path must reproduce it (it replaced a
    // collect-the-whole-index formulation; this guards the rewrite).
    val data = vecs.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); sa += a(i).toDouble * a(i); sb += b(i).toDouble * b(i); i += 1
      }
      val d = math.sqrt(sa) * math.sqrt(sb)
      if (d == 0.0) 0.0 else dot / d
    }
    val k = 4; val iters = 2
    var ref = data.take(k).map(_._2)
    for (_ <- 0 until iters) {
      val assigned = data.map { case (_, v) =>
        val best = ref.zipWithIndex.map { case (c, i) => (cos(v, c), i) }
          .maxBy { case (s, i) => (s, -i) }._2
        (best, v)
      }
      ref = ref.indices.map { cid =>
        val members = assigned.filter(_._1 == cid).map(_._2)
        if (members.isEmpty) ref(cid)
        else {
          val dim = members.head.length
          Array.tabulate(dim)(d => (members.map(_(d).toDouble).sum / members.size).toFloat)
        }
      }.toArray
    }
    val dist = SimilaritySearch.ivfTrain(vecs, "vec_id", "embedding", k = k, iters = iters)
    assert(dist.length == ref.length)
    dist.zip(ref).foreach { case (dc, rc) =>
      dc.zip(rc).foreach { case (a, b) => assert(math.abs(a - b) < 1e-5f, s"$a vs $b") }
    }
  }

  test("multiProbeBuckets: distinct, clamped, base-first, full space at nprobe=2^bits") {
    val probe = Array(0.9f, -0.05f, 0.4f, -0.7f)
    val base = SimilaritySearch.multiProbeBuckets(probe, 4, 1)
    assert(base == Seq(5L)) // bits 0 and 2 positive
    val two = SimilaritySearch.multiProbeBuckets(probe, 4, 2)
    assert(two.head == 5L && two(1) == (5L ^ 2L)) // cheapest flip = lowest |mag| dim (i=1)
    val all = SimilaritySearch.multiProbeBuckets(probe, 4, 16)
    assert(all.size == 16 && all.distinct.size == 16) // full 2^bits space, no dups
    // nprobe beyond the space clamps instead of under-delivering silently
    assert(SimilaritySearch.multiProbeBuckets(probe, 4, 99) == all)
    // costs nondecreasing: re-derive each bucket's flip cost from its xor mask
    def flipCost(b: Long) = (0 until 4).filter(i => ((b ^ 5L) & (1L << i)) != 0)
      .map(i => math.abs(probe(i).toDouble)).sum
    val costs = all.map(flipCost)
    assert(costs == costs.sorted, s"perturbation order not by cost: $costs")
    // a probe shorter than bits routes to the -1 (short/null) bucket
    assert(SimilaritySearch.multiProbeBuckets(Array(1f, 2f), 4, 3) == Seq(-1L))
  }

  test("ANN recall@10 vs exact top-k, measured across the nprobe curve (bits=4)") {
    // The fixture's vectors are (near-)random — mutually near-orthogonal,
    // the WORST case for sign-bucket LSH (bucket membership is then weakly
    // correlated with cosine rank). Real embedding corpora are strongly
    // clustered and reach recall 1.0 at nprobe=2 (see the engine test
    // below); this test pins the worst-case curve so the bits/nprobe trade
    // is measured, not assumed: recall must rise monotonically with nprobe
    // and hit exactly 1.0 at nprobe = 2^bits (a full scan by construction).
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probes = (0L until 5L).map { pid =>
      pid -> e.where(col("vec_id") === pid).collect()(0).getSeq[Float](1).toArray
    }
    def recallAt10(nprobe: Int): Double = {
      val per = probes.map { case (pid, p) =>
        val rest = e.where(col("vec_id") =!= pid)
        val exact = SimilaritySearch.topK(rest, "vec_id", "embedding",
          lit(p).cast("array<float>"), 10).collect().map(_.getLong(0)).toSet
        val ann = SimilaritySearch.topKByBuckets(rest, "vec_id", "embedding", p, 10,
          bits = 4, nprobe = nprobe).collect().map(_.getLong(0)).toSet
        (exact intersect ann).size / 10.0
      }
      per.sum / per.size
    }
    val curve = Seq(1, 2, 4, 8, 16).map(np => np -> recallAt10(np))
    info("worst-case recall@10 bits=4: " +
      curve.map { case (np, r) => f"nprobe=$np → $r%.2f" }.mkString(", "))
    curve.sliding(2).foreach { case Seq((_, lo), (_, hi)) =>
      assert(lo <= hi + 1e-9, s"recall fell as nprobe rose: $curve")
    }
    assert(curve.last._2 == 1.0, s"nprobe=2^bits must be exact: $curve")
    assert(curve(3)._2 >= 0.8, s"nprobe=8 (half the space) must clear 0.8 even on random vectors: $curve")
  }

  test("Engine.searchSimilar ANN recall vs its own exact (nprobe=0) scan") {
    import graft.operators.Cdc
    import graft.functions.Embeddings
    val scratch = TestSpark.tempDir("graft_recall").toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    val batch = (1 to 60).map(i => (s"d#$i", Embeddings.embed(s"alpha beta doc number $i"), "t", s"text $i"))
      .toDF("id", "embedding", "source", "text")
    Cdc.upsertVectors(spark, sink, batch)
    val engine = new Engine(spark, s"$scratch/src", s"$scratch/state", sink)
    val queries = Seq("alpha beta doc number 7", "alpha beta doc number 23", "doc number alpha 40")
    val recalls = queries.map { q =>
      val exact = engine.searchSimilar(q, k = 10).collect().map(_.getAs[String]("id")).toSet
      val ann = engine.searchSimilar(q, k = 10, nprobe = 2).collect().map(_.getAs[String]("id")).toSet
      (exact intersect ann).size / 10.0
    }
    info(f"engine recall@10 (SimBits=4, nprobe=2): ${recalls.mkString(", ")}")
    assert(recalls.sum / recalls.size >= 0.8)
  }

  test("persisted IVF index: pruned search hits partition filters; nprobe=k is exact") {
    import graft.operators.IvfIndex
    val dir = TestSpark.tempDir("graft_ivf").toString
    IvfIndex.build(vecs, "vec_id", "embedding", dir, k = 4, iters = 2)
    val probe = vecs.where(col("vec_id") === 7).collect()(0).getSeq[Float](1).toArray

    val pruned = IvfIndex.search(spark, dir, probe, k = 3, nprobe = 1)
    val ids = pruned.collect().map(_.getLong(0))
    assert(ids(0) == 7L && ids.contains(99L), s"planted near-dup missed: ${ids.mkString(",")}")
    // the cluster restriction must prune at the scan (directory pruning),
    // not filter rows after reading everything
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.matches("(?s).*PartitionFilters: \\[[^\\]]*cluster.*"),
      s"cluster must be a partition filter:\n$planStr")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val totalFiles = walk(new java.io.File(s"$dir/data")).count(_.getName.endsWith(".parquet"))
    val scanned = pruned.queryExecution.executedPlan.collectWithSubqueries {
      case s0: org.apache.spark.sql.execution.FileSourceScanExec => s0.metrics("numFiles").value
    }.sum
    assert(scanned > 0 && scanned < totalFiles,
      s"pruned search should read a strict file subset ($scanned of $totalFiles)")

    // nprobe = k scans every cluster → identical to brute force
    val exact = SimilaritySearch.topK(vecs, "vec_id", "embedding",
      lit(probe).cast("array<float>"), 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = IvfIndex.search(spark, dir, probe, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, "nprobe=k must equal the exact scan")
  }

  test("IvfIndex.append: incremental maintenance touches only routed clusters, search stays exact") {
    import graft.operators.IvfIndex
    val dir = TestSpark.tempDir("graft_ivf_app").toString
    IvfIndex.build(vecs, "vec_id", "embedding", dir, k = 4, iters = 2)

    def filesByCluster: Map[String, Set[String]] = {
      val data = new java.io.File(s"$dir/data")
      Option(data.listFiles()).toSeq.flatten.filter(_.getName.startsWith("cluster=")).map { d =>
        d.getName -> Option(d.listFiles()).toSeq.flatten
          .map(_.getName).filter(_.endsWith(".parquet")).toSet
      }.toMap
    }
    val before = filesByCluster

    // new batch: a tight near-dup of vec 3 plus one fresh random vector
    val rnd = new scala.util.Random(11)
    val nearOf3 = vecs.where(col("vec_id") === 3).collect()(0).getSeq[Float](1).toArray.clone()
    nearOf3(1) += 0.01f
    val batch = Seq((200L, nearOf3), (201L, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    IvfIndex.append(batch, "vec_id", "embedding", dir)

    // untouched cluster dirs kept their exact file sets (no rewrite);
    // at most 2 clusters gained files (the two routed vectors)
    val after = filesByCluster
    val changed = after.filter { case (c, fs) => before.getOrElse(c, Set.empty) != fs }
    assert(changed.nonEmpty && changed.size <= 2, s"appended clusters: ${changed.keys}")
    changed.foreach { case (c, fs) =>
      assert(before.getOrElse(c, Set.empty).subsetOf(fs), s"$c lost pre-append files")
    }

    // nprobe=k after append == brute force over base ∪ batch (still exact)
    val all = vecs.unionByName(batch)
    val probe = nearOf3
    val exact = SimilaritySearch.topK(all, "vec_id", "embedding",
      lit(probe).cast("array<float>"), 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val appended = IvfIndex.search(spark, dir, probe, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(appended == exact, s"append broke exactness: $appended vs $exact")
    assert(appended.head._1 == 200L, "the appended vector itself must rank first")
  }

  /** An engine over a sink holding docs `d#<i>` for `ids`, upserted
    * directly (no source): each upsert lands in a new generation root. */
  private def docEngine(tag: String, ids: Range) = {
    import graft.operators.Cdc
    val scratch = TestSpark.tempDir(tag).toString
    val sink = s"$scratch/sink"
    Cdc.initVectorSink(spark, sink)
    upsertDocs(sink, ids)
    (new Engine(spark, s"$scratch/src", s"$scratch/state", sink), sink)
  }
  private def upsertDocs(sink: String, ids: Seq[Int]): Unit = {
    import graft.functions.Embeddings
    graft.operators.Cdc.upsertVectors(spark, sink, ids.map(i =>
      (s"d#$i", Embeddings.embed(s"alpha beta doc number $i"), "t", s"text $i"))
      .toDF("id", "embedding", "source", "text"))
  }
  private def indexIds(dir: String): Seq[String] =
    spark.read.parquet(s"$dir/data").select("id").as[String].collect().toSeq
  private def sinkIds(sink: String): Set[String] =
    graft.operators.Cdc.readVectorSink(spark, sink, Some(graft.operators.Cdc.DefaultNamespace))
      .select("id").as[String].collect().toSet

  test("Engine.refreshIvfIndex appends new roots' vectors to a linked copy of the live " +
      "version: ids once, centroids unchanged, re-emitted ids add nothing, the " +
      "previous version answers as before") {
    import graft.functions.Embeddings
    import graft.operators.IvfIndex
    val (engine, sink) = docEngine("graft_ivf_refresh", 1 to 40)
    engine.refreshIvfIndex(k = 4, iters = 2)
    val v1 = engine.liveIvfDir().get
    val cents1 = IvfIndex.centroidEntries(spark, v1).map { case (id, c) => (id, c.toSeq) }
    val probe = Embeddings.embed("alpha beta doc number 17")
    def answer(dir: String) = IvfIndex.search(spark, dir, probe, 10, nprobe = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val before = answer(v1)
    def sidecars(dir: String) = Seq("_base_counts", "_appended_counts")
      .map(f => java.nio.file.Paths.get(dir, "centroids", f))
    val v1Sidecars = sidecars(v1).map(p => java.nio.file.Files.readAllBytes(p).toSeq)

    upsertDocs(sink, 41 to 46)
    engine.refreshIvfIndex()
    val v2 = engine.liveIvfDir().get
    assert(v2 != v1)
    // the append wrote v2's sidecars; v1's are byte-identical, and copies
    // (not links), so no write into v2 can reach them
    assert(sidecars(v1).map(p => java.nio.file.Files.readAllBytes(p).toSeq) == v1Sidecars,
      "an append into the next version changed the previous version's counts")
    sidecars(v1).zip(sidecars(v2)).foreach { case (a, b) =>
      assert(!java.nio.file.Files.isSameFile(a, b), s"$b is linked to the previous version")
    }
    assert(IvfIndex.sidecarClusterRows(v2) == IvfIndex.recountClusterRows(v2))
    val ids2 = indexIds(v2)
    assert(ids2.size == ids2.toSet.size && ids2.toSet == sinkIds(sink), "each sink id once")
    assert(IvfIndex.centroidEntries(spark, v2).map { case (id, c) => (id, c.toSeq) } == cents1,
      "an append keeps the centroid matrix")
    assert(math.abs(IvfIndex.appendedFraction(v2) - 6.0 / 40) < 1e-9)
    // the base files are shared with the previous version, not rewritten
    val v1Part = new java.io.File(v1, "data").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).find(_.getName.endsWith(".parquet")).get
    val v2Part = new java.io.File(v2, s"data/${v1Part.getParentFile.getName}/${v1Part.getName}")
    assert(java.nio.file.Files.isSameFile(v1Part.toPath, v2Part.toPath), "data files are linked")
    // one-behind retention: the previous version answers exactly as before
    assert(answer(v1) == before)

    // a commit that re-emits indexed ids (its root rewrites their buckets)
    // must add none of them again; only the one new id lands
    upsertDocs(sink, (1 to 10) :+ 47)
    engine.refreshIvfIndex()
    val ids3 = indexIds(engine.liveIvfDir().get)
    assert(ids3.size == 47 && ids3.toSet == sinkIds(sink), s"re-emitted ids duplicated: ${ids3.size}")
  }

  test("Engine.refreshIvfIndex: an unflipped half-built version is ignored by readers and " +
      "GC'd; crossing the 0.5 appended fraction retrains in full") {
    import graft.functions.Embeddings
    import graft.operators.IvfIndex
    val (engine, sink) = docEngine("graft_ivf_refresh_crash", 1 to 20)
    engine.refreshIvfIndex(k = 4, iters = 2)
    val v1 = new java.io.File(engine.liveIvfDir().get)
    def sidecarEqualsRecount(v: String): Unit =
      assert(IvfIndex.sidecarClusterRows(v) == IvfIndex.recountClusterRows(v),
        s"$v: sidecar diverged from footer truth")
    sidecarEqualsRecount(v1.getPath) // build

    // a refresh that crashed before its flip: a complete next version
    // holding an id the sink never had
    val v2 = new java.io.File(v1.getParentFile, "v000002")
    Engine.linkTree(new java.io.File(v1, "data"), new java.io.File(v2, "data"))
    Engine.linkTree(new java.io.File(v1, "centroids"), new java.io.File(v2, "centroids"))
    val junk = Embeddings.embed("zebra junk marker")
    IvfIndex.append(Seq(("junk#1", junk)).toDF("id", "embedding"), "id", "embedding", v2.getPath)
    assert(engine.liveIvfDir().contains(v1.getPath))
    val seen = engine.searchIvf(engine.ivfIndexDir(), "zebra junk marker", k = 30, nprobe = 4)
      .collect().map(_.getString(0))
    assert(!seen.contains("junk#1"), "readers must not see an unflipped version")
    assert(indexIds(v1.getPath).size == 20, "the live version is untouched")

    upsertDocs(sink, 21 to 23)
    engine.refreshIvfIndex()
    val v3 = engine.liveIvfDir().get
    assert(new java.io.File(v3).getName == "v000003")
    assert(!v2.exists(), "the next refresh GCs the half-built version")
    assert(indexIds(v3).sorted == sinkIds(sink).toSeq.sorted)
    assert(math.abs(IvfIndex.appendedFraction(v3) - 3.0 / 20) < 1e-9)
    sidecarEqualsRecount(v3) // append

    // 3 + 8 appended rows would reach 0.55 of the 20-row base: full retrain
    upsertDocs(sink, 24 to 31)
    engine.refreshIvfIndex()
    val v4 = engine.liveIvfDir().get
    assert(IvfIndex.appendedFraction(v4) == 0.0, "a full rebuild resets the appended fraction")
    sidecarEqualsRecount(v4) // full retrain
    assert(indexIds(v4).sorted == sinkIds(sink).toSeq.sorted)
    assert(IvfIndex.centroidEntries(spark, v4).size == 4, "the rebuild keeps the live k")
    assert(new java.io.File(v3).exists() && !v1.exists(), "one-behind retention")
  }

  test("IVF staleness bound (r16/r18): appended fraction is tracked incrementally " +
      "from sidecar counts, the rebuild trigger fires at the measured threshold, " +
      "rebuild resets it") {
    import graft.operators.IvfIndex
    val dir = TestSpark.tempDir("graft_ivf_stale").toString
    IvfIndex.build(vecs, "vec_id", "embedding", dir, k = 4, iters = 2)
    assert(IvfIndex.appendedFraction(dir) == 0.0)

    val baseN = vecs.count()
    val rnd = new scala.util.Random(23)
    def batchOf(n: Int, idBase: Long) =
      (0 until n).map(i => (idBase + i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")

    // below the threshold the refresh would keep appending
    val f1 = IvfIndex.append(batchOf((baseN / 4).toInt, 300L), "vec_id", "embedding", dir)
    assert(math.abs(f1 - 0.25) < 0.05, s"fraction after 1/4 append: $f1")
    assert(IvfIndex.appendedFraction(dir) < IvfIndex.DefaultRebuildFraction)
    // crossing DefaultRebuildFraction: append returns the fraction the
    // refresh retrains at — the recall ladder behind the threshold is
    // BASELINE.md r16 (nprobe=1 recall 0.97 -> ~0.81 under shifted mass);
    // the next test measures the drop
    val f2 = IvfIndex.append(batchOf((baseN / 2).toInt, 600L), "vec_id", "embedding", dir)
    assert(f2 >= IvfIndex.DefaultRebuildFraction, s"fraction after 3/4 appended: $f2")
    assert(IvfIndex.appendedFraction(dir) == f2)

    // rebuild over the full current corpus resets the staleness clock
    val dir2 = TestSpark.tempDir("graft_ivf_stale2").toString
    IvfIndex.build(spark.read.parquet(s"$dir/data")
      .select(col("id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", dir2, k = 4, iters = 2)
    assert(IvfIndex.appendedFraction(dir2) == 0.0)

    // an index without the count sidecars (built before they existed) is
    // refused by every bookkeeping reader, naming the upgrade step
    new java.io.File(s"$dir/centroids/_base_counts").delete()
    new java.io.File(s"$dir/centroids/_appended_counts").delete()
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("initializeIndex"), e.getMessage)
    }
    refused(IvfIndex.appendedFraction(dir))
    refused(IvfIndex.staleClusters(dir))
    refused(IvfIndex.append(batchOf(3, 2000L), "vec_id", "embedding", dir))
    assert(!new java.io.File(s"$dir/append_stage").exists(), "refused before any write")
  }

  test("IVF recall under shifted appends: the stale index reads below a " +
      "rebuild over the same corpus, and the rebuild holds the recall floor") {
    import graft.operators.IvfIndex
    // Deterministic corpus (id-seeded PRNG): a base around k centers, then
    // 1x the base appended around 3k centers the trained centroids never
    // saw. Probes mix both regions — the load a drifted corpus serves.
    val (nBase, dim, k) = (1000, 16, 8)
    def center(seed: Long): Array[Float] = {
      val r = new java.util.Random(seed)
      Array.fill(dim)(r.nextFloat() * 2f - 1f)
    }
    val baseCenters = Array.tabulate(k)(i => center(1000L + i))
    val shiftCenters = Array.tabulate(3 * k)(i => center(9000L + i))
    def vec(centers: Array[Array[Float]], id: Long, noise: Float): Array[Float] = {
      val c = centers((id % centers.length).toInt)
      val r = new java.util.Random(id * 2654435761L + 17L)
      Array.tabulate(dim)(j => c(j) + (r.nextFloat() * 2f - 1f) * noise)
    }
    def corpus(ids: Range, centers: Array[Array[Float]], noise: Float) =
      ids.map(id => (id.toLong, vec(centers, id.toLong, noise))).toDF("vec_id", "embedding")
    val stale = TestSpark.tempDir("graft_ivf_recall").toString + "/idx"
    IvfIndex.build(corpus(0 until nBase, baseCenters, 0.15f), "vec_id", "embedding", stale,
      k = k, iters = 3)
    IvfIndex.append(corpus(nBase until 2 * nBase, shiftCenters, 0.45f),
      "vec_id", "embedding", stale)
    val rebuilt = s"$stale-rebuilt"
    val all = spark.read.parquet(s"$stale/data")
    IvfIndex.build(all.select(col("id").as("vec_id"), col("embedding")),
      "vec_id", "embedding", rebuilt, k = k, iters = 3)

    val probes = (0 until 10).map(i => vec(baseCenters, 777000L + i, 0.15f)) ++
      (0 until 10).map(i => vec(shiftCenters, 888000L + i, 0.45f))
    val brute = probes.map { p =>
      all.select(col("id"), round(graft.functions.VectorOps.cosineFast(
          col("embedding"), lit(p).cast("array<float>")), 6).as("score"))
        .orderBy(desc("score"), col("id")).limit(10)
        .collect().map(_.getLong(0)).toSet
    }
    def recallAt10(idxDir: String): Double =
      probes.zip(brute).map { case (p, truth) =>
        val got = IvfIndex.search(spark, idxDir, p, k = 10, nprobe = 1)
          .collect().map(_.getLong(0)).toSet
        (got intersect truth).size / 10.0
      }.sum / probes.size
    // recorded at this scale (CHANGES.md): stale 0.870, rebuilt 0.950
    val (r0, r1) = (recallAt10(stale), recallAt10(rebuilt))
    assert(r0 < r1, s"stale recall $r0 must read below the rebuild's $r1")
    assert(r1 >= 0.90, s"rebuild recall@10 at nprobe=1: $r1")
  }

  test("IVF incremental bookkeeping (r18): sidecar counts equal the footer " +
      "recount after concentrated appends and a rebuild over the same directory, " +
      "metadata commits as ONE directory with the matrix") {
    import graft.operators.IvfIndex
    val dir = TestSpark.tempDir("graft_ivf_sidecar").toString
    IvfIndex.build(vecs, "vec_id", "embedding", dir, k = 4, iters = 2)

    def sidecarEqualsRecount(tag: String): Unit = {
      val recount = IvfIndex.recountClusterRows(dir)
      assert(IvfIndex.sidecarClusterRows(dir) == recount,
        s"$tag: sidecar diverged from footer truth")
    }
    sidecarEqualsRecount("post-build")
    // the whole metadata snapshot lives inside the centroid dir — one
    // atomic swap commits matrix + counts together (ADVICE r17); no
    // separate root-level commit files exist to disagree with it
    assert(new java.io.File(s"$dir/centroids/_base_counts").exists())
    assert(new java.io.File(s"$dir/centroids/_appended_counts").exists())
    assert(!new java.io.File(s"$dir/base_count").exists())
    assert(!new java.io.File(s"$dir/base_counts").exists())

    val rnd = new scala.util.Random(31)
    val anchor = vecs.where(col("vec_id") === 7).collect()(0).getSeq[Float](1).toArray
    def near(idBase: Long, n: Int, noise: Float) = (0 until n).map { i =>
      val v = anchor.clone()
      (0 until v.length).foreach(j => v(j) += (rnd.nextFloat() * 2 - 1) * noise)
      (idBase + i, v)
    }.toDF("vec_id", "embedding")

    // 17 rows near one base vector: ONE cluster absorbs them all — past
    // its per-cluster stale bar while the GLOBAL fraction stays ~0.33
    val batch1 = near(1000L, 17, 0.05f)
    val frac1 = IvfIndex.append(batch1, "vec_id", "embedding", dir)
    sidecarEqualsRecount("post-append-1")
    assert(frac1 < IvfIndex.DefaultRebuildFraction, s"global must stay below the bar: $frac1")
    val stale = IvfIndex.staleClusters(dir)
    assert(stale.nonEmpty, "the absorbed cluster must be reported stale")
    val batch2 = near(1100L, 60, 0.05f)
    IvfIndex.append(batch2, "vec_id", "embedding", dir)
    sidecarEqualsRecount("post-append-2")

    // a full retrain over the same directory: the data is overwritten and
    // the centroid directory swapped; the appended clock resets
    val corpus = vecs.unionByName(batch1).unionByName(batch2)
    IvfIndex.build(corpus, "vec_id", "embedding", dir, k = 4, iters = 2)
    sidecarEqualsRecount("post-rebuild")
    assert(IvfIndex.appendedFraction(dir) == 0.0, "rebuild must reset the clock")
    assert(IvfIndex.staleClusters(dir).isEmpty)
    assert(!new java.io.File(s"$dir/centroids_old").exists() &&
      !new java.io.File(s"$dir/centroids_stage").exists(), "the swap leaves no halves behind")
    // no rows lost or duplicated through the whole sequence
    val data = spark.read.parquet(s"$dir/data")
    val expected = vecs.count() + 17 + 60
    assert(data.count() == expected && data.select("id").distinct().count() == expected)
  }

  test("centroid read: one Spark job, entries in cluster-id order after a repair " +
      "mints non-contiguous ids, whatever order the file holds them in") {
    import graft.operators.IvfIndex
    val dir = TestSpark.tempDir("graft_ivf_centroids").toString
    IvfIndex.build(vecs, "vec_id", "embedding", dir, k = 4, iters = 2)
    val built = IvfIndex.centroidEntries(spark, dir)
    assert(built.map(_._1) == built.indices)

    // renumber the index the way an older build's in-place repair left it:
    // cluster i becomes 3i+5 in the data directories, both count sidecars
    // and the matrix, whose rows are written in DESCENDING id order (one
    // file, so a collect without the driver-side sort returns that order)
    def renumbered(i: Int) = 3 * i + 5
    val stored = built.map { case (i, c) => (renumbered(i), c) }
    val ids = stored.map(_._1)
    built.map(_._1).map(i => (i, java.nio.file.Paths.get(dir, "data", s"cluster=$i")))
      .filter(d => java.nio.file.Files.isDirectory(d._2)).foreach { case (i, d) =>
        java.nio.file.Files.move(d, d.resolveSibling(s"cluster=${renumbered(i)}"))
      }
    val cdir = new java.io.File(s"$dir/centroids")
    val baseCounts = java.nio.file.Paths.get(cdir.getPath, "_base_counts")
    java.nio.file.Files.writeString(baseCounts,
      java.nio.file.Files.readAllLines(baseCounts).toArray(Array.empty[String]).filter(_.nonEmpty)
        .map { l => val Array(i, n) = l.split(' '); s"${renumbered(i.toInt)} $n" }.mkString("\n"))
    val desc = s"$dir/centroids_desc"
    stored.reverse.toDF("cluster", "centroid")
      .coalesce(1).write.parquet(desc)
    cdir.listFiles().filter(_.getName.startsWith("part-")).foreach(_.delete())
    new java.io.File(desc).listFiles().filter(_.getName.startsWith("part-")).foreach(f =>
      java.nio.file.Files.move(f.toPath, new java.io.File(cdir, f.getName).toPath))
    assert(spark.read.parquet(s"$dir/centroids").collect().map(_.getInt(0)).toSeq == ids.reverse)
    assert(IvfIndex.sidecarClusterRows(dir) == IvfIndex.recountClusterRows(dir))

    val profiled = QueryProfile(spark)(IvfIndex.centroidEntries(spark, dir))
    val read = profiled.result
    assert(profiled.jobs.size == 1, s"a centroid read must run one Spark job, ran ${profiled.jobs.size}")
    assert(read.map(_._1) == ids.sorted && ids == ids.sorted, s"ids out of order: ${read.map(_._1)}")
    assert(read.map(_._2.toSeq) == stored.map(_._2.toSeq))

    // an append routes through the NON-CONTIGUOUS ids: the stored id, not
    // the matrix position, names the directory it lands in. The vector is
    // an EXACT clone of a base vector, so append's nearestCentroid and
    // search's rankClusters agree on its cluster by construction
    val anchor = vecs.where(col("vec_id") === 7).collect()(0).getSeq[Float](1).toArray
    IvfIndex.append(Seq((900L, anchor.clone())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(IvfIndex.recountClusterRows(dir).keySet.subsetOf(ids.toSet), "an append minted a cluster id")
    assert(IvfIndex.sidecarClusterRows(dir) == IvfIndex.recountClusterRows(dir))
    val found = IvfIndex.search(spark, dir, anchor, k = 3, nprobe = 1).collect().map(_.getLong(0))
    assert(found.contains(900L), s"the append must land in the probed cluster: ${found.mkString(",")}")
    // and nprobe = k stays an exact scan of base ∪ appended
    val all = vecs.unionByName(Seq((900L, anchor.clone())).toDF("vec_id", "embedding"))
    val exact = SimilaritySearch.topK(all, "vec_id", "embedding",
      lit(anchor).cast("array<float>"), 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = IvfIndex.search(spark, dir, anchor, k = 10, nprobe = ids.size)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact, s"non-contiguous ids broke exactness: $got vs $exact")
  }

  test("ivfTopK scans only nprobe clusters (candidate restriction is real)") {
    val centroids = SimilaritySearch.ivfTrain(vecs, "vec_id", "embedding", k = 4, iters = 2)
    val probe = vecs.where(col("vec_id") === 0).collect()(0).getSeq[Float](1).toArray
    val n1 = SimilaritySearch.ivfTopK(vecs, "vec_id", "embedding", centroids, probe, k = 51, nprobe = 1).count()
    val n4 = SimilaritySearch.ivfTopK(vecs, "vec_id", "embedding", centroids, probe, k = 51, nprobe = 4).count()
    assert(n1 < n4)
    assert(n4 == 51)
  }
}
