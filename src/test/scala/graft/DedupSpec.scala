package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"),       // near dup of 1
    (4L, "completely unrelated text about database engines and query optimization plans"),
    (5L, "")).toDF("doc_id", "text")

  test("exactByText keeps min id per distinct text and counts dups") {
    val out = Dedup.exactByText(corpus, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_count")).toMap
    assert(out(1L) == 2)          // ids 1,2 collapse to 1
    assert(!out.contains(2L))
    assert(out(3L) == 1)
    assert(out.size == 4)          // 1,3,4,5
  }

  test("minhash LSH finds the exact-dup pair and the near-dup pair") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", shingleN = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical → all bands collide, jaccard 1
    // (1,3) share most shingles; bands may or may not collide but jaccard
    // is high — assert no FALSE positives against doc 4 at least:
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("simhash pairs: identical docs at hamming 0; unrelated docs not paired") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("hamming")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 4L)))
  }

  test("ngram jaccard pairs with unigram shingles finds dups above threshold") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", shingleN = 1, threshold = 0.9, lengthBucket = 16)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("incremental near-dup pairs only across sides, never within a side") {
    // corpus holds the near-dup pair (1,3) — it must NOT be emitted; the
    // batch doc 12 (re-keyed copy of 1's text) must pair with corpus 1
    // (and its near-dup 3), with the corpus id always on the left
    val corpusSide = corpus.where(col("doc_id") =!= 2)
    val batchSide = Seq(
      (12L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (13L, "entirely fresh material about streaming watermark semantics and state stores"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshPairsAgainst(corpusSide, batchSide, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    assert(out.contains((1L, 12L)), s"batch copy must match its corpus original: $out")
    assert(!out.exists { case (a, b) => Set(1L, 3L, 4L, 5L).contains(b) },
      "batch_id column must only hold batch docs (no corpus self-pairs)")
    assert(!out.exists { case (a, b) => a == 13L || b == 13L },
      "unrelated batch doc must match nothing")
  }

  test("exact window pairs: docs sharing an exact token window, with shared-window count") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "zulu yankee alpha bravo charlie delta india juliet"),    // shares window (alpha..delta)
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val out = Dedup.exactWindowPairs(docs, "doc_id", "text", windowTokens = 4)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Long]("n_shared"))).toMap
    assert(out.keySet == Set((1L, 2L)), s"only the window-sharing pair may appear: $out")
    assert(out((1L, 2L)) == 1L, "exactly one distinct 4-token window is shared")
  }

  test("star-contraction CC equals iterative min-label CC on adversarial graph shapes") {
    // chain (worst case for plain propagation), clique (the giant-component
    // shape), seeded random edges, and singletons — both algorithms must
    // produce the identical (id, canonical, is_canonical) fixpoint
    val n = 120L
    val rnd = new scala.util.Random(13)
    val chain = (10L until 40L).map(i => (i, i + 1)) // one long path
    val clique = for (a <- 50L until 70L; b <- (a + 1) until 70L) yield (a, b)
    val random = (0 until 60).map(_ => (rnd.nextInt(40).toLong + 75L, rnd.nextInt(40).toLong + 75L))
      .filter { case (a, b) => a != b }
    val ids = spark.range(n).toDF("doc_id")
    val pairs = (chain ++ clique ++ random).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("canonical"), r.getAs[Boolean]("is_canonical")))
      .toMap
    val iter = asMap(Dedup.dedupClusters(ids, "doc_id", pairs, maxIter = 60))
    val star = asMap(Dedup.dedupClustersStar(ids, "doc_id", pairs))
    assert(star == iter)
    // spot invariants: chain collapses to its min; singletons self-label
    assert(star(39L)._1 == 10L)
    assert(star(0L) == ((0L, true)))
  }

  test("CC full-width branch (eager round caches, short-circuit star convergence) is value-identical") {
    // Tiny fixtures always narrow the loops (rows/12500+1 = 1 < session
    // width), so the at-scale branch — eager roundCache, the star loop's
    // two-phase short-circuit convergence — would otherwise only ever
    // execute on ladder fixtures. A session clone with ONE shuffle
    // partition makes the computed width (1) >= the session width (1),
    // which is exactly the full-width condition, without any env hooks.
    val s1 = spark.newSession()
    s1.conf.set("spark.sql.shuffle.partitions", "1")
    import org.apache.spark.sql.functions.col
    val ids = s1.range(30).toDF("doc_id")
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), // chain
      (20L, 21L), (21L, 22L), (20L, 22L), // triangle
      (3L, 25L), (3L, 26L)) // two-parent bridge shape
    val pairs = s1.createDataFrame(edges).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical")).toMap
    val expected = (0L until 30L).map { i =>
      i -> (i match {
        case x if x >= 10 && x <= 13 => 10L
        case x if x >= 20 && x <= 22 => 20L
        case 3 | 25 | 26 => 3L
        case x => x
      })
    }.toMap
    assert(asMap(Dedup.dedupClusters(ids, "doc_id", pairs, maxIter = 60)) == expected)
    assert(asMap(Dedup.dedupClustersStar(ids, "doc_id", pairs)) == expected)
  }

  test("star-contraction two-parent bridge: a child with two parents must not end the loop") {
    // After one contraction round this graph reaches an edge set where no
    // node is both child and parent, yet node 3 holds parents 1 AND 2 —
    // the bridge between two half-contracted stars of ONE component. A
    // convergence test checking only chains declares victory here and
    // splits the component in two; the function condition (one parent per
    // child) forces the extra merging round.
    import spark.implicits._
    val ids = spark.range(21).toDF("doc_id")
    val pairs = Seq((3L, 10L), (3L, 20L), (1L, 5L), (5L, 10L), (2L, 7L), (7L, 20L))
      .toDF("id_a", "id_b")
    val star = Dedup.dedupClustersStar(ids, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical")).toMap
    Seq(1L, 2L, 3L, 5L, 7L, 10L, 20L).foreach { id =>
      assert(star(id) == 1L, s"node $id labeled ${star(id)}: one component split apart")
    }
  }

  test("degenerate-bucket guard: 10k-doc boilerplate flood is bounded AND keeps partial recall") {
    // Adversarial input: 10⁴ byte-identical docs. Every band bucket then
    // holds all 10⁴ docs — unguarded that is ~5·10⁷ candidate pairs per
    // bucket refined inside ONE join task (and ~5·10¹¹ at crawl-scale
    // m=10⁶, the engine's only quadratic path). The guard SUB-SPLITS
    // buckets over maxBucket by a secondary hash, so candidate volume is
    // bounded at bands × m × maxBucket / 2 (linear in m) while
    // within-sub-bucket pairs — exactly the flood dedup exists to catch —
    // are still found.
    val m = 10000L
    val maxBucket = 512
    val docs = spark.range(m).selectExpr(
      "id as doc_id",
      "'common boilerplate page header identical across every crawled document footer marker' as text")
    val t0 = System.nanoTime()
    val minhashPairs = Dedup.minhashLshPairs(docs, "doc_id", "text", maxBucket = maxBucket).count()
    val ngramPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxBucket = maxBucket).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, f"guard failed to bound the flood: $secs%.1f s")
    val allPairs = m * (m - 1) / 2
    // candidate bound: bands × nsplit × subSize²/2 = bands × m × maxBucket/2
    val minhashBound = 4L * m * maxBucket / 2
    assert(minhashPairs > 0L, "flood pairs must be partially recovered, not dropped wholesale")
    assert(minhashPairs <= minhashBound && minhashPairs < allPairs,
      s"flood candidates must stay bounded: $minhashPairs vs bound $minhashBound (all pairs $allPairs)")
    assert(ngramPairs > 0L && ngramPairs <= m * maxBucket / 2,
      s"single-block ngram flood must be bounded and nonzero: $ngramPairs")
  }

  test("degenerate-bucket guard sub-splits only oversized buckets; normal pairs keep exact results") {
    // 300 identical flood docs (band buckets of 300 > cap 100) mixed with
    // the small near-dup corpus (buckets of ≤ 5): the genuine dup pair is
    // still found exactly, and the flood now contributes a BOUNDED subset
    // of its pairs (within-sub-bucket) instead of losing all of them.
    val floodN = 300L
    val flood = spark.range(100L, 100L + floodN).selectExpr(
      "id as doc_id",
      "'flooded template body repeated verbatim across the entire mirror site capture' as text")
    val mixed = corpus.unionByName(flood)
    val pairs = Dedup.minhashLshPairs(mixed, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5, maxBucket = 100)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), "pair from a normal-size bucket must survive the guard")
    val floodPairs = pairs.count { case (a, b) => a >= 100L && b >= 100L }
    val allFloodPairs = floodN * (floodN - 1) / 2
    assert(floodPairs > 0, "sub-split buckets must recover some flood pairs")
    assert(floodPairs < allFloodPairs,
      s"flood pair coverage must stay partial (bounded work): $floodPairs of $allFloodPairs")
    assert(!pairs.exists { case (a, b) => (a < 100L) != (b < 100L) },
      "no cross pair between the flood template and the unrelated corpus")
  }

  test("degenerate-bucket guard bounds the simhash and embedding generators too") {
    val floodDocs = spark.range(2000).selectExpr(
      "id as doc_id", "'identical simhash flood text body for every single row' as text")
    val allPairs = 2000L * 1999 / 2
    val simPairs = Dedup.simhashPairs(floodDocs, "doc_id", "text", maxHamming = 3, maxBucket = 500).count()
    assert(simPairs > 0L && simPairs < allPairs,
      s"simhash flood must yield partial (bounded) recall: $simPairs of $allPairs")
    import spark.implicits._
    val floodVecs = spark.range(2000)
      .selectExpr("id as vec_id")
      .withColumn("embedding", typedLit(Array(0.5f, -0.5f, 0.3f, 0.2f, -0.1f, 0.9f, 0.4f, -0.2f)))
    val embPairs = Dedup.embeddingNearDupPairs(floodVecs, "vec_id", "embedding",
      threshold = 0.95, bits = 8, maxBucket = 500).count()
    // single-key blocker: exactly the within-sub-bucket pairs, nsplit = 4
    assert(embPairs > 0L && embPairs <= 2000L * 500 / 2,
      s"embedding flood must yield bounded nonzero within-sub-bucket pairs: $embPairs")
    // cluster blocking degenerates identically under a one-vector flood
    // (every copy assigns to the same centroid) — same guard, same bound
    val centroid = Array(Array(0.5f, -0.5f, 0.3f, 0.2f, -0.1f, 0.9f, 0.4f, -0.2f))
    val cluPairs = Dedup.clusterNearDupPairs(floodVecs, "vec_id", "embedding",
      centroid, threshold = 0.95, maxBucket = 500).count()
    assert(cluPairs > 0L && cluPairs <= 2000L * 500 / 2,
      s"cluster flood must yield bounded nonzero within-sub-bucket pairs: $cluPairs")
  }

  test("simhash byte-blocking pair recall is exact (measured vs brute-force ground truth)") {
    // Pigeonhole claim, MEASURED: any pair within hamming ≤ 3 over 4 bytes
    // shares a byte, so the byte-equality join must find exactly the
    // brute-force pair set — recall 1.0 and precision 1.0, not "by
    // construction" but against enumerated ground truth on a seeded corpus
    // of identical, one-token-off, and unrelated docs.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
    def sentence(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (0 until 60).foreach { _ =>
      val base = sentence(30)
      docs += ((id, base.mkString(" "))); id += 1
      docs += ((id, base.mkString(" "))); id += 1 // identical copy → hamming 0
      val perturbed = base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))
      docs += ((id, perturbed.mkString(" "))); id += 1 // near copy → small hamming
    }
    val df = docs.toSeq.toDF("doc_id", "text")
    import graft.plans.ArrayExprs
    import graft.functions.{PortableHash, TextOps}
    val sims = df.select(col("doc_id"),
      ArrayExprs.simhash32Fast(transform(TextOps.tokens(col("text")), t => PortableHash.hash32(t))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val idsSorted = sims.keys.toSeq.sorted
    val truth = (for {
      ai <- idsSorted.indices; bi <- (ai + 1) until idsSorted.size
      a = idsSorted(ai); b = idsSorted(bi)
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 3
    } yield (a, b)).toSet
    assert(truth.size >= 60, s"seeded corpus must produce ground-truth pairs, got ${truth.size}")
    val found = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(found == truth,
      s"byte-blocking must be pigeonhole-exact: missed ${(truth -- found).size}, spurious ${(found -- truth).size}")
  }

  test("embedding sign-bucket blocking: measured pair recall, and fewer bits buys more recall") {
    // The sign-bucket block CAN miss a near-dup pair that straddles one of
    // the leading hyperplanes — this measures how often, instead of
    // claiming "near-identical vectors share all leading signs". Seeded
    // corpus: 120 random unit vectors, each with one perturbed copy whose
    // cosine straddles the 0.95 threshold; ground truth is the brute-force
    // O(n²) pair set over the exact refine predicate.
    val rnd = new scala.util.Random(11)
    val dim = 16
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat; v.map(_ / n)
    }
    def randVec() = unit(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    var id = 0L
    (0 until 120).foreach { _ =>
      val base = randVec()
      vecs += ((id, base)); id += 1
      // noise vector norm ≈ √dim = 4, so cosine ≈ (1+16ε²)^-½: ε in
      // [0.02, 0.10] spreads copies across cosine ≈ 0.999 … 0.93 —
      // straddling the 0.95 threshold from both sides
      val eps = 0.02f + rnd.nextFloat() * 0.08f
      val near = unit(base.zip(Array.fill(dim)(rnd.nextGaussian().toFloat))
        .map { case (x, n) => x + eps * n })
      vecs += ((id, near)); id += 1
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); i += 1 }
      dot // unit vectors
    }
    val arr = vecs.toIndexedSeq
    val truth = (for {
      i <- arr.indices; j <- (i + 1) until arr.size
      if math.rint(cos(arr(i)._2, arr(j)._2) * 1e6) / 1e6 >= 0.95
    } yield (arr(i)._1, arr(j)._1)).toSet
    assert(truth.size >= 30, s"seeded corpus must produce ground-truth pairs, got ${truth.size}")
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    def recallAt(bits: Int): Double = {
      val found = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", threshold = 0.95, bits = bits)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert((found -- truth).isEmpty, s"refine must be exact at bits=$bits: ${(found -- truth).size} spurious")
      found.intersect(truth).size.toDouble / truth.size
    }
    val r4 = recallAt(4); val r8 = recallAt(8)
    info(f"pair recall: bits=4 → $r4%.3f, bits=8 → $r8%.3f (truth ${truth.size} pairs)")
    // fewer hyperplanes → coarser buckets → strictly-nested candidate sets
    assert(r4 >= r8, f"recall must not increase with bits: r4=$r4%.3f r8=$r8%.3f")
    // measured floors on the seeded corpus (deterministic): document the
    // trade — bits=8 halves candidate volume vs bits=4 at this recall cost
    assert(r8 >= 0.55, f"bits=8 recall regressed: $r8%.3f")
    assert(r4 >= 0.70, f"bits=4 recall regressed: $r4%.3f")

    // multi-probe recall recovery at fixed bits=8: each vector also probes
    // its nprobe-1 cheapest-flip neighbor buckets on BOTH join sides.
    // Candidate volume (bucket-join pairs BEFORE the cosine refine) is
    // measured alongside so the recall gain is priced, and must stay far
    // below the quadratic all-pairs count.
    import graft.functions.VectorOps
    def candidatesAt(bits: Int, nprobe: Int): Long = {
      val wb = df.select(col("vec_id").as("vid"),
        explode(VectorOps.probeBuckets(col("embedding"), bits, nprobe)).as("bucket"))
      wb.as("a").join(wb.as("b"), Seq("bucket"))
        .where(col("a.vid") < col("b.vid"))
        .select(col("a.vid"), col("b.vid")).distinct().count()
    }
    def recallAtProbe(nprobe: Int): Double = {
      val found = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.95, bits = 8, nprobe = nprobe)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert((found -- truth).isEmpty, s"refine must stay exact at nprobe=$nprobe")
      found.intersect(truth).size.toDouble / truth.size
    }
    val n = arr.size.toLong
    val allPairs = n * (n - 1) / 2
    val (c1, c2, c4) = (candidatesAt(8, 1), candidatesAt(8, 2), candidatesAt(8, 4))
    val (p1, p2, p4) = (recallAtProbe(1), recallAtProbe(2), recallAtProbe(4))
    info(f"multi-probe bits=8: nprobe=1 recall $p1%.3f ($c1 cand), nprobe=2 $p2%.3f ($c2 cand), nprobe=4 $p4%.3f ($c4 cand); all-pairs $allPairs")
    assert(p1 == r8, "nprobe=1 must reproduce the single-bucket pair set")
    assert(p2 >= p1 && p4 >= p2, f"recall must be monotone in nprobe: $p1%.3f, $p2%.3f, $p4%.3f")
    assert(p2 >= 0.90, f"documented recall floor at nprobe=2 regressed: $p2%.3f")
    assert(p4 >= 0.95, f"documented recall floor at nprobe=4 regressed: $p4%.3f")
    assert(c4 < allPairs / 2,
      s"multi-probe candidates must stay sub-quadratic: $c4 vs all-pairs $allPairs")
  }

  test("cluster-blocked near-dup (SemDeDup): exact precision, measured recall, monotone in nprobe") {
    // Same seeded straddling corpus as the sign-bucket test, but blocked by
    // nearest-centroid assignment over ivfTrain centroids — the
    // data-adaptive key space. Exact duplicates MUST always be found
    // (identical vectors assign identically); boundary pairs are the
    // measured miss class, recovered by nprobe.
    import graft.operators.SimilaritySearch
    val rnd = new scala.util.Random(13)
    val dim = 16
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat; v.map(_ / n)
    }
    val vecs = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    var id = 0L
    (0 until 120).foreach { i =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian().toFloat))
      vecs += ((id, base)); id += 1
      if (i % 3 == 0) { vecs += ((id, base.clone())); id += 1 } // exact dup
      else {
        val eps = 0.02f + rnd.nextFloat() * 0.08f
        vecs += ((id, unit(base.zip(Array.fill(dim)(rnd.nextGaussian().toFloat))
          .map { case (x, n) => x + eps * n }))); id += 1
      }
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); i += 1 }
      dot // unit vectors
    }
    val arr = vecs.toIndexedSeq
    val truth = (for {
      i <- arr.indices; j <- (i + 1) until arr.size
      if math.rint(cos(arr(i)._2, arr(j)._2) * 1e6) / 1e6 >= 0.95
    } yield (arr(i)._1, arr(j)._1)).toSet
    val exactDupPairs = (for {
      i <- arr.indices; j <- (i + 1) until arr.size
      if arr(i)._2.sameElements(arr(j)._2)
    } yield (arr(i)._1, arr(j)._1)).toSet
    assert(truth.size >= 30 && exactDupPairs.size >= 30)
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val centroids = SimilaritySearch.ivfTrain(df, "vec_id", "embedding", k = 12, iters = 2)
    def found(nprobe: Int): Set[(Long, Long)] = {
      val f = Dedup.clusterNearDupPairs(df, "vec_id", "embedding", centroids,
        threshold = 0.95, nprobe = nprobe)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert((f -- truth).isEmpty, s"refine must be exact at nprobe=$nprobe: ${(f -- truth).size} spurious")
      f
    }
    val (f1, f2) = (found(1), found(2))
    val (p1, p2) = (f1.intersect(truth).size.toDouble / truth.size,
      f2.intersect(truth).size.toDouble / truth.size)
    info(f"cluster-blocked recall: nprobe=1 $p1%.3f, nprobe=2 $p2%.3f (truth ${truth.size} pairs, k=12)")
    assert((exactDupPairs -- f1).isEmpty, "exact duplicates must always share a cluster")
    assert(p2 >= p1, f"recall must be monotone in nprobe: $p1%.3f -> $p2%.3f")
    assert(p1 >= 0.90, f"nprobe=1 recall floor regressed: $p1%.3f")
    assert(p2 >= 0.95, f"nprobe=2 recall floor regressed: $p2%.3f")
  }

  test("incremental cluster near-dup pairs only across sides; batch copy finds its original") {
    import graft.operators.SimilaritySearch
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat; v.map(_ / n)
    }
    val corpusVecs = (0L until 60L).map(i => (i, unit(Array.fill(12)(rnd.nextGaussian().toFloat))))
    val corpus = corpusVecs.toDF("vec_id", "embedding")
    // batch: exact copies of corpus ids 0..9 (re-keyed) + 5 fresh vectors
    val batch = (corpusVecs.take(10).map { case (i, v) => (i + 1000L, v) } ++
      (2000L until 2005L).map(i => (i, unit(Array.fill(12)(rnd.nextGaussian().toFloat)))))
      .toDF("vec_id", "embedding")
    val centroids = SimilaritySearch.ivfTrain(corpus, "vec_id", "embedding", k = 6, iters = 1)
    val out = Dedup.clusterNearDupPairsAgainst(corpus, batch, "vec_id", "embedding",
      centroids, threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    (0L until 10L).foreach { i =>
      assert(out.contains((i, i + 1000L)), s"batch copy of $i must rediscover its original: $out")
    }
    assert(out.forall { case (c, b) => c < 1000L && b >= 1000L },
      s"pairs must always be corpus-side x batch-side: $out")
  }

  test("embedding near-dup via sign buckets finds identical vectors") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.5f, 0.3f, 0.2f, -0.1f, 0.9f, 0.4f, -0.2f)),
      (2L, Array(0.5f, -0.5f, 0.3f, 0.2f, -0.1f, 0.9f, 0.4f, -0.2f)),
      (3L, Array(-0.5f, 0.5f, -0.3f, -0.2f, 0.1f, -0.9f, -0.4f, 0.2f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.95, bits = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L))) // 3 is opposite → different bucket AND cosine -1
  }

  // r19 guard hardening (VERDICT r18 #4/#5): the oversized-list collect is
  // capped; past the cap the re-keying join consumes the DISTRIBUTED
  // aggregate (pre-r18 shape) instead of a driver-side Row array — and the
  // two paths must be row-identical.
  test("oversized-list flood fallback (collect cap) is row-identical to the driver path") {
    // 3 buckets: key 7 with 250 members (> maxBucket 100), key 8 with 30,
    // key 9 with 130 (> 100) — exercises both oversized and normal keys
    val blocked = spark.range(0, 250).selectExpr("id as doc_id", "CAST(7 AS LONG) as bkey")
      .unionByName(spark.range(300, 330).selectExpr("id as doc_id", "CAST(8 AS LONG) as bkey"))
      .unionByName(spark.range(400, 530).selectExpr("id as doc_id", "CAST(9 AS LONG) as bkey"))
    def rows(capOversized: Int) = Dedup.subSplitOversizedBuckets(
      blocked, "bkey", "doc_id", maxBucket = 100, tag = "spec",
      blockedRowsBound = None, capOversized = capOversized)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDriver = rows(Dedup.MaxCollectedOversized)
    val viaDistributed = rows(0) // cap 0 → every oversized list "floods"
    assert(viaDriver == viaDistributed,
      "flood fallback must re-key identically to the driver-collected path")
    assert(viaDriver.map(_._2).size > 3, "oversized buckets must actually sub-split")
  }

  test("pre-counted bound skip returns the same rows as the full guard") {
    // bound ≤ maxBucket: no bucket can be oversized, so the guard's count
    // job is skipped outright — rows must equal the unskipped guard's
    val blocked = spark.range(0, 80).selectExpr("id as doc_id", "(id % 5) as bkey")
    def rows(bound: Option[Long]) = Dedup.subSplitOversizedBuckets(
      blocked, "bkey", "doc_id", maxBucket = 100, tag = "spec", blockedRowsBound = bound)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(Some(80L)) == rows(None),
      "bound-based skip must be row-identical to the counted guard")
  }

  test("flood fallback re-keys through an unhinted join; the driver path keeps its broadcast") {
    // a flood's oversized-key list may be far too large for a driver-built
    // relation: past the collect cap the join must carry no broadcast hint,
    // so the planner can choose a shuffle join
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val blocked = spark.range(0, 250).selectExpr("id as doc_id", "CAST(7 AS LONG) as bkey")
      .unionByName(spark.range(300, 330).selectExpr("id as doc_id", "CAST(8 AS LONG) as bkey"))
    def hints(capOversized: Int) = Dedup.subSplitOversizedBuckets(
      blocked, "bkey", "doc_id", maxBucket = 100, tag = "spec",
      blockedRowsBound = None, capOversized = capOversized)
      .queryExecution.optimizedPlan.collect { case j: Join =>
        Seq(j.hint.leftHint, j.hint.rightHint).flatten.flatMap(_.strategy).map(_.toString)
      }.flatten
    assert(hints(0).isEmpty, s"flood fallback must not hint a broadcast: ${hints(0)}")
    assert(hints(Dedup.MaxCollectedOversized).exists(_.toUpperCase.contains("BROADCAST")),
      "the driver-collected list is small by construction and stays broadcast")
  }

  /** dedupClusters on a 64-node path with a pass budget, plus the
    * unconverged warning it printed. */
  private def pathClusters(maxIter: Int): (Map[Long, Long], Option[String]) = {
    val ids = spark.range(64).toDF("doc_id")
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val labels =
      try Dedup.dedupClusters(ids, "doc_id", pairs, maxIter = maxIter)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally System.setErr(saved)
    (labels, buf.toString("UTF-8").linesIterator.find(_.contains("exited unconverged")))
  }

  test("unconverged CC warning reports the passes actually run") {
    // a 64-node path cannot converge in one pass; maxIter = 1 runs exactly
    // that pass (the fused two-pass round would overrun the budget), and
    // the warning says so
    val (_, warn) = pathClusters(maxIter = 1)
    assert(warn.exists(_.contains("after 1 passes")), s"warning: $warn")
  }

  test("an odd maxIter runs exactly maxIter passes: 3 passes equal three single " +
      "hook+jump passes") {
    // plain-Scala reference of one pass: hook each node to the least label
    // among itself and its neighbours, then jump label := label(label)
    val nbrs = (0L until 64L).map(u => u -> Seq(u - 1, u + 1).filter(v => v >= 0 && v < 64)).toMap
    def pass(l: Map[Long, Long]): Map[Long, Long] = {
      val hooked = l.map { case (u, x) => u -> (nbrs(u).map(l) :+ x).min }
      hooked.map { case (u, x) => u -> math.min(x, hooked(x)) }
    }
    val three = Iterator.iterate((0L until 64L).map(u => u -> u).toMap)(pass).drop(3).next()
    assert(three.values.toSet.size > 1, "the fixture must still be unconverged after 3 passes")
    val (labels, warn) = pathClusters(maxIter = 3)
    assert(warn.exists(_.contains("after 3 passes")), s"warning: $warn")
    assert(labels == three, s"labels after maxIter = 3: $labels, three passes: $three")
  }
}
