package graft

import graft.operators.Cdc
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Physical-plan audits (the 100 TB checklist): predicate pushdown reaches
  * the parquet scan, projections prune the read schema, dimension joins
  * broadcast. These assert on the optimized/executed plans, not on
  * results — regressions here are silent performance cliffs. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private lazy val dir = {
    val d = TestSpark.tempDir("graft_audit").toString
    (1 to 1000).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"), s"p$i", i * 1.5))
      .toDF("event_id", "ts", "payload", "value")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("CDC delta filter is pushed to the parquet scan (µs-timestamp source)") {
    val src = spark.read.parquet(s"$dir/events.parquet")
    val delta = Cdc.deltaScan(src, "ts", Some(Timestamp.valueOf("2024-01-15 00:00:00")))
    val scan = delta.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(ts"), s"no pushdown in:\n$scan")
  }

  test("projection prunes the parquet read schema to referenced columns") {
    val narrow = spark.read.parquet(s"$dir/events.parquet").select("event_id", "value")
    val scan = narrow.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<event_id:bigint,value:double>"), s"unpruned scan:\n$scan")
  }

  test("dimension join broadcasts (no shuffle of the small side)") {
    val fact = (1 to 5000).map(i => (i.toLong, (i % 25).toLong)).toDF("id", "nk")
    val dim = (0 until 25).map(i => (i.toLong, s"n$i")).toDF("nk", "name")
    val joined = fact.join(broadcast(dim), Seq("nk"))
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("knnJoin probes broadcast; index side never shuffles by bucket") {
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(8)(((i * 31 + 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.SimilaritySearch.knnJoin(
      vecs, vecs.where(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", k = 2, bits = 4)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe side should broadcast:\n$plan")
  }

  test("saltedJoin joins on (key, salt): the hot key's rows spread over salt partitions") {
    val fact = (1 to 5000).map(i => (if (i % 2 == 0) 0L else (i % 100).toLong, i * 1.0)).toDF("k", "v")
    val dim = (0 until 100).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val out = graft.operators.Skew.saltedJoin(fact, dim, "k", salts = 8)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the join keys must include the salt — that IS the spread: key 0's
    // rows hash to 8 distinct (k, _salt) combinations instead of one
    assert(plan.contains("_salt"), s"salted join lost its salt key:\n$plan")
    // every fact row matches exactly one replicated dim row — multiplicity
    // is preserved through the salt
    assert(out.count() == 5000, "salted join must preserve fact-row multiplicity")
  }

  test("incremental near-dup joins corpus-side against batch-side exactly once (no self-join)") {
    import graft.operators.Dedup
    val corpus = (1 to 200).map(i => (i.toLong, s"alpha bravo charlie delta text body $i here"))
      .toDF("doc_id", "text")
    val batch = (1000 to 1010).map(i => (i.toLong, s"alpha bravo charlie delta text body ${i - 999} here"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshPairsAgainst(corpus, batch, "doc_id", "text")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // exactly ONE INNER (candidate) join in the plan: corpus x batch. A
    // self-join formulation (pairs over the union, filtered after) would
    // add a second inner join path and pay within-corpus candidates. The
    // guard's broadcast LeftOuter joins (one per side) are expected.
    val innerJoins = plan.linesIterator
      .filter(l => "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findFirstIn(l).isDefined)
      .count(_.contains("Inner"))
    assert(innerJoins == 1, s"expected exactly one inner candidate join, found $innerJoins:\n$plan")
  }

  test("token-mix rates join broadcasts (per-source rates are a tiny dimension)") {
    val out = SparkEntry.queries("q70_token_mix")(spark, "/root/testdata/sf0.001")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rates join must broadcast:\n$plan")
  }

  test("df-prune drop list joins as a BROADCAST anti-join (corpus side never shuffles on token)") {
    val out = SparkEntry.queries("q75_df_prune")(spark, "/root/testdata/sf0.001")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the >N/2-df drop list is bounded by construction — it must reach the
    // corpus explode as a broadcast LeftAnti, never a shuffled join that
    // re-partitions every exploded token row
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"drop list must broadcast anti-join:\n$plan")
    val shuffledAnti = plan.linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      .exists(_.contains("LeftAnti"))
    assert(!shuffledAnti, s"anti-join must not shuffle the exploded corpus:\n$plan")
  }

  test("cluster near-dup pair join shuffles ONLY on the cluster key (no cartesian, no broadcast corpus)") {
    import graft.operators.{Dedup, SimilaritySearch}
    val vecs = (0 until 300).map(i => (i.toLong, Array.fill(8)(((i * 31 + 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val centroids = SimilaritySearch.ivfTrain(vecs, "vec_id", "embedding", k = 4, iters = 1)
    val out = Dedup.clusterNearDupPairs(vecs, "vec_id", "embedding", centroids, threshold = 0.9)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"pair generation must stay blocked:\n$plan")
    // the candidate join is cluster-local: an equi-join keyed on `cluster`
    assert(plan.contains("cluster"), s"join must key on the cluster id:\n$plan")
  }

  test("q63 probability join never broadcasts the corpus-derived bigram model") {
    val out = SparkEntry.queries("q63_ngram_lm_score")(spark, "/root/testdata/sf0.001")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the model's row count grows with the corpus vocabulary; Catalyst's
    // post-agg size estimate undershoots and a driver broadcast OOMed at
    // 125× fixture scale — the shuffle_hash hint must hold at every scale
    val broadcastModel = plan.linesIterator
      .filter(_.contains("BroadcastHashJoin")).exists(_.contains("bh"))
    assert(!broadcastModel, s"bigram model must not broadcast:\n$plan")
  }

  test("epoch-shuffle global index uses partition-local windows, never a single-partition exchange") {
    val out = SparkEntry.queries("q76_epoch_shuffle")(spark, "/root/testdata/sf0.001")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the naive global row_number plans Exchange SinglePartition (the
    // whole corpus through one task); the operator's windows must all be
    // partitioned by the range-partition id
    assert(!plan.contains("Exchange SinglePartition"),
      s"global index must not funnel the corpus through one partition:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("_pid")),
      s"every window must partition by the range-partition id:\n$plan")
  }

  test("deterministic chunking numbers rows per key-block, never a single-partition exchange") {
    val out = SparkEntry.queries("q16_chunk_docs")(spark, "/root/testdata/sf0.001")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the naive global row_number would plan Exchange SinglePartition;
    // key-derived blocks keep every window partitioned on _bid
    assert(!plan.contains("Exchange SinglePartition"),
      s"chunk numbering must not funnel the corpus through one partition:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("_bid")),
      s"every window must partition by the key-derived block id:\n$plan")
  }

  test("q96 appended-IVF search prunes at the scan and reads the appended files") {
    val out = SparkEntry.queries("q96_ivf_append")(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the cluster restriction must prune cluster DIRECTORIES at the scan
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cluster.*"),
      s"cluster must be a partition filter:\n$plan")
    // the probe is an upper-half vector absent from the base index, so its
    // cosine-1.0 match (offset id) can only come from files written by
    // IvfIndex.append — proving the appended files are read, not just present
    assert(rows.nonEmpty && rows.head.getLong(0) >= 1000000L && rows.head.getDouble(1) == 1.0,
      s"appended vector must be the top hit: ${rows.take(3).mkString(",")}")
  }

  test("q80 source-overlap self-join reuses the distinct's exchange (one scan feeds both sides)") {
    val out = SparkEntry.queries("q80_source_overlap")(spark, "/root/testdata/sf0.001")
    out.collect() // materialize THIS df so the adaptive plan is final
    val plan = out.queryExecution.executedPlan.toString
    // all four consumers (two self-join sides, two size lookups) are the
    // identical (scan → explode → distinct) subtree — AQE stage reuse must
    // collapse them onto ONE materialized shuffle; re-running the corpus
    // scan+explode per consumer would quadruple the dominant cost
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"self-join sides must share one exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"pair join must stay hash-keyed:\n$plan")
  }

  test("q82 containment join never broadcasts the benchmark shingle set") {
    val out = SparkEntry.queries("q82_ngram_containment")(spark, "/root/testdata/sf0.001")
    out.collect() // final adaptive plan — AQE must not flip the hinted join
    val plan = out.queryExecution.executedPlan.toString
    // a benchmark suite's distinct-shingle relation grows with the suite —
    // the shuffle_hash hint must hold so memory stays bounded per task
    val broadcastBench = plan.linesIterator
      .filter(_.contains("BroadcastHashJoin")).exists(_.contains("LeftOuter"))
    assert(!broadcastBench, s"benchmark set must not broadcast:\n$plan")
  }

  test("q79/q95 exact-distinct stays Expand-free (split distinct, no multi-distinct plan)") {
    // a countDistinct mixed into a multi-aggregate makes the planner
    // Expand every input row ×(distinct groups) — the measured sx625
    // super-linear term (BASELINE.md r12). The split plans must never
    // regress to it.
    for (q <- Seq("q79_sketch_exact", "q95_sketches")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Expand"), s"$q regressed to an Expand plan:\n$plan")
    }
  }

  test("q79 exact-distinct shuffles at a pinned explicit width with no map-side partial agg") {
    // the scale shape (BASELINE r13): one REPARTITION_BY_NUM exchange of
    // the raw pairs — a nearly-unique key space makes a map-side partial
    // hash map pure CPU/GC waste, and AQE's byte-based coalescing reads
    // ~10 B/pair compressed and under-provisions the reduce side. AQE
    // must neither coalesce nor re-widen the pinned exchange.
    val plan = SparkEntry.queries("q79_sketch_exact")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"q79's distinct must shuffle via an explicit pinned-width repartition:\n$plan")
    val beforeExchange = plan.substring(plan.indexOf("REPARTITION_BY_NUM"))
    assert(!beforeExchange.contains("HashAggregate"),
      s"no partial aggregate may run below the pinned exchange:\n$plan")
  }

  test("knnJoin(broadcastProbes = false) does NOT broadcast a corpus-sized probe side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // model an above-threshold probe side
    try {
      val vecs = (0 until 200).map(i => (i.toLong, Array.fill(8)(((i * 31 + 7) % 13 - 6).toFloat)))
        .toDF("vec_id", "embedding")
      val out = graft.operators.SimilaritySearch.knnJoin(
        vecs, vecs, "vec_id", "embedding", "vec_id", "embedding", k = 2, bits = 4,
        broadcastProbes = false)
      out.count()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"corpus-sized probe side must shuffle-join on the bucket, not broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("every onSized wrap declares exactly the tables its body scans (no silent under-count)") {
    // The input-sized wraps (SparkEntry registry) name their query's input
    // tables by hand; a body gaining a table read without its wrap being
    // updated would under-count bytes and could downsize a large join at
    // scale (ADVICE r13). Assert declared == scanned for every wrapped
    // query, from the plan's own input files. Wrap policy — including why
    // chunkers/loops/IVF/skew stay unwrapped — lives on onSized's scaladoc.
    val sf = "/root/testdata/sf0.001"
    var audited = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val declared = Option(SparkEntry.sizedDeclarations.get(fn))
      declared.foreach { tables =>
        // ground truth = the Tables.table calls the body makes while it
        // builds its plan (inputFiles can't see through the caching /
        // checkpointing some bodies do)
        val reads = scala.collection.mutable.Set[String]()
        graft.sources.Tables.readRecorder.set(reads)
        try fn(spark, sf) finally graft.sources.Tables.readRecorder.remove()
        assert(reads.toSet == tables.toSet,
          s"$name: wrap declares ${tables.sorted.mkString(",")} but the body reads " +
            s"${reads.toSeq.sorted.mkString(",")} — update the onSized(...) table list")
        audited += 1
      }
    }
    assert(audited >= 40, s"expected the wrapped family to be audited, saw only $audited")
  }

  test("per-doc scalar queries keep the heavy projection ABOVE the range sort (r18)") {
    // A trailing global orderBy's range-exchange sampling pass computes its
    // ENTIRE child once more, so scoring expressions below the exchange run
    // twice per row. sortedScan establishes the order on the pruned scan;
    // the scoring projection must stay above it — a regression here is the
    // silent 2× the r18 round removed (q83 1.20 → 0.81 s).
    // the FULL sortedScan family (r19, ADVICE r18): every query rewritten
    // onto the order-below-projection contract, each with the marker of
    // its own heavy expression — any one slipping below the range
    // exchange reintroduces the silent 2× sampling-pass evaluation
    val family = Seq(
      "q19_simhash" -> "simhash32",
      "q21_langid" -> "tokenmarkercount",
      "q22_quality_score" -> "tokenmarkercount",
      "q23_fingerprint" -> "fingerprint",
      "q35_bpe_tokens" -> "bpe",
      "q36_minhash_sigs" -> "minhashsignature",
      "q62_pii_redaction" -> "regexp_replace",
      "q83_funnel_trace" -> "tokenmarkercount", // funnelScored(sorted=true)
      "q90_embed_documents" -> "UDF(",
      "q92_multimodal" -> "MapElements")
    for ((q, marker) <- family) {
      val out = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = out.queryExecution.executedPlan.toString
      val idx = plan.indexOf("rangepartitioning")
      assert(idx >= 0, s"$q must keep a total order:\n$plan")
      assert(!plan.substring(idx).contains(marker),
        s"$q: heavy expression '$marker' sits below the range exchange — " +
          s"the sampling pass would evaluate it twice per row:\n$plan")
    }
  }

  test("blocked pair generators skip the guard join when nothing is oversized (r18)") {
    // subSplitOversizedBuckets collects the (tiny, broadcast-bound)
    // oversized list once; with no oversized bucket the re-keying
    // left-outer join must vanish from the plan entirely (its `_bsz`
    // column is the marker). The oversized branch is pinned by DedupSpec's
    // flood test.
    val out = SparkEntry.queries("q20_ngram_jaccard")(spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("_bsz"),
      s"guard join present despite no oversized bucket:\n$plan")
  }
}
