package graft.operators

import graft.functions.{PortableHash, TextOps, VectorOps}
import graft.plans.ArrayExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operator family (north-star: LLM-training-data pipeline).
  *
  * The reference has no dedup (its UUID ids actively duplicate on retry —
  * `service_layer/service.py:126`, SURVEY §2.6 T3); these are the operators
  * a Pinecone-backed corpus pipeline needs at scale. Every variant is
  * shuffle-conscious:
  *  - exact: one hash-partitioned aggregation, no sort.
  *  - minhash-LSH: explode to (band_key, doc) — the join is band-local, so
  *    work is O(candidate pairs), not O(n²).
  *  - simhash: one 32/64-bit word per doc; candidates via bucket equality.
  *  - n-gram Jaccard: blocked pairwise verify, used as the LSH refiner.
  *  - embedding cosine: sign-bucket LSH blocks the vector join.
  */
object Dedup {

  /** Default per-bucket membership cap for every blocked pair generator —
    * see [[subSplitOversizedBuckets]]. 8192 bounds the worst per-bucket
    * candidate count at ~3.4·10⁷ pairs (one join task's worth of cheap
    * integer refines) while sitting far above any bucket a non-degenerate
    * corpus produces at the default band/byte/length/sign blocking. */
  val DefaultMaxBucket = 8192

  /** Degenerate-bucket guard shared by every blocked pair generator. A
    * blocking bucket of m rows yields m(m-1)/2 candidate pairs inside ONE
    * join task, so a single boilerplate template (m = 10⁶ near-identical
    * docs sharing a band/byte/length/sign key) is ~5·10¹¹ pairs — the only
    * quadratic path in the engine. Buckets larger than `maxBucket` are
    * SUB-SPLIT: each member is re-keyed by a secondary hash of
    * (id, bucket key) into ceil(size/maxBucket) sub-buckets, so pair
    * generation still examines every within-sub-bucket pair. Worst-case
    * per-bucket cost drops from m²/2 to m·maxBucket/2 (LINEAR in m), and
    * a template flood keeps ≈1/nsplit of its pairs per bucket key instead
    * of losing all of them — partial recall, never zero. Because the
    * bucket key feeds the secondary hash, MULTI-key blockers (minhash
    * bands, simhash bytes) split the same flood differently under each
    * key, so the union across keys recovers well beyond 1/nsplit;
    * single-key blockers (ngram length-block, embedding sign-bucket) get
    * exactly the 1/nsplit within-sub-bucket fraction. This also degrades
    * gracefully for FIXED small key spaces (simhash has ≤1024 byte
    * buckets, sign-bucket 2^bits): past ~maxBucket·bucketCount rows every
    * bucket sub-splits instead of silently vanishing. Exact recall claims
    * hold only for buckets the guard leaves intact — a triggered split is
    * logged with bucket/row/sub-bucket counts and is a signal to
    * exact-dedup first ([[exactByText]]: byte-identical copies collapse
    * to one representative and never reach the LSH stage). The oversized
    * list is tiny by construction (≤ rows/maxBucket entries) and
    * BROADCAST-BOUND by design, so it is collected once and re-shipped as
    * a local relation: the WARN stats fall out of the collected rows
    * driver-side, which fuses the old persist-count + stats-aggregate
    * pair into ONE job (r18, CcProbe: the guard cost two ~50-150 ms
    * fixed-latency jobs per call on EVERY blocked query even when nothing
    * was oversized), and the no-oversized common case skips the broadcast
    * join entirely — same rows by construction (`_bsz` is null for every
    * row of a left join against an empty side). The guard still costs one
    * map-side-combined count per bucket key and adds no shuffle on the
    * data path. All output keys are xxhash64-normalized longs (a 64-bit
    * collision merging two buckets only adds candidates; the exact refine
    * predicates keep the result set correct). */
  /** Driver-memory cap on the guard's oversized-list collect (r19,
    * VERDICT r18 #4): beyond this many oversized buckets the list is NOT
    * materialized on the driver — the re-keying join consumes the
    * distributed aggregate directly, with no broadcast hint, so a
    * pathological flood of millions of distinct oversized keys plans as an
    * ordinary (shuffle-capable) join instead of building a driver-side Row
    * array or broadcast relation. 65536 key rows ≈ 1.5 MB — far above
    * anything a real corpus produces (each entry already represents >
    * maxBucket member rows), far below driver-OOM territory. */
  private[graft] val MaxCollectedOversized = 65536

  private[graft] def subSplitOversizedBuckets(
      blocked0: DataFrame, key: String, idCol: String, maxBucket: Int, tag: String,
      blockedRowsBound: Option[Long] = None,
      capOversized: Int = MaxCollectedOversized): DataFrame = {
    require(maxBucket > 0, s"maxBucket must be positive, got $maxBucket")
    // A null bucket key can never match in the downstream equi-join, so
    // those rows are dropped here rather than hash-normalized: xxhash64
    // maps null to its seed, which would fuse every null-key row into one
    // real (joinable) bucket and reintroduce the quadratic path for
    // null-text floods.
    val blocked = blocked0.where(col(key).isNotNull)
    // Pre-counted skip (r19): when the caller KNOWS the blocked relation
    // holds at most `blockedRowsBound` rows — the eager-materialization
    // count every pair generator already pays, times the generator's fixed
    // keys-per-row multiplier — and that bound is ≤ maxBucket, no bucket
    // can possibly be oversized, so the per-bucket count job (one fixed
    // ~50-300 ms scheduling+agg job on EVERY blocked query, r19 JobTrace)
    // is skipped outright. Row-identical by construction: the skipped scan
    // could only ever return an empty oversized list. At scale the bound
    // exceeds maxBucket and the full guard runs unchanged.
    if (blockedRowsBound.exists(_ <= maxBucket))
      return blocked.withColumn(key, xxhash64(col(key)))
    val oversizedDf = blocked.groupBy(col(key)).agg(count(lit(1)).as("_bsz"))
      .where(col("_bsz") > maxBucket)
    // limit(cap+1): bounded driver memory even under a key flood — the
    // (cap+1)th row only signals "too many to hold", never ships them all
    val osRows = oversizedDf.limit(capOversized + 1).collect()
    if (osRows.isEmpty) return blocked.withColumn(key, xxhash64(col(key)))
    val nsplit = ceil(col("_bsz") / lit(maxBucket))
    def rekeyed(oversized: DataFrame): DataFrame =
      blocked.join(oversized, Seq(key), "left_outer")
        .withColumn(key,
          when(col("_bsz").isNull, xxhash64(col(key)))
            .otherwise(xxhash64(col(key), pmod(xxhash64(col(idCol), col(key)), nsplit))))
        .drop("_bsz")
    if (osRows.length > capOversized) {
      // flood fallback: same join against the distributed aggregate, with
      // no broadcast hint — a flood's key list may be too large for any
      // driver-built relation, so the planner is free to pick a shuffle join
      System.err.println(
        s"[dedup] WARN $tag: more than $capOversized oversized bucket(s) " +
          s"(> $maxBucket members each) — sub-splitting via the distributed list " +
          "(driver collect skipped); exact-dedup the corpus first, this input is " +
          "a degenerate flood")
      return rekeyed(oversizedDf)
    }
    val szIdx = oversizedDf.schema.fieldIndex("_bsz")
    val nrows = osRows.iterator.map(_.getLong(szIdx)).sum
    val nsub = osRows.iterator.map(r => (r.getLong(szIdx) + maxBucket - 1) / maxBucket).sum
    System.err.println(
      s"[dedup] WARN $tag: sub-split ${osRows.length} degenerate bucket(s) " +
        s"(> $maxBucket members, $nrows member rows) into " +
        s"$nsub secondary-hash sub-buckets — within-sub-bucket " +
        "pairs are still examined (partial recall, ≈1/nsplit per bucket key); " +
        "exact-dedup the corpus first if these are byte-identical floods")
    rekeyed(broadcast(blocked.sparkSession.createDataFrame(
      java.util.Arrays.asList(osRows: _*), oversizedDf.schema)))
  }

  /** Exact dedup by content hash: keeps the row with the minimal `idCol`
    * per distinct `textCol` (deterministic winner). Single shuffle on the
    * 64-hex digest — at 100 TB this is the cheapest possible full dedup
    * (map-side partial aggregation + hash exchange, no sort, no window). */
  def exactByText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.withColumn("_h", sha2(col(textCol), 256))
      .groupBy(col("_h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("_h").as("text_sha256"), col("dup_count"))
  }

  /** Exact dedup keeping full rows: `dropDuplicates` on the given columns
    * (non-deterministic winner — use [[exactByText]] when determinism
    * matters). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** MinHash+LSH candidate pairs: shingle → k-minhash → b bands → explode
    * band keys → self-join within band → distinct pairs, refined by true
    * n-gram Jaccard ≥ `threshold`.
    *
    * Scale shape: the exploded relation is n×b rows; the self-join shuffles
    * on band_key so only same-bucket docs meet. Skewed buckets (e.g. empty
    * docs) are the classic hazard — AQE skew-join handles moderate skew;
    * buckets beyond `maxBucket` members are sub-split with a logged count
    * ([[subSplitOversizedBuckets]]), so no input can trigger a quadratic
    * blowup and a flood still yields partial (per-band-differing) pair
    * coverage. */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rowsPerBand = k / bands
    val thrNum = math.round(threshold * 1e6)
    // One md5 per raw shingle; the distinct HASH set is both the minhash
    // input (universal-hash permutations) and the Jaccard-verify set —
    // long arrays shuffle ~2× lighter than string arrays.
    // The prep relation feeds BOTH sides of the self-join; materialized
    // once (pre-explode, so hs arrays are stored n× not n×bands×) or the
    // whole shingle+minhash pipeline executes twice. At cluster scale the
    // same role is a persisted staging table; locally the columnar cache
    // ([[Materialize.shared]]) is the no-dependency equivalent — lineage
    // kept, so an executor loss recomputes instead of killing the job.
    // Storage lifecycle: harness loops clearCache() between queries;
    // within a query the entry lives exactly as long as its consumers.
    val (base, nBase) = Materialize.sharedCounted(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .withColumn("hs", ArrayExprs.sticky(array_sort(array_distinct(
          ArrayExprs.shingleHash32(TextOps.tokens(col("text")), shingleN)))))
        .withColumn("sz", size(col("hs")))
        .withColumn("sig", ArrayExprs.sticky(ArrayExprs.minhashSignatureFast(col("hs"), k)))
        .drop("text"))
    // exact blocked-rows bound: lshBandKeys emits exactly `bands` keys/row
    val withSig = subSplitOversizedBuckets(
      base.withColumn("band_key", explode(TextOps.lshBandKeys(col("sig"), bands, rowsPerBand))),
      "band_key", "doc_id", maxBucket, "minhashLshPairs", Some(nBase * bands))
    val a = withSig.select(col("band_key"), col("doc_id").as("id_a"), col("hs").as("hs_a"), col("sz").as("sz_a"))
    val b = withSig.select(col("band_key"), col("doc_id").as("id_b"), col("hs").as("hs_b"), col("sz").as("sz_b"))
    joinVerify(a, b, "band_key", thrNum)
  }

  /** Incremental near-dup: candidate pairs BETWEEN an existing corpus and
    * an incoming batch only (no within-side pairs) — the CDC-shaped dedup:
    * each delta batch is checked against the already-ingested corpus
    * without re-pairing the corpus against itself. Same shingle/minhash/
    * band blocking as [[minhashLshPairs]], but the band join is
    * corpus ⋈ batch, so candidate volume is Σ_k |corpus_k|·|batch_k| —
    * proportional to the BATCH for a fixed corpus, the right incremental
    * shape (at cluster scale the corpus prep is a persisted staging table
    * keyed by band, and each delta joins against it). The degenerate-
    * bucket guard counts membership over BOTH sides together and
    * sub-splits with one shared secondary hash, so a cross pair survives
    * iff both members land in the same sub-bucket (bounded work, partial
    * recall under floods). Output: (corpus_id, batch_id, jaccard). */
  def minhashLshPairsAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rowsPerBand = k / bands
    val thrNum = math.round(threshold * 1e6)
    def prep(df: DataFrame, side: String) = df
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("hs", ArrayExprs.sticky(array_sort(array_distinct(
        ArrayExprs.shingleHash32(TextOps.tokens(col("text")), shingleN)))))
      .withColumn("sz", size(col("hs")))
      .withColumn("sig", ArrayExprs.sticky(ArrayExprs.minhashSignatureFast(col("hs"), k)))
      .drop("text")
      .withColumn("side", lit(side))
    val (both, nBoth) = Materialize.sharedCounted(prep(corpus, "c").unionByName(prep(batch, "b")))
    val withSig = subSplitOversizedBuckets(
      both.withColumn("band_key", explode(TextOps.lshBandKeys(col("sig"), bands, rowsPerBand))),
      "band_key", "doc_id", maxBucket, "minhashLshPairsAgainst", Some(nBoth * bands))
    val a = withSig.where(col("side") === "c")
      .select(col("band_key"), col("doc_id").as("id_a"), col("hs").as("hs_a"), col("sz").as("sz_a"))
    val b = withSig.where(col("side") === "b")
      .select(col("band_key"), col("doc_id").as("id_b"), col("hs").as("hs_b"), col("sz").as("sz_b"))
    joinVerify(a, b, "band_key", thrNum, col("id_a") =!= col("id_b"))
      .select(col("id_a").as("corpus_id"), col("id_b").as("batch_id"), col("jaccard"))
  }

  /** Exact substring-window duplicate pairs (the substring-level exact-dup
    * detection of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", simplified to fixed-width windows): two
    * documents pair iff they share at least one exact `windowTokens`-token
    * window; `n_shared` counts the distinct shared windows. The blocking
    * key is the window HASH — an UNBOUNDED key space, so bucket sizes
    * track true window popularity rather than corpus size and candidates
    * stay linear as the corpus grows; a boilerplate window shared by
    * everything is exactly the degenerate bucket the guard sub-splits.
    * The window fingerprint rides along and re-checks equality in
    * the join, so the output never depends on the guard's re-keying.
    *
    * Window keys are double Rabin–Karp rolling fingerprints
    * ([[ArrayExprs.RollingWindowHash]]): one md5 per TOKEN plus O(1) long
    * ops per window, instead of md5 over every w-token window STRING
    * (which hashes each token w times) — and a ~62-bit key space where a
    * 32-bit window hash would flood blocking buckets with birthday
    * collisions at corpus scale. "Exact" means exact at fingerprint
    * granularity, the standard trade of fingerprint substring dedup. */
  def exactWindowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val tokHashes = PortableHash.hash32Array(TextOps.tokens(col(textCol)))
    val windows = df.select(
      col(idCol).as("doc_id"),
      explode(array_distinct(
        ArrayExprs.rollingWindowHash(tokHashes, windowTokens))).as("wh"))
    // Materialized once — feeds the guard count and both join sides.
    // Measured A/B at sf0.1 (round 10): caching wins even at small scale
    // (steady 1.16-1.56 s cached vs 1.79-2.23 s recomputing the window
    // relation for guard + both sides) — a skip-below-cutoff variant was
    // tried and REVERTED; the persist+count pass is cheaper than the two
    // extra tokenize+md5+rolling-hash passes at every measured size.
    // Cached at exactly two 8-byte columns (doc_id, wh): the
    // guard-rewritable join key `wkey` is derived AFTER the cache, so the
    // stored relation (the biggest in the engine — one row per distinct
    // window per doc) carries no duplicate column. The columnar cache
    // packs the two long columns into compressed batches at a fraction of
    // the per-object deserialized footprint — this relation is what hits
    // the storage ceiling first at scale (the measured q69 spill knee in
    // BASELINE.md) — and keeps lineage, so a lost partition recomputes
    // deterministically instead of failing the job.
    val (sharedWindows, nWindows) = Materialize.sharedCounted(windows)
    val blocked = subSplitOversizedBuckets(
      sharedWindows.withColumn("wkey", col("wh")),
      "wkey", "doc_id", maxBucket, "exactWindowPairs", Some(nWindows))
    val a = blocked.select(col("wkey"), col("wh"), col("doc_id").as("id_a"))
    val b = blocked.select(col("wkey").as("wkey_r"), col("wh").as("wh_b"), col("doc_id").as("id_b"))
    a.join(b,
      col("wkey") === col("wkey_r") && col("id_a") < col("id_b") && col("wh") === col("wh_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("wh")).as("n_shared"))
  }

  /** Candidate join + exact-Jaccard refine shared by the LSH and blocked
    * variants. Exactness-preserving prefilter in the JOIN condition:
    * J = |∩|/|∪| ≤ min(szA,szB)/max(szA,szB), so pairs failing the size
    * ratio can't reach the threshold — the expensive intersect never runs
    * for them. The threshold test itself is integer math
    * (10⁶·inter ≥ thrNum·union), identical across engines. `pairCond`
    * orders the pair for self-joins (default) or just excludes self-pairs
    * for two-sided joins. */
  private def joinVerify(a: DataFrame, b0: DataFrame, key: String, thrNum: Long,
      pairCond: Column = col("id_a") < col("id_b")): DataFrame = {
    val b = b0.withColumnRenamed(key, key + "_r")
    val joined = a.join(b,
      col(key) === col(key + "_r") &&
        pairCond &&
        greatest(col("sz_a"), col("sz_b")) > 0 &&
        least(col("sz_a"), col("sz_b")) * lit(1000000L) >= lit(thrNum) * greatest(col("sz_a"), col("sz_b")))
    val inter = ArrayExprs.sticky(ArrayExprs.sortedIntersectCount(col("hs_a"), col("hs_b")).cast("long"))
    joined
      .select(col("id_a"), col("id_b"), inter.as("inter"),
        (col("sz_a").cast("long") + col("sz_b")).as("szsum"))
      .select(col("id_a"), col("id_b"), col("inter"), (col("szsum") - col("inter")).as("uni"))
      .where(col("inter") * lit(1000000L) >= lit(thrNum) * col("uni"))
      .select(col("id_a"), col("id_b"),
        TextOps.quantize6(col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .distinct()
  }

  /** Connected components over near-dup pairs — the dedup ACTION: every
    * doc gets the minimal doc-id reachable through dup edges as its
    * canonical representative (keep rows where id == canonical, drop the
    * rest). Iterative min-label propagation, converging in O(component
    * diameter) rounds (near-dup components are dense cliques → 1-2
    * rounds). All joins hash-partition on id — no global structures, the
    * standard GraphX-free CC at any scale. The fixpoint (min id per
    * component) is algorithm-independent, so an exact SQL reachability
    * mirror verifies it. */
  def dedupClusters(ids: DataFrame, idCol: String, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edgesHome = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    // Materialize the edge cache at FULL session width — pair generation
    // is the scale-heavy half of the query. Only the label loop below runs
    // at the data-derived width (loopWidthSession): its per-round relations
    // are O(ids + edges) narrow long columns, and the measured cost of the
    // loop at small scale is TASK SCHEDULING, not data (see the scaladoc
    // on loopWidthSession). The width evidence is ONE job (cross-joined
    // 1-row aggregates) that doubles as the edge-cache materializer.
    val sizes = edgesHome.agg(count(lit(1)).as("ne"))
      .crossJoin(ids.agg(count(lit(1)).as("ni"))).collect()(0)
    val nEdges = sizes.getLong(0)
    val nIds = sizes.getLong(1)
    // Narrowing runs on an ISOLATED session clone, never a shared-conf
    // mutation (one mechanism engine-wide — loopWidthSession; VERDICT r13
    // #4): the two root inputs are rebound to the clone once, every
    // per-round plan derives from them and inherits it, and the result is
    // rebound back to the caller's session so the narrowing never leaks.
    val s2 = Materialize.loopWidthSession(ids.sparkSession, nIds + nEdges)
    val narrowed = s2 ne ids.sparkSession
    val edges = Materialize.rebind(edgesHome, s2) // shared CacheManager: same cache entry
    try {
      // Materialize.truncate (not cache) each round: iterative DataFrames
      // grow a nested logical plan per iteration, and Catalyst re-analyzes
      // the whole tree every round — plan truncation keeps planning O(1) per
      // round. The snapshot is a RELIABLE checkpoint (scratch-dir files), so
      // an executor loss mid-loop re-reads files instead of killing the job.
      var labels = Materialize.truncate(Materialize.rebind(
        ids.select(col(idCol).as("id"), col(idCol).as("label")), s2))
      var prevCkpt = labels // superseded checkpoint blocks are freed each round
      var changed = 1L
      var i = 0 // counts hook+jump PASSES (two per fused round, at most maxIter)
      // One hook+jump pass: pull the min label across edges, then pointer
      // jump label := label(label) — the jump halves chain depth each pass,
      // so convergence is O(log n) even for path-shaped components (plain
      // propagation needs O(diameter) passes and could exhaust maxIter on
      // long chains). roundCache: LAZY persist when narrowed (the round's
      // checkpoint job materializes it; a double-compute race between
      // consumer stages is cheaper than an extra job at this scale), EAGER
      // at full width (the hook join is the pass's heavy shuffle — at
      // 100 TB it must run exactly once, not race). Labels are
      // deterministic hash/min derivations of the previous round's
      // reliable snapshot, so either policy — and recompute after a lost
      // partition — yields identical rows.
      def hookJump(in: DataFrame, carryOld: Boolean): (DataFrame, DataFrame) = {
        val neighborMin = edges.join(in, edges("dst") === in("id"))
          .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
        val hooked = Materialize.roundCache(
          in.join(neighborMin, in("id") === neighborMin("src"), "left_outer")
            .select(Seq(in("id"),
              least(in("label"), coalesce(col("nlabel"), in("label"))).as("label")) ++
              (if (carryOld) Seq(in("label").as("_old")) else Nil): _*),
          narrowed)
        val lookup = hooked.select(col("id").as("_lid"), col("label").as("_llabel"))
        (hooked.join(lookup, hooked("label") === lookup("_lid"), "left_outer")
          .select(Seq(hooked("id"),
            least(hooked("label"), coalesce(col("_llabel"), hooked("label"))).as("label")) ++
            (if (carryOld) Seq(hooked("_old")) else Nil): _*),
         hooked)
      }
      while (changed > 0 && i < maxIter) {
        // Each round FUSES TWO hook+jump passes into ONE Spark job (the
        // eager checkpoint): the measured cost of the loop at small scale
        // is JOB SCHEDULING, not data (CcProbe; JobTrace r19 measured 4
        // checkpoint jobs/query here), and at 100 TB each round writes one
        // reliable checkpoint of the labels relation — fusing halves both.
        // Convergence is observed on the SECOND pass alone (carryOld
        // threads the pass-2 input label through as _old): a full
        // hook+jump pass that changes no label is exactly the original
        // per-pass loop's exit condition (hook found no smaller neighbor
        // min and jump found no deeper pointer — a fixpoint; pass counts
        // and label trajectories are unchanged, only job boundaries move).
        // With one pass of budget left (odd maxIter), the round is that
        // single pass, so the loop never runs more than maxIter passes.
        val passes = math.min(2, maxIter - i)
        val (out, roundStorage) =
          if (passes == 2) {
            val (mid0, hooked1) = hookJump(labels, carryOld = false)
            val mid = Materialize.roundCache(mid0, narrowed)
            val (out2, hooked2) = hookJump(mid, carryOld = true)
            (out2, Seq(hooked1, mid, hooked2))
          } else {
            val (out1, hooked1) = hookJump(labels, carryOld = true)
            (out1, Seq(hooked1))
          }
        // The convergence metric rides the SAME job: an observed aggregate
        // on the checkpoint write replaces a separate count job (verified
        // to fire on eager checkpoints — MaterializeSpec).
        val obs = new org.apache.spark.sql.Observation(s"cc_changed_$i")
        val newLabels = Materialize.truncate(
          out.observe(obs, count(when(col("label") =!= col("_old"), 1)).as("changed")))
        changed = observedChanged(obs, newLabels)
        // newLabels is materialized — the storage it was built from is dead
        Materialize.free(prevCkpt)
        roundStorage.foreach(Materialize.release)
        prevCkpt = newLabels
        labels = newLabels.drop("_old")
        i += passes
      }
      if (changed > 0)
        System.err.println(
          s"[dedup] WARN dedupClusters exited unconverged after $i passes ($changed labels still moving)")
      // rebound to the CALLER's session: downstream consumers plan at the
      // width they chose; the loop's narrowing stays inside the loop
      Materialize.rebind(labels, ids.sparkSession)
        .select(col("id").as(idCol), col("label").as("canonical"),
          (col("id") === col("label")).as("is_canonical"))
    } finally { edgesHome.unpersist(); () }
  }

  /** The single-job round's convergence count, read from the observed
    * aggregate that rode the eager checkpoint — BOUNDED: Spark's contract
    * that eager checkpoints deliver observations is pinned by
    * MaterializeSpec, but a test-time pin can't stop a runtime hang if the
    * contract ever shifts (ADVICE r13), so a missing metric falls back to
    * an explicit count job over the already-checkpointed snapshot (one
    * extra job, correct either way) instead of blocking the loop forever. */
  private def observedChanged(
      obs: org.apache.spark.sql.Observation, snapshot: DataFrame): Long =
    try {
      scala.concurrent.Await.ready(obs.future,
        scala.concurrent.duration.Duration(60, java.util.concurrent.TimeUnit.SECONDS))
      obs.get("changed").asInstanceOf[Long]
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println("[dedup] WARN eager checkpoint delivered no observed metrics " +
          "within 60s; falling back to an explicit convergence-count job")
        snapshot.where(col("label") =!= col("_old")).count()
    }

  /** Connected components by alternating star contraction (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — the standard giant-component-
    * safe formulation): converges in O(log² n) rounds REGARDLESS of
    * component diameter or size, where plain label propagation degrades on
    * the giant near-clique components that real crawl-dedup graphs (and
    * this fixture's tiny vocabulary) produce.
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(Γ(u) ∪ u) — long chains collapse toward minima;
    *  - small-star: every node u links its smaller-or-equal neighbors and
    *    itself to m — stars flatten to depth 1.
    *
    * Both steps are a groupBy(min) + join per round over the edge
    * relation; no step ever materializes a neighborhood list, so a node
    * of degree n (the giant-component hub) is just n rows hash-spread
    * across partitions — map-side partial min keeps the hot key cheap,
    * and AQE skew-join covers the join side. Same output contract as
    * [[dedupClusters]] (verified equal in DedupSpec). */
  def dedupClustersStar(ids: DataFrame, idCol: String, pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // canonical child→parent orientation: u > v (drop self-loops)
    var edges = Materialize.truncate(pairs
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct())
    // edge materialization (pair generation) ran at full session width;
    // the contraction loop's per-round relations are bounded by O(edges),
    // so it runs at the data-derived width (see loopWidthSession) — the
    // count is the width evidence, read from checkpoint files (cheap).
    // The width lives on an ISOLATED clone: rebinding the checkpointed
    // edge relation re-roots it there at zero cost (the plan reads files),
    // and every round derives from it.
    val nEdges = edges.count()
    val s2 = Materialize.loopWidthSession(ids.sparkSession, 2L * nEdges)
    val narrowed = s2 ne ids.sparkSession
    edges = Materialize.rebind(edges, s2)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the undirected view
      val nbrs = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // roundCache (read by smins and small within this round only —
      // small's truncation breaks the plan across rounds): lazy when
      // narrowed — the small-star checkpoint job materializes it on first
      // scan, no separate persist+count job — eager at full width, where
      // the large-star join/distinct is the round's heavy shuffle.
      // Deterministic derivation of the previous round's reliable
      // snapshot → recompute/race-safe either way.
      val large = Materialize.roundCache(nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // (larger neighbor → m); m < u < v, no self-loop
        .distinct(), narrowed)
      // small-star on the (u > v) orientation: parents and self to min parent
      val smins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = Materialize.truncate(large.join(smins, "u")
        .select(col("v").as("n"), col("m"))
        .unionByName(smins.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct())
      // Convergence = the edge set is a forest of depth-1 stars, which
      // requires BOTH (checked on THIS round's materialized output, so no
      // redundant confirming round is paid):
      //  (a) FUNCTION: every child has exactly one parent — a tiny agg
      //      (count == countDistinct(u)). A child with TWO parents bridges
      //      two stars of one component and needs another round to merge
      //      them (DedupSpec "two-parent bridge" pins the case: checking
      //      only (b) would split that component);
      //  (b) NO CHAIN: no node is both child and parent — a semi-join
      //      over the node sets.
      // Star states are exact fixpoints of large-star∘small-star, and both
      // steps preserve connectivity, so a function+no-chain state means
      // every component is fully contracted. Check-execution policy follows
      // the loop width, like the caches:
      //  - narrowed (small scale): both checks fuse into ONE job (cross-
      //    joined 1-row aggregates) — job scheduling, not data, is the
      //    measured cost, so the round is exactly two jobs;
      //  - full width (at scale): (b)'s semi-join SHUFFLES the whole edge
      //    relation, so it must keep the short-circuit and run only once
      //    (a) holds — near convergence, when `small` has contracted.
      //    Fusing it unconditionally re-shuffled millions of early-round
      //    edges per round: q53 sx125 34.9 s vs 15.9 s (r13 A/B).
      converged =
        if (narrowed) {
          val shape = small.agg(count(lit(1)).as("n"), countDistinct(col("u")).as("d"))
            .crossJoin(small.select(col("v"))
              .join(small.select(col("u").as("v")), Seq("v"), "left_semi")
              .agg(count(lit(1)).as("chain")))
            .collect()(0)
          shape.getLong(0) == shape.getLong(1) && shape.getLong(2) == 0L
        } else {
          val shape = small.agg(count(lit(1)), countDistinct(col("u"))).collect()(0)
          shape.getLong(0) == shape.getLong(1) &&
            small.select(col("v"))
              .join(small.select(col("u").as("v")), Seq("v"), "left_semi")
              .isEmpty
        }
      Materialize.release(large)
      Materialize.free(edges)
      edges = small
      i += 1
    }
    if (!converged)
      System.err.println(
        s"[dedup] WARN dedupClustersStar exited unconverged after $maxIter rounds; labels may be non-minimal")
    // converged: edges form stars (child → component min). Singletons and
    // roots label themselves; min-aggregate is belt-and-braces. Rebound to
    // the CALLER's session (checkpoint-file read, zero cost): the final
    // join against `ids` plans at the width the caller chose.
    val roots = Materialize.rebind(edges, ids.sparkSession)
      .groupBy(col("u").as("_id")).agg(min(col("v")).as("_root"))
    ids.select(col(idCol).as("id"))
      .join(roots, col("id") === col("_id"), "left_outer")
      .select(
        col("id").as(idCol),
        coalesce(col("_root"), col("id")).as("canonical"),
        (coalesce(col("_root"), col("id")) === col("id")).as("is_canonical"))
  }

  /** True Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** SimHash near-dup candidates: docs whose 32-bit simhash words are
    * within `maxHamming` bits. Blocking: 4 bucket keys per doc (one per
    * 8-bit simhash byte) — by pigeonhole, any pair within hamming ≤ 3
    * shares at least one identical byte, so the byte-equality join finds
    * all such pairs without an n² comparison. Byte buckets beyond
    * `maxBucket` members are sub-split with a logged count
    * ([[subSplitOversizedBuckets]]) — exactness holds for every bucket the
    * guard leaves intact; split buckets keep partial recall (the four byte
    * keys split differently, so their union recovers most pairs). */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxHamming <= 3, "byte-blocking is exact only for maxHamming <= 3 over 4 bytes")
    // materialized once — feeds both join sides (see minhashLshPairs)
    val (withSim, nSim) = Materialize.sharedCounted(df.select(
      col(idCol).as("doc_id"),
      ArrayExprs.sticky(ArrayExprs.simhash32Fast(
        PortableHash.hash32Array(TextOps.tokens(col(textCol))))).as("simhash")))
    // block key = byteIdx*256 + byte value — exact, injective, and a LONG
    // (the former "i:b" concat string shuffled ~3× heavier per row)
    val blocked = subSplitOversizedBuckets(
      withSim.withColumn(
        "block",
        explode(array((0 until 4).map { byteIdx =>
          lit(byteIdx * 256L) + shiftright(col("simhash"), byteIdx * 8).bitwiseAND(lit(255L))
        }: _*))),
      "block", "doc_id", maxBucket, "simhashPairs", Some(nSim * 4))
    val a = blocked.select(col("block"), col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val b = blocked.select(col("block"), col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("block"))
      .where(col("id_a") < col("id_b"))
      // bit_count(xor) == TextOps.hammingDistance32, but stays a single
      // codegen'd instruction instead of a 32-term expression tree
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      // filter BEFORE the pair-dedup: hamming is functionally determined by
      // (id_a, id_b), so the result is identical, but the distinct's shuffle
      // now carries only surviving pairs instead of every byte-block
      // candidate pair
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Blocked n-gram Jaccard pairs (the brute-ish baseline the LSH variants
    * approximate): block by a cheap key (token-count bucket) so only
    * similar-length docs are compared. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.3,
      lengthBucket: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val thrNum = math.round(threshold * 1e6)
    // materialized once — feeds both join sides (see minhashLshPairs)
    val (preppedBase, nPrepped) = Materialize.sharedCounted(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .withColumn("hs", ArrayExprs.sticky(array_sort(array_distinct(
          ArrayExprs.shingleHash32(TextOps.tokens(col("text")), shingleN)))))
        .withColumn("sz", size(col("hs")))
        .withColumn("block", ArrayExprs.sticky(floor(TextOps.tokenCount(col("text")) / lengthBucket)))
        .drop("text"))
    val prepped = subSplitOversizedBuckets(
      preppedBase, "block", "doc_id", maxBucket, "ngramJaccardPairs", Some(nPrepped))
    val a = prepped.select(col("block"), col("doc_id").as("id_a"), col("hs").as("hs_a"), col("sz").as("sz_a"))
    val b = prepped.select(col("block"), col("doc_id").as("id_b"), col("hs").as("hs_b"), col("sz").as("sz_b"))
    joinVerify(a, b, "block", thrNum)
  }

  /** Embedding near-dup: pairs with cosine ≥ `threshold`, blocked by
    * sign-bucket LSH over the first `bits` dimensions so the vector join is
    * bucket-local. Sign buckets beyond `maxBucket` members are sub-split
    * with a logged count ([[subSplitOversizedBuckets]]); being a
    * single-key blocker, a split bucket keeps exactly its
    * within-sub-bucket pairs (≈1/nsplit recall inside that bucket).
    *
    * Recall is < 1 BY CONSTRUCTION at nprobe=1: a pair whose members
    * straddle one of the `bits` leading hyperplanes lands in different
    * buckets and is never compared. Measured on DedupSpec's seeded corpus
    * (cosine straddling threshold 0.95): pair recall ≈ 0.84 at bits=4,
    * ≈ 0.74 at bits=8 — each extra bit halves candidate volume (and thus
    * join cost) for a few points of recall; precision is always 1.0 (the
    * refine predicate is exact cosine).
    *
    * `nprobe > 1` is the recall-recovery path: every vector additionally
    * probes the buckets across its `nprobe - 1` lowest-|component|
    * hyperplanes ([[VectorOps.probeBuckets]]) and BOTH join sides probe,
    * so one- and two-bit sign disagreements meet in a shared bucket.
    * Candidate volume grows ≤ nprobe² per bucket (each side's bucket
    * membership grows nprobe×) — still bucket-local, never quadratic in
    * the corpus. Measured on the same seeded corpus at bits=8: recall
    * 0.74 (nprobe=1) → ≥0.9 at nprobe=2, → ≥0.95 at nprobe=4 (DedupSpec
    * pins the floors). Pick bits by corpus size, then nprobe by the
    * recall target. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bits: Int = 8,
      maxBucket: Int = DefaultMaxBucket,
      nprobe: Int = 1): DataFrame = {
    // materialized once — feeds the bucket-size count and both join sides
    val (bucketed, nBucketed) = Materialize.sharedCounted(df.select(
      col(idCol).as("vid"),
      col(vecCol).as("v"),
      explode(VectorOps.probeBuckets(col(vecCol), bits, nprobe)).as("bucket")))
    val withBucket = subSplitOversizedBuckets(
      bucketed, "bucket", "vid", maxBucket, "embeddingNearDupPairs", Some(nBucketed))
    val a = withBucket.select(col("bucket"), col("vid").as("id_a"), col("v").as("v_a"))
    val b = withBucket.select(col("bucket"), col("vid").as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(VectorOps.cosineFast(col("v_a"), col("v_b")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
    // multi-probe can surface one pair through several buckets; nprobe=1
    // keeps the original single-meeting plan (no extra shuffle)
    if (nprobe > 1) pairs.distinct() else pairs
  }

  /** SemDeDup-style cluster-blocked embedding near-dup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest coarse centroid
    * and generate pairs only WITHIN a cluster, refined by exact cosine ≥
    * `threshold`.
    *
    * This is the scale path for vector dedup that fixed sign-bucket
    * blocking ([[embeddingNearDupPairs]]) cannot be: sign buckets have a
    * FIXED 2^bits key space, so candidate volume is inherently quadratic
    * in corpus size, while the centroid count k here is DATA-ADAPTIVE —
    * pick k ≈ n/targetClusterSize and within-cluster candidate volume is
    * O(n·targetClusterSize), linear in n. The cluster id is the same key
    * [[IvfIndex]] partitions the persisted sink by, so at 100 TB the pair
    * join is partition-local over the existing IVF layout (no extra
    * shuffle beyond the one the index already paid). Exact duplicates are
    * always recovered: identical vectors score identically against every
    * centroid and land in the same cluster. A pair straddling a cluster
    * boundary is missed at nprobe=1 (SemDeDup's documented trade);
    * `nprobe > 1` assigns each vector to its nprobe nearest clusters
    * (candidate volume ≤ nprobe× per side) to recover boundary pairs.
    * Degenerate clusters beyond `maxBucket` members are sub-split with a
    * logged count ([[subSplitOversizedBuckets]]); being a single-key
    * blocker at nprobe=1, a split cluster keeps its within-sub-bucket
    * pairs (≈1/nsplit recall inside that cluster).
    *
    * `centroids` is the k×dim coarse-quantizer matrix — driver-resident
    * by design, like any IVF index's centroids ([[SimilaritySearch
    * .ivfTrain]] output, or any deterministic seed set). */
  def clusterNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]],
      threshold: Double = 0.95,
      maxBucket: Int = DefaultMaxBucket,
      nprobe: Int = 1): DataFrame = {
    require(centroids.nonEmpty, "clusterNearDupPairs needs at least one centroid")
    // materialized once — feeds the cluster-size count and both join sides
    val (assigned0, nAssigned) = Materialize.sharedCounted(df.select(
      col(idCol).as("vid"),
      col(vecCol).as("v"),
      explode(SimilaritySearch.nearestCentroids(col(vecCol), centroids, nprobe)).as("cluster")))
    val assigned = subSplitOversizedBuckets(
      assigned0, "cluster", "vid", maxBucket, "clusterNearDupPairs", Some(nAssigned))
    val a = assigned.select(col("cluster"), col("vid").as("id_a"), col("v").as("v_a"))
    val b = assigned.select(col("cluster"), col("vid").as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(VectorOps.cosineFast(col("v_a"), col("v_b")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
    // multi-assignment can surface one pair through several shared clusters
    if (nprobe > 1) pairs.distinct() else pairs
  }

  /** Incremental [[clusterNearDupPairs]]: candidate pairs between an
    * existing CORPUS and a new BATCH only — never within a side — so a
    * CDC cycle can near-dup-check its delta against the indexed corpus
    * without re-paying corpus×corpus work (the vector analog of
    * [[minhashLshPairsAgainst]]). Both sides assign to the same centroid
    * set (at scale: the persisted IVF index's centroids, so the corpus
    * side is read cluster-pruned from the index layout and work tracks
    * the BATCH's cluster footprint). Corpus ids always land in
    * `corpus_id`. Both sides pass through one SHARED bucket guard so an
    * oversized cluster's secondary sub-keys align across sides (a
    * per-side guard would re-key the two sides differently and lose all
    * cross-side pairs in split buckets); batch multi-assignment
    * (`nprobe`) recovers boundary pairs at ≤ nprobe× candidate cost. */
  def clusterNearDupPairsAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]],
      threshold: Double = 0.95,
      maxBucket: Int = DefaultMaxBucket,
      nprobe: Int = 1): DataFrame = {
    require(centroids.nonEmpty, "clusterNearDupPairsAgainst needs at least one centroid")
    // both sides pass through ONE guard (same pattern as
    // minhashLshPairsAgainst), so an oversized cluster's secondary
    // sub-keys align across sides; the corpus assigns once, the batch
    // multi-assigns to its nprobe nearest clusters
    def prep(df: DataFrame, side: String, np: Int) = df.select(
      col(idCol).as("vid"),
      col(vecCol).as("v"),
      explode(SimilaritySearch.nearestCentroids(col(vecCol), centroids, np)).as("cluster"))
      .withColumn("side", lit(side))
    val (assigned0, nAssigned) = Materialize.sharedCounted(
      prep(corpus, "c", 1).unionByName(prep(batch, "b", nprobe)))
    val assigned = subSplitOversizedBuckets(
      assigned0, "cluster", "vid", maxBucket, "clusterNearDupPairsAgainst", Some(nAssigned))
    val a = assigned.where(col("side") === "c")
      .select(col("cluster"), col("vid").as("corpus_id"), col("v").as("v_c"))
    val b = assigned.where(col("side") === "b")
      .select(col("cluster"), col("vid").as("batch_id"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("cluster"))
      .select(col("corpus_id"), col("batch_id"),
        round(VectorOps.cosineFast(col("v_c"), col("v_b")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
    if (nprobe > 1) pairs.distinct() else pairs
  }
}
