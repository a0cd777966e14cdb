package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialization policy for relations that are read more than once or
  * rebuilt every round of an iterative loop. One place, three tools, each
  * with a distinct fault story — chosen so that NO data path in the engine
  * depends on executor-local storage that cannot be rebuilt after an
  * executor loss (the failure mode `localCheckpoint` bakes in: blocks live
  * only in executor storage AND lineage is truncated, so losing one
  * executor kills the job; at 100 TB the pinned corpus is also a straight
  * memory/disk tax on the cluster).
  *
  *  - [[shared]] — deterministic relation feeding several consumers (both
  *    sides of a self-join, a guard count + the guarded join, a model and
  *    its totals). Columnar `persist(MEMORY_AND_DISK)`: compressed
  *    columnar batches (typically far smaller than row-serialized blocks
  *    for the engine's narrow long-column relations), spill-safe, and the
  *    LINEAGE IS KEPT — a lost partition recomputes from source, which is
  *    exactly correct because every `shared` input in this engine is a
  *    pure hash/arithmetic derivation of its source ([[ArrayExprs.sticky]]
  *    marks columns non-deterministic only as an optimizer placement
  *    barrier; their values are deterministic functions of the row).
  *  - [[truncate]] — iterative loops (connected components) grow a nested
  *    logical plan per round, and Catalyst re-analyzes the whole tree
  *    every round; some snapshot MUST break the plan. A RELIABLE
  *    checkpoint into [[checkpointDir]] (tmp locally, a durable scratch
  *    dir — HDFS/object store — on a cluster) truncates the plan AND
  *    survives executor loss, the trade `localCheckpoint` refused.
  *    Superseded rounds free their files eagerly via [[free]].
  *  - `snapshot` semantics (non-deterministic plans that must be captured
  *    once, e.g. sampled range partitioning) are [[truncate]] — the
  *    reliable files ARE the point-in-time capture; recompute never runs.
  *
  * Storage lifecycle: `shared` blocks are released by [[release]] where a
  * handle exists, else by ContextCleaner on GC (same as the previous
  * checkpoint blocks); reliable checkpoint files are deleted by [[free]],
  * by ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
  * is on, and finally by the JVM shutdown hook on the session-scoped dir. */
object Materialize {

  /** Eagerly cache a deterministic multi-consumer relation. Columnar
    * persist keeps lineage (executor-loss recoverable) and the eager pass
    * makes every consumer — including both sides of a self-join running in
    * one job — read identical, already-built cache batches. */
  def shared(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    sharedCounted(df, level)._1

  /** [[shared]], returning the row count its eager pass already computed —
    * free metadata the caller can reuse (e.g. the blocked-dedup guard's
    * "can any bucket be oversized at all?" bound) instead of paying a
    * second count job for a number this materialization just produced. */
  def sharedCounted(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): (DataFrame, Long) = {
    df.persist(level)
    val n = df.count()
    (df, n)
  }

  /** Release the storage behind a [[shared]] relation once no downstream
    * plan reads it again (blocking=false: don't stall the caller). */
  def release(df: DataFrame): Unit = { df.unpersist(false); () }

  /** Per-round loop cache with the policy the loop width dictates (see
    * [[loopWidthSession]]): LAZY persist when narrowed — the round's
    * single job materializes it, and a duplicate-compute race between two
    * consumer stages costs less than the extra job — EAGER ([[shared]])
    * at full width, where the relation carries real shuffle/CPU work that
    * must run exactly once. Only for deterministic relations (both
    * consumers and any recompute see identical rows either way). */
  def roundCache(df: DataFrame, narrowed: Boolean): DataFrame =
    if (narrowed) { df.persist(StorageLevel.MEMORY_AND_DISK); df } else shared(df)

  /** Reliable checkpoint: truncates the logical plan / lineage for
    * iterative loops and captures non-deterministic plans, while remaining
    * recoverable — the files live in [[checkpointDir]], not in executor
    * block-manager storage. Eager by contract (the returned plan reads
    * only the files). */
  def truncate(df: DataFrame): DataFrame = {
    ensureCheckpointDir(df.sparkSession)
    df.checkpoint(eager = true)
    // A/B measured (r10, clean box, sf0.1): localCheckpoint times the CC
    // queries IDENTICALLY (q74 4.13s vs 3.90s, q45 3.36s vs 3.71s) — the
    // reliable files cost nothing locally, so durability is free here.
  }

  /** Best-effort delete of the files behind a superseded [[truncate]]
    * result. Safe only once no live plan reads it (same contract the old
    * eager-localCheckpoint free had for block-manager storage). */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile.foreach { path =>
          try {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            fs.delete(p, true)
          } catch { case _: java.io.IOException => () } // cleanup is advisory
        }
      case _ => ()
    }

  /** Rows a single task of an iterative-loop round should process. NOT a
    * byte target: the loop rounds bear per-row CPU (distinct, min-agg,
    * join probes), so the optimum balances per-task overhead (~ms)
    * against lost cores. Measured on the 32-core harness (q53 star loop,
    * 75k edges, sx125): width 1 → 12.5 s, 4 → 10.4 s, 8–16 → 5.2–6.9 s,
    * session default → 6.9 s; at the bottom (≤ ~10k rows total) width 1
    * wins because task+stage scheduling dominates. ~12.5k rows/task puts
    * both measured regimes on their winning side. */
  val LoopRowsPerPartition: Long = 12500L

  /** The ONE loop-narrowing mechanism (r14 — the conf-mutating
    * `withLoopWidth` twin is gone): a `newSession()` CLONE with isolated
    * SQLConf, `spark.sql.shuffle.partitions` narrowed to the width the
    * loop's ACTUAL row volume justifies (`rows / LoopRowsPerPartition`,
    * clamped to [1, session width]) and AQE off — or the ORIGINAL session
    * when `rows` justifies full width. Why narrow at all: the r10→r11
    * drift diagnosis (BASELINE.md, CcProbe) measured the CC queries' cost
    * as TASK COUNT, not data — ~1,300 tasks across ~68 AQE stage-jobs to
    * move 500 labels, because every exchange in a loop inherits the
    * session's core-count width and AQE's `parallelismFirst=true` default
    * never coalesces below it (and AQE's per-stage materialization turns
    * each tiny query into ~15 scheduled jobs). Deriving the width from
    * measured rows fixes the small end without touching the big end: at
    * 100 TB the quotient exceeds the session cap and the loop runs exactly
    * as wide — and as AQE-adaptive — as the session itself.
    *
    * Why a clone, never `spark.conf.set` on the caller's session: session
    * conf is engine-wide state, and the CDC cycle runs tables CONCURRENTLY
    * on one session — a conf mutation would re-plan every other thread's
    * queries at the narrowed width (VERDICT r13 #4). The clone shares
    * SparkContext, cache, and catalog; only its conf differs. Callers must
    * build (or [[rebind]]) their relations from the returned session for
    * the width to apply — derived Datasets inherit their parent's session,
    * so rebinding a loop's root inputs once covers every per-round plan. */
  def loopWidthSession(spark: SparkSession, rows: Long): SparkSession = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val w = math.max(1L, math.min(session.toLong, rows / LoopRowsPerPartition + 1)).toInt
    if (w >= session) spark
    else {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", w.toString)
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      s2
    }
  }

  /** Re-root a DataFrame's plan on another session (no-op when already
    * there) — zero data movement: the plan is re-planned under `to`'s
    * SQLConf, and because session clones share the SparkContext, the
    * CacheManager, and the checkpoint files, a cached or [[truncate]]d
    * relation resolves to the same storage it had on its home session.
    * This is how the CC loops adopt their [[loopWidthSession]] clone:
    * rebind the loop's root inputs once; every derived per-round plan
    * inherits the clone automatically. The final result is rebound BACK
    * to the caller's session, so downstream consumers plan at the width
    * they chose — the loop's narrowing never leaks out. */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    if (to eq df.sparkSession) df
    else org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(to, df.queryExecution.analyzed)

  /** Inputs below this on-disk size take the small-query session (an
    * 8 MiB parquet is ≲ a few hundred thousand text rows — sub-second
    * CPU at any width ≥ 4); above it, AQE's runtime re-planning and the
    * session width pay for themselves. */
  val SmallQueryBytes: Long = 8L << 20

  /** One-shot analog of [[loopWidthSession]] for scalar/aggregate queries
    * over a SMALL input, sized from the table's on-disk bytes
    * ([[graft.sources.Tables.tableBytes]] — a driver-side listing, no
    * job). Measured on the doc-scan family at sf0.1 (594 KB corpus,
    * CcProbe r13): AQE's per-stage materialization billed 11–17 stage-jobs
    * per sub-second query at a ~60–175 ms/job floor; the clone (AQE off,
    * width 4) cut q65 2.1→1.28 s, q63 1.8→1.19 s, q20 2.4→1.45 s,
    * q71 1.9→1.40 s. At scale the threshold keeps everything as-is:
    * ≥ 8 MiB inputs (sx25's 15 MB corpus and up) run the session
    * untouched — full width, AQE on, skew handling intact. Width 4 (not
    * 1) keeps per-doc CPU (tokenization ~0.3 ms/doc) parallel enough
    * that the serial tail never dominates. Same isolation contract as
    * [[loopWidthSession]]: a conf-isolated `newSession` clone, shared
    * SparkContext/cache/catalog. */
  def inputSizedSession(spark: SparkSession, bytes: Long): SparkSession = {
    if (bytes >= SmallQueryBytes) spark
    else {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "4")
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      s2
    }
  }

  /** Spread a DEGENERATE scan across the session width before an
    * expensive per-row projection (guide §2.5: one huge unsplittable
    * input file → "repartition immediately after the read"). A
    * single-row-group parquet (or a handful of gzip files) plans as 1-3
    * scan tasks, and every projection Catalyst places in that map stage —
    * whole-row JSON, a double JSON parse — runs serially while the rest
    * of the machine idles (q93's StageProbe: 532 ms of its big job was
    * one task JSON-serializing 100k rows). Round-robin repartition to
    * the session width parallelizes the projection; the no-op condition
    * (input already at least half the session width) makes this
    * SCALE-ADAPTIVE: a 100 TB scan has thousands of splits and never
    * re-shuffles. Only for callers whose downstream result is
    * partition-independent (deterministic chunking's key-derived blocks,
    * aggregations) — never ahead of [[Chunker.chunkScalable]]-style
    * partition-dependent numbering. Rows are unchanged. The spread hashes
    * a DETERMINISTIC derived key (guide §2.5: `pmod(xxhash64(id), k·n)`,
    * with 64× the target partition count so hash collisions spread
    * evenly) — a keyless round-robin `repartition(n)` would pay Spark's
    * sort-before-repartition local sort INSIDE the degenerate scan task,
    * serializing right where this helper is trying to parallelize
    * (measured: round-robin spread made q93 ~0.2 s SLOWER; hash spread
    * is sort-free). */
  def spreadNarrowScan(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val width = math.max(1, scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt).getOrElse(32))
    // Guard to EXCHANGE-FREE inputs before touching .rdd (r19, ADVICE
    // r18): under AQE, `.rdd` on a plan containing exchanges forces
    // getFinalPhysicalPlan, which eagerly RUNS the shuffle stages at
    // plan-build time — work the later real execution does not reuse. An
    // exchange-free (scan/project/filter/generate, no subqueries) plan
    // keeps `.rdd` a pure planning walk, which is all the current callers
    // (raw scans, filtered CDC deltas) ever pass; anything wider no-ops —
    // this helper only exists to spread DEGENERATE scans anyway.
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrowOnly = df.queryExecution.analyzed.collect { case p => p }.forall { p =>
      (p match {
        case _: LeafNode | _: Project | _: Filter | _: Generate | _: SubqueryAlias => true
        case _ => false
      }) && p.expressions.forall(!_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    }
    if (!narrowOnly) return df
    val parts = df.rdd.getNumPartitions // planning only (exchange-free), no job
    if (parts * 2 >= width) df
    else df.repartition(width, org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(key),
      org.apache.spark.sql.functions.lit(width * 64L)))
  }

  /** Session-scoped reliable-checkpoint scratch dir, created on first use
    * and deleted on JVM exit. On a real cluster this conf points at a
    * durable shared filesystem; the engine's behavior is identical. */
  def ensureCheckpointDir(spark: SparkSession): Unit = synchronized {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files
        .createTempDirectory(
          java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft_ckpt_")
        .toFile
      sc.setCheckpointDir(dir.getAbsolutePath)
      sys.addShutdownHook(Cdc.deleteRecursively(dir))
      ()
    }
  }
}
