package graft

import graft.functions.Embeddings
import graft.operators.{Cdc, ParquetWatermarkStore, SimilaritySearch, StoreUpgrade}
import graft.sources.DirSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade — everything the reference's process does, as one
  * object (`app.py` + `controller/controller.py` surface):
  *
  *  - [[initializeIndex]] ↔ `initialize_index()` (`app.py:14`,
  *    `controller/controller.py:9-15`, `service_layer/service.py:82-100`)
  *  - [[runSyncCycle]] ↔ one tick of `run_continuously()`
  *    (`controller/controller.py:17-35`)
  *  - [[runPolling]] ↔ the scheduler loop itself (fixed-delay sleep like
  *    the reference's `time.sleep(300)`; bounded cycles so it's testable)
  *  - [[searchSimilar]] ↔ the latent Pinecone read path the reference
  *    declares but never wires to a route (§3.3: `embed_query` +
  *    cosine index)
  *
  * A user of the reference switches by pointing `sourceDir` at their table
  * drops (or adapting `Tables.jdbc` for a live MySQL) and calling
  * [[runPolling]]; vectors land in the parquet vector sink instead of
  * Pinecone, queryable with [[searchSimilar]].
  */
class Engine(
    val spark: SparkSession,
    sourceDir: String,
    stateDir: String,
    sinkDir: String,
    changeCol: String = "ts",
    chunkSize: Int = 100, // service_layer/service.py:109
    layout: Cdc.SinkLayout = Cdc.DefaultLayout, // applies only when the sink is created
    autoRefreshIvf: Boolean = true) { // bound IVF staleness to one sync cycle

  /** S8: bring every store written by an older build to the current
    * layout ([[StoreUpgrade]]: the sink, the watermark store and the
    * conventional IVF indexes), then create the vector sink if absent.
    * Readers and writers refuse an old layout, naming this call. */
  def initializeIndex(): Unit = {
    StoreUpgrade.run(spark, sinkDir, stateDir, (namespace, dir) =>
      publishIvfVersion(namespace, Some(dir), 16, 3, 1.0, append = false))
    Cdc.initVectorSink(spark, sinkDir, layout)
  }

  /** Serializes this engine's WRITERS — each table's sink commit +
    * watermark publish runs under it, so concurrent tables' upserts
    * read-modify-write the manifest one at a time. READERS never take
    * it: every store (vector-sink manifest, watermark pointer, IVF
    * pointer) publishes by atomic pointer flip and retains the previous
    * version until the next commit's GC, so a read resolved at any
    * instant materializes a consistent committed snapshot without
    * blocking — or being blocked by — a commit (r12 verdict task 2). */
  val commitLock = new Object

  /** One CDC sync tick over every source table. Returns rows synced.
    * When the conventional IVF index exists and the cycle landed rows,
    * the index is refreshed ([[refreshIvfIndex]]: the cycle's new vectors
    * are appended to a linked copy of the live version, which then
    * replaces it by one pointer flip; a full retrain only once appends
    * would reach half the trained base) so the default `/query` route's
    * staleness is bounded by the poll cadence instead of growing forever
    * (set `autoRefreshIvf = false` to manage refreshes manually). */
  def runSyncCycle(): Map[String, Long] = {
    val synced = Cdc.requireSynced(Cdc.syncCycleOutcomesOn(spark, DirSource(sourceDir),
      ParquetWatermarkStore(stateDir), sinkDir, changeCol, chunkSize = chunkSize,
      layout = layout, commitLock = commitLock))
    if (autoRefreshIvf && synced.valuesIterator.sum > 0 && hasIvfIndex()) refreshIvfIndex()
    synced
  }

  /** Consecutive failed cycles since the last success — the health signal
    * an operator (or [[runPolling]]'s own circuit breaker) watches, so a
    * failing loop is never indistinguishable from "no new data". */
  @volatile private var consecutiveFailuresVar = 0
  def consecutiveFailures: Int = consecutiveFailuresVar
  def healthy: Boolean = consecutiveFailuresVar == 0

  /** The polling scheduler (T1): fixed-delay like the reference —
    * sleep AFTER each cycle's work, so drift accumulates identically
    * (`controller/controller.py:35`). `maxCycles` bounds the loop
    * (the reference runs forever; tests and batch backfills shouldn't).
    *
    * Failure policy: a failed cycle is logged and retried next tick
    * (transient source/sink hiccups shouldn't kill a long-running
    * poller), but `maxConsecutiveFailures` failures IN A ROW rethrow the
    * last error — a persistently broken pipeline must crash loudly, not
    * tick forever while the sink quietly stops advancing. [[healthy]] /
    * [[consecutiveFailures]] expose the state between ticks. */
  def runPolling(
      intervalSeconds: Long = 300,
      maxCycles: Int = Int.MaxValue,
      maxConsecutiveFailures: Int = 3): Unit = {
    var i = 0
    while (i < maxCycles) {
      try { runSyncCycle(); consecutiveFailuresVar = 0 }
      catch {
        case e: Exception =>
          consecutiveFailuresVar += 1
          System.err.println(
            s"[engine] cycle failed ($consecutiveFailuresVar consecutive): ${e.getMessage}")
          if (consecutiveFailuresVar >= maxConsecutiveFailures) throw e
      }
      i += 1
      if (i < maxCycles) Thread.sleep(intervalSeconds * 1000)
    }
  }

  /** The made-real read path: embed a text query (F8), cosine top-k over
    * one namespace of the vector sink (`service_layer/service.py:166`).
    *
    * The scan is partition-pruned twice: the namespace filter prunes to
    * that namespace's directories, and — because the sink is sub-partitioned
    * by the embedding's sign-bucket (`Cdc.SimBits`) — the probe's
    * multi-probe bucket list prunes to `nprobe`/2^SimBits of the namespace
    * instead of scanning all of it. That locality pruning is the whole
    * point of a vector index at scale: Pinecone never scans the full
    * namespace per query, and neither does this.
    *
    * The namespace relation and the sink's layout are resolved once per
    * manifest pointer flip, not per call ([[sinkSnapshot]]): a call reads
    * the pointer, stats the manifest it names, and runs one Spark job —
    * the top-k — while the pointer is unchanged. The first call after a
    * commit lists the new snapshot (a Spark job of its own above 32 live
    * bucket directories). No lock is taken (see [[commitLock]]).
    *
    * The default `nprobe = 0` is an EXACT full-namespace scan (recall 1,
    * cost O(namespace)) — approximation is opt-in, not silent. Passing
    * `nprobe > 0` prunes to that many multi-probe sign buckets (recall < 1
    * by LSH construction, rising with nprobe up to 2^SimBits = a full
    * scan); rows with simb = -1 (null or shorter-than-SimBits embeddings)
    * are always included so they never become unreachable. A sink that
    * [[initializeIndex]] never created fails. */
  def searchSimilar(
      query: String,
      k: Int = 10,
      namespace: String = Cdc.DefaultNamespace,
      nprobe: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val probe = Embeddings.embed(query)
    val snap = sinkSnapshot(namespace)
    val pruned =
      if (nprobe <= 0) snap.vectors
      else {
        val buckets = (SimilaritySearch.multiProbeBuckets(probe, snap.layout.simBits, nprobe)
          .map(_.toInt) :+ -1).distinct
        snap.vectors.where(col("simb").isin(buckets: _*))
      }
    SimilaritySearch.topK(pruned, "id", "embedding",
      org.apache.spark.sql.functions.lit(probe).cast("array<float>"), k)
  }

  /** Batch form of [[searchSimilar]]: top-k for EVERY query string in one
    * distributed plan (no driver-side loop over queries). The tiny probe
    * side broadcasts; candidates are restricted to each probe's sign
    * bucket via the bucketed kNN join. Returns (query, rank, id, score).
    * Reads the same per-flip snapshot as [[searchSimilar]]. */
  def searchSimilarBatch(
      queries: Seq[String],
      k: Int = 10,
      namespace: String = Cdc.DefaultNamespace): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val snap = sinkSnapshot(namespace)
    val probes = queries.map(q => (q, Embeddings.embed(q))).toDF("query", "probe_emb")
    SimilaritySearch.knnJoin(snap.vectors, probes, "id", "embedding", "query", "probe_emb",
      k, bits = snap.layout.simBits, broadcastProbes = true)
      .select(col("probe_id").as("query"), col("rank"), col("index_id").as("id"), col("score"))
  }

  private val sinkSnapshots = new Engine.Snapshots[Cdc.ManifestStamp, Engine.SinkSnapshot]

  /** The namespace's sink relation and layout at the live manifest:
    * resolved when the manifest's [[Cdc.ManifestStamp]] differs from the
    * one held, else the held one. Generation roots are immutable and GC
    * keeps the current and previous manifests' roots, so a held relation
    * is exactly as safe as a fresh [[Cdc.readVectorSink]]. Filled only
    * here, on the query path — never by a cycle or a refresh. */
  private def sinkSnapshot(namespace: String): Engine.SinkSnapshot = {
    val stamp = Cdc.manifestStamp(sinkDir).getOrElse(throw new IllegalStateException(
      s"no vector sink at $sinkDir; Engine.initializeIndex() creates it"))
    sinkSnapshots(namespace, stamp)(Engine.SinkSnapshot(
      Cdc.readManifestVersion(spark, sinkDir, stamp.name, Some(namespace)),
      Cdc.readLayout(sinkDir)))
  }

  /** Conventional location for a namespace's persisted IVF index: an
    * underscore-prefixed sibling INSIDE the sink directory, so the index
    * travels with the data it indexes. Spark's file index ignores `_`- and
    * `.`-prefixed paths, so sink reads never see it.
    *
    * The directory is a VERSIONED container (`v000001`, `v000002`, …
    * behind a `current` pointer): [[refreshIvfIndex]] builds the next
    * version beside the live one and flips the pointer atomically, so a
    * rebuild never races an in-flight query (the r12 in-place rebuild had
    * a TOCTOU window between the completeness check and the data read). */
  def ivfIndexDir(namespace: String = Cdc.DefaultNamespace): String =
    s"$sinkDir/_ivf/$namespace"

  /** Directory holding a complete, readable index for the namespace:
    * the pointed version (stale/crashed pointers resolve to None rather
    * than a broken read); None without a pointer. */
  def liveIvfDir(namespace: String = Cdc.DefaultNamespace): Option[String] =
    Some(ivfIndexDir(namespace)).filter(hasIvfPointer)
      .map(Engine.ivfVersion).filter(Engine.completeIvf).map(_.getPath)

  /** True when the container has a `current` pointer; a container in an
    * older layout fails ([[StoreUpgrade.requireVersionedIvf]]). */
  private def hasIvfPointer(container: String): Boolean =
    new java.io.File(container, "current").isFile || {
      StoreUpgrade.requireVersionedIvf(container); false
    }

  /** True when a complete index exists for the namespace. */
  def hasIvfIndex(namespace: String = Cdc.DefaultNamespace): Boolean =
    liveIvfDir(namespace).isDefined

  /** (id, embedding) of the non-null vectors under the given manifest entries. */
  private def sinkVectors(entries: Seq[Cdc.SinkEntry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    Cdc.readEntries(spark, sinkDir, entries)
      .where(col("embedding").isNotNull)
      .select(col("id"), col("embedding"))
  }

  private def namespaceEntries(namespace: String): Seq[Cdc.SinkEntry] =
    Cdc.readManifest(sinkDir).filter(_.namespace == namespace)

  /** Bring the conventional index up to the CURRENT sink snapshot and
    * publish it atomically as the next `vNNNNNN` version — queries keep
    * serving the live version throughout — then flip the `current`
    * pointer, fsync it and the container (as every store's flip here),
    * and GC every version but the new and previous one (an in-flight
    * query one flip behind still materializes its scan).
    *
    * Append-then-flip: the next version is the live version hard-linked
    * (parquet data and centroid files; the `_`-prefixed sidecars, which
    * writers replace or truncate, are copied) plus the namespace's new
    * vectors, routed to the unchanged centroids by
    * [[graft.operators.IvfIndex.append]]'s staging path. New vectors are
    * the sink rows of manifest entries under roots the live version had
    * not indexed (roots are immutable, so older entries are indexed
    * already), anti-joined against the live version's ids — a rewritten
    * bucket's re-emitted ids are never appended twice. The refresh
    * retrains in full instead when there is no live version, or when the
    * append would bring the appended fraction to
    * `IvfIndex.DefaultRebuildFraction` (0.5, the measured recall bar) —
    * which resets it to 0. This is the only way the engine maintains an
    * index; per-cluster staleness is reported, not acted on ([[ivfStatus]],
    * `/ivf/status`).
    *
    * `k`, `iters` and `sampleFraction` apply only when the namespace has
    * no live version; otherwise the live version's `_build.properties`
    * values win. That file also records the indexed root set; the root
    * set and the rows indexed come from one manifest read. */
  def refreshIvfIndex(
      namespace: String = Cdc.DefaultNamespace,
      k: Int = 16,
      iters: Int = 3,
      sampleFraction: Double = 1.0): Unit =
    publishIvfVersion(namespace, liveIvfDir(namespace), k, iters, sampleFraction, append = true)

  /** [[refreshIvfIndex]] from `live`'s build parameters; [[StoreUpgrade]]
    * retrains an old layout with `append = false`. */
  private def publishIvfVersion(namespace: String, live: Option[String],
      k: Int, iters: Int, sampleFraction: Double, append: Boolean): Unit = {
    import graft.operators.IvfIndex
    val container = new java.io.File(ivfIndexDir(namespace))
    container.mkdirs()
    val params = live
      .map(d => new java.io.File(d, "_build.properties")).filter(_.isFile)
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().flatMap(_.split("=", 2) match {
          case Array(a, b) => Some(a.trim -> b.trim); case _ => None
        }).toMap finally src.close()
      }.getOrElse(Map.empty)
    val (kEff, itersEff, sampleEff) = (
      params.get("k").map(_.toInt).getOrElse(k),
      params.get("iters").map(_.toInt).getOrElse(iters),
      params.get("sampleFraction").map(_.toDouble).getOrElse(sampleFraction))
    val versions = Option(container.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d{6}"))
      .sortBy(_.getName)
    val next = new java.io.File(container,
      f"v${versions.lastOption.map(_.getName.stripPrefix("v").toInt).getOrElse(0) + 1}%06d")
    // ONE manifest read: the rows indexed and the roots recorded both come from it
    val entries = namespaceEntries(namespace)
    val appended = append && live.exists { dir =>
      val indexedRoots = params.getOrElse("roots",
        throw StoreUpgrade.outdated(dir, "no roots= line in _build.properties"))
        .split(',').filter(_.nonEmpty).toSet
      Engine.linkTree(new java.io.File(dir, "data"), new java.io.File(next, "data"))
      Engine.linkTree(new java.io.File(dir, "centroids"), new java.io.File(next, "centroids"))
      val fresh = entries.filterNot(e => indexedRoots(e.root))
      fresh.isEmpty || {
        // the sink's id type, declared: no schema-inference job for a
        // version no query has read yet
        val indexed = spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(Cdc.vectorSinkSchema("id"))))
          .parquet(s"$dir/data").select("id")
        val staged = IvfIndex.stageAppend(
          sinkVectors(fresh).join(indexed, Seq("id"), "left_anti"),
          "id", "embedding", next.getPath)
        staged.fractionAfter < IvfIndex.DefaultRebuildFraction && {
          IvfIndex.commitAppend(staged); true
        }
      }
    }
    if (!appended) {
      Cdc.deleteRecursively(next)
      IvfIndex.build(sinkVectors(entries), "id", "embedding", next.getPath,
        kEff, itersEff, sampleEff)
    }
    val pw = new java.io.FileWriter(new java.io.File(next, "_build.properties"))
    try pw.write(s"k=$kEff\niters=$itersEff\nsampleFraction=$sampleEff\n" +
      s"roots=${entries.map(_.root).distinct.sorted.mkString(",")}\n") finally pw.close()
    val prevLive = live.map(p => new java.io.File(p).getName)
    Cdc.publishPointer(new java.io.File(container, "current"), next.getName)
    val keep = Set(next.getName) ++ prevLive
    versions.filterNot(v => keep(v.getName)).foreach(Cdc.deleteRecursively)
  }

  /** Text query against a persisted IVF index: `indexDir` may be a direct
    * [[graft.operators.IvfIndex.build]] output or a versioned container
    * ([[refreshIvfIndex]]). A container's `current` pointer resolves to the
    * live version, whose centroids and data listing are loaded once per
    * pointer flip ([[ivfSnapshot]]); a call then reads the pointer and
    * runs one Spark job. A direct build is loaded per call. Throws
    * `IllegalArgumentException` when no complete index is there. */
  def searchIvf(indexDir: String, query: String, k: Int = 10, nprobe: Int = 2): DataFrame =
    graft.operators.IvfIndex.search(
      ivfSnapshot(indexDir).getOrElse(
        throw new IllegalArgumentException(s"no complete IVF index at $indexDir")),
      Embeddings.embed(query), k, nprobe)

  /** [[searchIvf]] over the namespace's conventional index, or None when
    * it has no complete live version — one pointer read decides both,
    * so the `/query` route needs no separate [[hasIvfIndex]] call. */
  private[graft] def searchLiveIvf(
      query: String, k: Int, namespace: String = Cdc.DefaultNamespace): Option[DataFrame] =
    Some(ivfIndexDir(namespace)).filter(hasIvfPointer).flatMap(ivfSnapshot).map(s =>
      graft.operators.IvfIndex.search(s, Embeddings.embed(query), k, 2))

  private val ivfSnapshots = new Engine.Snapshots[Engine.IvfStamp, graft.operators.IvfIndex.Snapshot]

  /** The live IVF snapshot of `indexDir`. With a `current` pointer, the
    * pointed version's, held until the [[Engine.IvfStamp]] changes — the
    * pointer's content and stat, plus the stat of the version's
    * `centroids` directory, which an in-place `IvfIndex.append` writes
    * into. Without one (a direct build), loaded per call. None when the
    * index is incomplete ([[liveIvfDir]]'s rule).
    * Filled only on the query path. */
  private def ivfSnapshot(indexDir: String): Option[graft.operators.IvfIndex.Snapshot] = {
    val ptr = new java.io.File(indexDir, "current")
    val dir = Engine.ivfVersion(indexDir)
    def load() = graft.operators.IvfIndex.snapshot(
      spark, dir.getPath, Some(Cdc.vectorSinkSchema("id").dataType))
    if (!Engine.completeIvf(dir)) None
    else if (!ptr.isFile) Some(load())
    else Some(ivfSnapshots(indexDir, Engine.IvfStamp(dir.getName, Engine.stat(ptr),
      Engine.stat(new java.io.File(dir, "centroids"))))(load()))
  }

  /** Staleness of the namespace's live IVF index: the appended fraction
    * the refresh retrains at ([[refreshIvfIndex]]) and the per-cluster
    * stale report, for the `/ivf/status` route. Driver-side file reads
    * plus one bounded centroid collect — no data scan. */
  def ivfStatus(namespace: String = Cdc.DefaultNamespace): Engine.IvfStatus =
    liveIvfDir(namespace) match {
      case None => Engine.IvfStatus(exists = false, None, 0, Double.NaN, Seq.empty)
      case Some(dir) =>
        import graft.operators.IvfIndex
        Engine.IvfStatus(exists = true, Some(dir), IvfIndex.centroidEntries(spark, dir).size,
          IvfIndex.appendedFraction(dir), IvfIndex.staleClusters(dir))
    }

  /** `describe_index_stats` analog (`service_layer/service.py:97`). */
  def indexStats(): DataFrame = Cdc.sinkStats(spark, sinkDir)

  /** Current per-table watermarks (the reference's `watermark` table). */
  def watermarks(): DataFrame = Cdc.readWatermarks(spark, stateDir)

}

object Engine {

  /** One namespace's IVF staleness snapshot ([[Engine.ivfStatus]]). */
  final case class IvfStatus(
      exists: Boolean,
      dir: Option[String],
      centroids: Int,
      appendedFraction: Double,
      staleClusters: Seq[graft.operators.IvfIndex.ClusterStaleness])

  /** A namespace's sink relation and the sink's layout at one manifest. */
  private final case class SinkSnapshot(vectors: DataFrame, layout: Cdc.SinkLayout)

  /** A file's modification time and size. */
  private final case class Stat(modified: java.nio.file.attribute.FileTime, size: Long)

  private def stat(f: java.io.File): Stat = {
    val a = java.nio.file.Files.readAttributes(f.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    Stat(a.lastModifiedTime(), a.size())
  }

  /** Identity of a live IVF version: the name `current` holds, the
    * pointer's stat, and the stat of the version's centroid directory. */
  private final case class IvfStamp(version: String, pointer: Stat, centroids: Stat)

  /** The version an IVF index directory serves: the one its `current`
    * pointer names, or the directory itself when it has no pointer (a
    * direct build). */
  private[graft] def ivfVersion(indexDir: String): java.io.File = {
    val ptr = new java.io.File(indexDir, "current")
    if (ptr.isFile) new java.io.File(indexDir, java.nio.file.Files.readString(ptr.toPath).trim)
    else new java.io.File(indexDir)
  }

  /** An IVF index directory whose data and centroids both committed. */
  private[graft] def completeIvf(d: java.io.File): Boolean =
    new java.io.File(d, "data/_SUCCESS").isFile && new java.io.File(d, "centroids/_SUCCESS").isFile

  /** One held value per name (a namespace, or an index directory),
    * replaced when the caller's key for it changes. No size or age bound:
    * the engine holds one entry per namespace and store. Concurrent misses
    * may both load; the last one stored wins, and any reader whose key
    * differs loads again, so a held value is never served for another
    * key. */
  private final class Snapshots[K, V] {
    private val held = new java.util.concurrent.ConcurrentHashMap[String, (K, V)]()
    def apply(name: String, key: K)(load: => V): V =
      Option(held.get(name)) match {
        case Some((k, v)) if k == key => v
        case _ =>
          val v = load
          held.put(name, (key, v))
          v
      }
  }

  /** Mirror `from` into `to`: hard links for immutable files (parquet
    * parts and their checksums), copies for `_`-prefixed ones (`_SUCCESS`,
    * count sidecars, and their checksums), which writers truncate or
    * replace — a link would let that reach the source version. */
  private[graft] def linkTree(from: java.io.File, to: java.io.File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).toSeq.flatten.foreach { f =>
      val t = new java.io.File(to, f.getName)
      if (f.isDirectory) linkTree(f, t)
      else if (f.getName.stripPrefix(".").startsWith("_")) java.nio.file.Files.copy(f.toPath, t.toPath)
      else java.nio.file.Files.createLink(t.toPath, f.toPath)
    }
  }
}
