package graft.operators

import graft.functions.Embeddings
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** The CDC sync cycle — the reference's main "query" (§3.2), rebuilt as a
  * Spark batch/incremental pipeline:
  *
  *   catalog scan → per-table watermark lookup (S6) → strict-`>` delta
  *   (S5/P3, `service_layer/service.py:52-54`) → empty-delta skip (P6,
  *   `:65`/`:76-77`/`:105-107`) → row→JSON (F1) → chunk (A2) → embed (F7)
  *   → idempotent vector upsert (S9) → watermark commit (S7/A1,
  *   `:73-74`).
  *
  * Semantics preserved from the reference:
  *  - strict `>` watermark filter — ties at the stored watermark are
  *    skipped (T2; `configurableLateness` below is the documented fix).
  *  - watermark commit AFTER the sink write → at-least-once (T3); the
  *    engine's content-hash ids turn at-least-once into effective
  *    exactly-once (re-emitted chunks overwrite themselves).
  *  - the `watermark` state table is excluded from sync
  *    (`controller/controller.py:23-24`).
  *
  * Scale: state (watermark) is tiny and driver-mergeable; the data path is
  * fully distributed; the vector sink upsert is a hash anti-join on `id`
  * (in production, a Delta/Iceberg MERGE — here parquet read-modify-write
  * with the same last-writer-wins contract as Pinecone upsert,
  * `service_layer/service.py:160-166`).
  */
object Cdc {

  val WatermarkTable = "watermark" // controller/controller.py:23-24

  /** Tolerant timestamp extraction from a collected Row value. Spark hands
    * back `java.sql.Timestamp` for TIMESTAMP but `java.time.LocalDateTime`
    * for TIMESTAMP_NTZ (and `Instant` under
    * `spark.sql.datetime.java8API.enabled`). [[Tables.normalizeTimestamps]]
    * already casts NTZ away at the source choke point; this is
    * defense-in-depth for callers that hand the engine their own frames.
    * The LocalDateTime→instant conversion uses the ACTIVE SESSION's
    * `spark.sql.session.timeZone` (the zone Spark itself used to render
    * the NTZ value), not a hardcoded UTC — every engine entry point pins
    * UTC, but a caller embedding the library under a different session
    * zone gets correct watermarks instead of silently shifted ones. */
  def asTimestamp(v: Any): Timestamp = v match {
    case null => null
    case t: Timestamp => t
    case ldt: java.time.LocalDateTime => Timestamp.from(ldt.atZone(sessionZone).toInstant)
    case i: java.time.Instant => Timestamp.from(i)
    case other =>
      throw new IllegalArgumentException(s"not a timestamp value: $other (${other.getClass.getName})")
  }

  /** The active session's SQL timezone (getActiveSession is THREAD-local —
    * fall back to the JVM-wide default session before assuming UTC; the
    * engine's own entry points always pin UTC anyway). */
  private def sessionZone: java.time.ZoneId =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(s => java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone", "UTC")))
      .getOrElse(java.time.ZoneOffset.UTC)
  val watermarkSchema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("last_updated", TimestampType, nullable = true)))

  /** Pinecone upserts into `namespace='task1'` (service_layer/service.py:166). */
  val DefaultNamespace = "task1"

  /** Physical id-buckets per namespace: the sink directory is partitioned
    * by (namespace, bucket) so an upsert rewrites only the buckets its ids
    * hash into, not the whole sink. 64 by default; thousands at 100 TB
    * (bucket count bounds rewrite granularity AND per-bucket file size). */
  val SinkBuckets = 64

  /** Similarity-locality sub-partition: sign-bucket LSH bits over the
    * embedding (VectorOps.signBucket). `bucket` optimizes WRITES (an upsert
    * prunes to the id-buckets it touches); `simb` optimizes READS — a
    * similarity query computes its probe's bucket(s) and partition-prunes
    * the scan to 2^-SimBits of each namespace instead of scanning all of it
    * (the Pinecone read path, service_layer/service.py:91). 4 bits → a
    * 16-way read fan-out; production tunes bits to data volume. */
  val SimBits = 4

  /** Physical layout of a vector sink. (buckets × 2^simBits) is the
    * directory fan-out per namespace: too coarse and every upsert rewrites
    * a large bucket; too fine and a small corpus fragments into one-row
    * parquet files whose open/footer overhead dominates every read AND
    * write. The layout is chosen at sink creation, PERSISTED next to the
    * data (a sink's layout is a property of the sink, not of whoever opens
    * it), and honored by every subsequent upsert/search. */
  final case class SinkLayout(buckets: Int, simBits: Int) {
    require(buckets > 0 && simBits >= 0 && simBits <= 30, s"bad sink layout: $this")
  }
  val DefaultLayout: SinkLayout = SinkLayout(SinkBuckets, SimBits)

  private def layoutFile(sinkDir: String) = new java.io.File(s"$sinkDir/vectors_layout.properties")

  /** The sink's persisted layout. Every writer that creates a sink
    * persists one; a sink without the file is in an older layout. */
  def readLayout(sinkDir: String): SinkLayout = {
    val f = layoutFile(sinkDir)
    if (!f.exists()) throw StoreUpgrade.outdated(sinkDir, s"no ${f.getName}")
    val src = scala.io.Source.fromFile(f)
    try {
      val kv = src.getLines().flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
      }.toMap
      SinkLayout(kv("buckets").toInt, kv("simbits").toInt)
    } finally src.close()
  }

  /** Persist `layout` unless the sink has a layout file: written beside
    * and renamed over, so a concurrent reader sees no file or a whole one. */
  private[operators] def ensureLayout(sinkDir: String, layout: SinkLayout): Unit =
    if (!layoutFile(sinkDir).exists()) {
      val tmp = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(sinkDir), ".vectors_layout", ".tmp")
      java.nio.file.Files.writeString(tmp, s"buckets=${layout.buckets}\nsimbits=${layout.simBits}\n")
      java.nio.file.Files.move(tmp, layoutFile(sinkDir).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }

  /** namespace + bucket + simb are Hive-style partition columns on disk. */
  val vectorSinkSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("namespace", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("simb", IntegerType, nullable = false)))

  /** Deterministic id → bucket assignment (portable hash — reproducible by
    * any engine reading the layout). */
  def bucketOf(id: org.apache.spark.sql.Column, buckets: Int = SinkBuckets): org.apache.spark.sql.Column =
    pmod(graft.functions.PortableHash.hash32(id), lit(buckets)).cast("int")

  /** Embedding → similarity-locality bucket; -1 catches null/short vectors
    * so the partition column honors its non-nullable contract. */
  def simBucketOf(embedding: org.apache.spark.sql.Column, simBits: Int = SimBits): org.apache.spark.sql.Column =
    if (simBits == 0) lit(0).cast("int")
    else when(embedding.isNull || size(embedding) < simBits, lit(-1))
      .otherwise(graft.functions.VectorOps.signBucket(embedding, simBits))
      .cast("int")

  // --- watermark state store (S6/S7) --------------------------------------
  //
  // One row per CDC table in ONE versioned parquet store, read and
  // rewritten entirely on the driver — zero Spark jobs. The reference's S7
  // is one O(1) UPSERT per table (`service_layer/service.py:38-42`); the
  // analog here is a driver-local parquet RMW ([[ParquetWatermarkStore]]):
  // read the live version's footers with parquet-mr (the same library
  // Spark's scans use), merge max into a Map, write ONE parquet file into
  // the next version dir, flip the pointer ([[atomicOverwriteWith]]).
  // [[readWatermarks]] serves the store to Spark consumers, and any engine
  // (DuckDB included) still reads the files.

  /** The store as a DataFrame, built from the driver-side map (T tiny
    * rows) rather than a lazy parquet scan: the frame is one snapshot
    * that a later commit's version GC cannot delete from under it. */
  def readWatermarks(spark: SparkSession, stateDir: String): DataFrame = {
    val rows = readWatermarkMap(stateDir).toSeq.sortBy(_._1)
      .map { case (t, ts) => org.apache.spark.sql.Row(t, ts) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4))),
      watermarkSchema)
  }

  /** Driver-side read of the whole store: T rows via parquet-mr footers —
    * no Spark job, no session needed. */
  def readWatermarkMap(stateDir: String): Map[String, Timestamp] =
    readStoreMap(watermarkStorePath(stateDir))

  /** The store's path under `stateDir`. A store in the older hash-sharded
    * layout fails ([[StoreUpgrade.requireUnshardedWatermarks]]). */
  private[operators] def watermarkStorePath(stateDir: String): String = {
    StoreUpgrade.requireUnshardedWatermarks(stateDir)
    s"$stateDir/$WatermarkTable"
  }

  /** The store's live rows. */
  private[operators] def readStoreMap(storePath: String): Map[String, Timestamp] =
    liveVersionDir(storePath) match {
      case None => Map.empty
      case Some(dir) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val out = scala.collection.mutable.Map[String, Timestamp]()
        watermarkFiles(dir).foreach { f =>
          val reader = org.apache.parquet.hadoop.ParquetReader
            .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
              new org.apache.hadoop.fs.Path(f.getPath))
            .withConf(conf)
            .build()
          try {
            var g = reader.read()
            if (g != null && !currentTimestamp(g.getType))
              throw StoreUpgrade.outdated(f.getPath, "watermark timestamps that are not INT64 µs")
            while (g != null) {
              if (g.getFieldRepetitionCount("last_updated") > 0)
                out(g.getString("table_name", 0)) = microsToTimestamp(g.getLong("last_updated", 0))
              g = reader.read()
            }
          } finally reader.close()
        }
        out.toMap
    }

  /** The parquet data files of one store version directory. */
  private[operators] def watermarkFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** True when the file's `last_updated` has the type this store's writer
    * gives it (INT64 µs) — one footer read. */
  private[operators] def currentWatermarkFile(f: java.io.File): Boolean = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration()))
    try currentTimestamp(reader.getFooter.getFileMetaData.getSchema) finally reader.close()
  }

  private def currentTimestamp(schema: org.apache.parquet.schema.GroupType): Boolean =
    schema.getType("last_updated") ==
      (watermarkMessageType: org.apache.parquet.schema.GroupType).getType("last_updated")

  /** Serializes the store's RMW per store (r15, ADVICE r14): the
    * batch cycle already serializes commits under its commitLock, but
    * STREAMING tables commit from each query's own foreachBatch thread
    * (CdcStream.pipeline) — two unlocked concurrent RMWs could both read
    * version N and race to publish v{N+1}, the losing table's update
    * silently dropped by the last pointer flip. The lock is driver-local
    * and cheap to hold: no Spark job runs under it since the r14
    * driver-side RMW (~35 ms/commit at a 1,000-table store). Keyed by the
    * store's absolute path so unrelated stores never serialize;
    * single-JVM scope matches the store's standing single-writer(-process)
    * contract. */
  private val storeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[operators] def storeLock(storePath: String): Object =
    storeLocks.computeIfAbsent(
      new java.io.File(storePath).getAbsolutePath, _ => new Object)

  /** The store's parquet schema as written by the driver-local writer:
    * identical logical shape to what `df.write.parquet` produced before
    * r14 (UTF8 string + UTC-adjusted µs timestamp), so every reader —
    * Spark, DuckDB, this file's own reader — is unaffected. */
  private val watermarkMessageType: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema._
    Types.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named("table_name")
      .optional(PrimitiveType.PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      .named("last_updated")
      .named("watermark")
  }

  /** Write the whole (tiny) store as one parquet file in `vdir` —
    * driver-local, no Spark job. Rows are sorted by key for deterministic
    * bytes (same input → same file). */
  private[operators] def writeWatermarkFile(vdir: java.io.File, rows: Map[String, Timestamp]): Unit = {
    vdir.mkdirs()
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(new java.io.File(vdir, "part-00000.parquet").getPath), conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out)
      .withType(watermarkMessageType)
      .withConf(conf)
      .build()
    try rows.toSeq.sortBy(_._1).foreach { case (t, ts) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(watermarkMessageType)
      g.add("table_name", t)
      g.add("last_updated", timestampMicros(ts))
      writer.write(g)
    } finally writer.close()
  }

  private def microsToTimestamp(micros: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    ts
  }

  /** Micros-precision instant of a Timestamp (TimestampType's own
    * precision — sub-µs nanos truncate, exactly as Spark's writer did). */
  private def timestampMicros(ts: Timestamp): Long = {
    val millisFloor = ts.getTime - ts.getNanos / 1000000L // whole seconds, in ms
    millisFloor * 1000L + ts.getNanos / 1000L
  }

  // --- delta extraction (S5/P3) -------------------------------------------

  /** Strict-`>` incremental scan (`service_layer/service.py:52-54`). The
    * predicate is a plain Catalyst filter → pushed to parquet row-group
    * stats / JDBC WHERE automatically. */
  def deltaScan(df: DataFrame, changeCol: String, watermark: Option[Timestamp]): DataFrame =
    watermark match {
      case Some(wm) => df.where(col(changeCol) > lit(wm))
      case None => df // first sync: full scan (service_layer/service.py:55-57)
    }

  /** The delta a sync cycle actually SINKS: the closed-open-free interval
    * (watermark, upTo] — [[deltaScan]] clamped above to the cycle's
    * measured max. The upper clamp makes the sunk set identical to what
    * the watermark commit covers even when the scan is re-run against a
    * source that gained rows in between (fresh file listing on a cloned
    * session, crash-retry, speculative re-execution): a row with
    * changeCol > upTo is NEVER sunk this cycle, only picked up — once —
    * by the next one. Both bounds are plain Catalyst filters → pushed to
    * parquet row-group stats / JDBC WHERE. */
  def boundedDeltaScan(
      df: DataFrame, changeCol: String,
      watermark: Option[Timestamp], upTo: Timestamp): DataFrame =
    deltaScan(df, changeCol, watermark).where(col(changeCol) <= lit(upTo))

  /** T2 documented fix: configurable lateness — `>=` re-read with
    * downstream dedup-by-id absorbing the re-emitted rows. */
  def deltaScanWithLateness(
      df: DataFrame, changeCol: String, watermark: Option[Timestamp], latenessSeconds: Long): DataFrame =
    watermark match {
      case Some(wm) =>
        val adjusted = new Timestamp(wm.getTime - latenessSeconds * 1000)
        df.where(col(changeCol) >= lit(adjusted))
      case None => df
    }

  // --- vector sink (S8/S9) ------------------------------------------------
  //
  // MVCC layout (r13): the sink is a set of IMMUTABLE generation roots
  // (`vectors_gNNNNNN`; an adopted sink's first root is `vectors`),
  // each holding (namespace, bucket, simb)-partitioned parquet for the
  // buckets written in that generation, behind a MANIFEST that maps every
  // live (namespace, bucket) to the root holding its current content.
  // The manifest is an immutable numbered file published by one atomic
  // pointer rename — the same Delta/Iceberg-style commit the watermark
  // store uses ([[atomicOverwrite]]), at (namespace, bucket) granularity.
  //
  // Why not the pre-r13 in-place bucket swap (stage → rename live aside →
  // rename staged in): renames invalidate every path a concurrent reader
  // resolved, so reads had to serialize with commits on Engine.commitLock
  // — a slow similarity scan blocked every table's commit for its whole
  // duration (r12 verdict, wrong #2). Here NOTHING under a published root
  // is ever renamed or rewritten; a commit writes a fresh root and flips
  // the pointer. Readers resolve the manifest once and are immune to any
  // concurrent commit; GC retains every root/bucket referenced by the
  // CURRENT and PREVIOUS manifests, so a reader at most one commit behind
  // still materializes its scan (the watermark store's exact contract).
  // Crash safety falls out: the pointer always names a complete manifest,
  // a crash mid-write leaves an orphan root the next commit's GC sweeps,
  // and there is NO mid-swap state and NO roll-forward recovery at all.
  // On an object store the renameless data path is the only one that
  // works (S3 has no rename); the pointer flip maps to a conditional put.

  /** One live (namespace, bucket) → generation-root mapping. */
  private[graft] final case class SinkEntry(root: String, namespace: String, bucket: Int)

  /** Union width bound: a commit that would leave more than this many
    * live generation roots folds the OLDEST roots' buckets into its own
    * write (incremental compaction). Bounds the per-read plan width and
    * the file count at ≤ MaxLiveRoots × touched-buckets regardless of
    * commit count; the fold is amortized — each cycle compacts at most
    * the excess, never the whole sink. */
  private[graft] val MaxLiveRoots = 12

  private[operators] def manifestPointer(sinkDir: String) = new java.io.File(s"$sinkDir/vectors_manifest.current")
  private val ManifestPrefix = "vectors_manifest_v"

  private def manifestVersionFiles(sinkDir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(sinkDir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith(ManifestPrefix) && !f.getName.endsWith(".tmp"))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix(ManifestPrefix).toLong).toOption.map(_ -> f))
      .sortBy(_._1)

  /** The pointed manifest file's name; None when the sink does not exist.
    * A sink in an older layout fails ([[StoreUpgrade.requireManifest]]). */
  private def pointedManifest(sinkDir: String): Option[String] = {
    val ptr = manifestPointer(sinkDir)
    if (ptr.exists()) Some(java.nio.file.Files.readString(ptr.toPath).trim)
    else { StoreUpgrade.requireManifest(sinkDir); None }
  }

  /** The pointed manifest's entries; empty when the sink does not exist. */
  private[graft] def readManifest(sinkDir: String): Seq[SinkEntry] =
    pointedManifest(sinkDir).fold(Seq.empty[SinkEntry])(manifestEntries(sinkDir, _))

  /** The entries of one published manifest file (immutable once named). */
  private def manifestEntries(sinkDir: String, name: String): Seq[SinkEntry] = {
    val src = scala.io.Source.fromFile(new java.io.File(sinkDir, name))
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toVector.map { l =>
      val Array(root, ns, b) = l.split("\t", 3)
      SinkEntry(root, ns, b.toInt)
    } finally src.close()
  }

  /** Identity of the live snapshot: the pointed manifest's name plus that
    * file's mtime and size. The name alone changes at every commit; the
    * stat tells apart two sinks that reuse a name (a sink deleted and
    * rebuilt, or restored from a copy and committed again). */
  private[graft] final case class ManifestStamp(
      name: String, modified: java.nio.file.attribute.FileTime, size: Long)

  /** The live manifest's [[ManifestStamp]]: one pointer read and one stat,
    * no Spark work; None for an absent sink. */
  private[graft] def manifestStamp(sinkDir: String): Option[ManifestStamp] =
    pointedManifest(sinkDir).map { name =>
      val attrs = java.nio.file.Files.readAttributes(new java.io.File(sinkDir, name).toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      ManifestStamp(name, attrs.lastModifiedTime(), attrs.size())
    }

  /** Publish `entries` as the new live manifest: write an immutable
    * numbered file, then one atomic pointer rename. Crash before the
    * rename leaves an orphan file (swept here on the next publish — an
    * orphan must never be mistaken for the previous LIVE manifest by the
    * GC's one-behind retention); crash after leaves the new manifest
    * live. Single writer at a time (the sink's standing contract). */
  private[operators] def publishManifest(sinkDir: String, entries: Seq[SinkEntry]): Unit = {
    val versions = manifestVersionFiles(sinkDir)
    val pointed: Option[Long] = {
      val ptr = manifestPointer(sinkDir)
      if (!ptr.exists()) None
      else scala.util.Try(java.nio.file.Files.readString(ptr.toPath).trim
        .stripPrefix(ManifestPrefix).toLong).toOption
    }
    // sweep never-pointed orphans from crashed publishes
    versions.filter { case (v, _) => pointed.exists(v > _) }.foreach(_._2.delete())
    val next = math.max(versions.map(_._1).foldLeft(0L)(math.max), pointed.getOrElse(0L)) + 1
    val file = new java.io.File(sinkDir, f"$ManifestPrefix$next%06d")
    val tmp = new java.io.File(sinkDir, file.getName + ".tmp")
    val w = new java.io.FileWriter(tmp)
    try {
      w.write("#graft-vector-manifest v1\n")
      entries.sortBy(e => (e.root, e.namespace, e.bucket))
        .foreach(e => w.write(s"${e.root}\t${e.namespace}\t${e.bucket}\n"))
    } finally w.close()
    if (!tmp.renameTo(file))
      throw new java.io.IOException(s"cannot publish sink manifest $file")
    publishPointer(manifestPointer(sinkDir), file.getName)
  }

  /** Create an absent sink (no-op once created): persist `layout` unless a
    * layout file exists, and publish an empty manifest. Write-path entry
    * point only — readers never mutate. */
  private def ensureManifest(sinkDir: String, layout: SinkLayout = DefaultLayout): Unit =
    if (!manifestPointer(sinkDir).exists()) {
      StoreUpgrade.requireManifest(sinkDir)
      new java.io.File(sinkDir).mkdirs()
      ensureLayout(sinkDir, layout)
      publishManifest(sinkDir, Seq.empty)
    }

  /** The (namespace, bucket) partition dirs physically present under one
    * generation root. */
  private[operators] def scanRootEntries(sinkDir: String, root: String): Seq[SinkEntry] = {
    val rootDir = new java.io.File(sinkDir, root)
    for {
      ns <- Option(rootDir.listFiles()).toSeq.flatten.toSeq
      if ns.isDirectory && ns.getName.startsWith("namespace=")
      b <- Option(ns.listFiles()).toSeq.flatten
      if b.isDirectory && b.getName.startsWith("bucket=")
    } yield SinkEntry(root, ns.getName.stripPrefix("namespace="),
      b.getName.stripPrefix("bucket=").toInt)
  }

  private def emptySink(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vectorSinkSchema)

  /** Scan of the given manifest entries: one pruned parquet read per
    * generation root (basePath recovers the namespace/bucket/simb
    * partition columns), unioned. The listing touches ONLY the named
    * bucket directories — manifest-driven driver-side pruning, the same
    * file-skipping a table format's metadata gives — and the union width
    * is bounded by [[MaxLiveRoots]]. With [[readManifest]], a caller can
    * scan exactly the entries it resolved and know which generation roots
    * that scan covered (the IVF refresh records them to narrow its next
    * read to newer roots). */
  private[graft] def readEntries(spark: SparkSession, sinkDir: String, entries: Seq[SinkEntry]): DataFrame =
    if (entries.isEmpty) emptySink(spark)
    else entries.groupBy(_.root).toSeq.sortBy(_._1).map { case (root, es) =>
      spark.read
        .option("basePath", s"$sinkDir/$root")
        .schema(vectorSinkSchema)
        .parquet(es.map(e => s"$sinkDir/$root/namespace=${e.namespace}/bucket=${e.bucket}")
          .sorted: _*)
    }.reduce(_.unionByName(_))

  /** S8: create-if-absent (`service_layer/service.py:82-100`): persist the
    * layout choice and publish an empty manifest. An existing sink keeps
    * its original layout — `layout` only applies to a fresh sink. */
  def initVectorSink(spark: SparkSession, sinkDir: String, layout: SinkLayout = DefaultLayout): Unit =
    ensureManifest(sinkDir, layout)

  /** Snapshot read of the live sink. Resolves the manifest pointer and
    * the file listing eagerly at DataFrame creation, so the returned
    * relation is a consistent COMMITTED snapshot that a concurrent
    * commit can neither tear nor invalidate (GC keeps the previous
    * manifest's roots — one-behind retention, as the watermark store).
    * Readers take NO lock. `namespace` prunes manifest entries
    * driver-side before any listing happens — at scale, a one-namespace
    * query never lists the other namespaces' directories.
    *
    * Every call resolves afresh: one pointer read, one manifest read and
    * one listing, which is a Spark job of its own once the namespace's
    * live entries pass Spark's 32-path parallel-listing threshold. The
    * engine's query path (`Engine.searchSimilar`) therefore keeps the
    * relation this returns per namespace and resolves it again only
    * when the pointer flips ([[manifestStamp]] changes); a derived plan
    * reuses the file index built here, so a held relation gives the same
    * one-behind guarantee as a fresh one. An absent sink reads empty. */
  def readVectorSink(
      spark: SparkSession,
      sinkDir: String,
      namespace: Option[String] = None): DataFrame =
    pointedManifest(sinkDir).fold(emptySink(spark))(readManifestVersion(spark, sinkDir, _, namespace))

  /** [[readVectorSink]] of one published manifest file, named by a
    * [[ManifestStamp]] taken earlier: the relation is that stamp's
    * snapshot even when the pointer has flipped since. */
  private[graft] def readManifestVersion(
      spark: SparkSession, sinkDir: String, name: String, namespace: Option[String]): DataFrame = {
    val entries = manifestEntries(sinkDir, name)
    readEntries(spark, sinkDir, namespace.fold(entries)(ns => entries.filter(_.namespace == ns)))
  }

  /** S9: idempotent key-based upsert, Pinecone semantics ("same id
    * overwrites", `service_layer/service.py:160-166`; namespace isolation,
    * `:166`): new batch wins on id collision via anti-join of the old
    * rows, then union.
    *
    * Scale shape: only the buckets the incoming ids hash into are read
    * (manifest-pruned listing) and only those buckets are rewritten —
    * the rest of the sink is untouched bytes under its existing roots.
    * A 300 s poll that touches 1% of buckets rewrites 1% of the sink, not
    * 100%. Whole buckets rather than per-simb dynamic overwrite: a
    * re-upserted id whose embedding changed may move to a different
    * `simb` sub-partition, and dynamic overwrite would leave the old
    * (bucket, simb) file behind if no new row lands there.
    *
    * Commit protocol (MVCC, see the section comment): the merged buckets
    * are written to a FRESH generation root while every published root
    * stays untouched, then the manifest flips in one atomic pointer
    * rename. A crash at any point leaves the pointed manifest — and
    * therefore the visible sink — exactly as it was (an orphan root is
    * swept by a later commit's GC); there is no roll-forward and no
    * mid-swap state for a reader to observe. When the live-root count
    * would exceed [[MaxLiveRoots]], the oldest roots' buckets ride along
    * in this write (incremental compaction). `onBeforeCommit` is the
    * crash-injection test hook, called after the data write and before
    * the pointer flip. Single writer at a time, as any parquet sink
    * without external commit coordination. */
  def upsertVectors(
      spark: SparkSession,
      sinkDir: String,
      batch: DataFrame,
      namespace: String = DefaultNamespace,
      onBeforeCommit: () => Unit = () => ()): Unit =
    stageUpsert(spark, sinkDir, batch, namespace)
      .foreach(commitStagedUpsert(spark, sinkDir, _, onBeforeCommit))

  /** A prepared upsert batch: the deduped, bucket/simb-annotated rows
    * persisted to a scratch parquet dir UNDER the sink root (invisible to
    * readers — reads are manifest-driven, and the root listings match
    * only `vectors` and `vectors_g*`, never its `stage_` name). */
  final case class StagedUpsert private[operators] (
      stageDir: String, namespace: String, buckets: Seq[Int])

  /** Phase 1 of the upsert (the expensive half, safe OUTSIDE any writer
    * lock): dedup + bucket the batch and persist it beside the sink.
    * Returns None for an effectively-empty batch (nothing to commit).
    *
    * File staging, not `.cache()`, on purpose: a batch row carries a
    * multi-KB text plus a 384-float vector, and building 10k-row columnar
    * cache batches out of those allocates hundreds of MB per column
    * builder with doubling growth — at 125k chunks/cycle the JVM spent
    * more wall-clock in GC than in compute (BASELINE.md r13 measurement).
    * A staged file scans as many times as needed with column PRUNING
    * (the bucket list reads one int column, the anti-join one string) and
    * constant memory — the only shape that survives executors whose
    * memory does not scale with the batch. */
  def stageUpsert(
      spark: SparkSession,
      sinkDir: String,
      batch: DataFrame,
      namespace: String = DefaultNamespace): Option[StagedUpsert] = {
    ensureManifest(sinkDir)
    // null ids are dropped: a null would land in a default partition the
    // bucket pruning could never overwrite consistently.
    val layout = readLayout(sinkDir)
    val stageDir = s"$sinkDir/stage_${java.util.UUID.randomUUID().toString.take(8)}"
    // ONE exchange does both the dedup and the sink layout: rows are
    // shuffled straight to their output partition and deduped THERE.
    // Correct because the partition key is id-determined — bucket is a
    // hash of id, and the engine's ids are content hashes (equal id ⇒
    // equal text ⇒ equal embedding ⇒ equal simb) — so batch duplicates
    // can never straddle partitions. CONTRACT: a caller-built batch
    // carrying the same id with DIFFERENT content in one call is
    // undefined (as in the reference sink's API); across calls, ids
    // overwrite as ever. The staging is written pre-partitioned in the
    // generation-root layout, which is what makes the commit's
    // empty-overlap rename fast path possible.
    //
    // The dedup is a row_number window over (namespace, bucket, simb, id):
    // the incoming HashPartitioning on (namespace, bucket, simb) — a
    // SUBSET of the window keys — already satisfies its clustered
    // distribution, so this plans as a partition-local external SORT with
    // NO second exchange (and no whole-partition hash map of multi-KB
    // rows, which is what a partial-aggregate dedup would build).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("namespace"), col("bucket"), col("simb"), col("id"))
      .orderBy(col("id"))
    batch.select("id", "embedding", "source", "text")
      .where(col("id").isNotNull)
      .withColumn("namespace", lit(namespace))
      .withColumn("bucket", bucketOf(col("id"), layout.buckets))
      .withColumn("simb", simBucketOf(col("embedding"), layout.simBits))
      .repartition(col("namespace"), col("bucket"), col("simb"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
      .write.partitionBy("namespace", "bucket", "simb").parquet(stageDir)
    // the touched-bucket list is ≤ SinkBuckets values — driver-size, and
    // the partitioned staging exposes it as directory names: a listing,
    // not a scan
    val buckets = Option(new java.io.File(stageDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("namespace="))
      .flatMap(ns => Option(ns.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt).distinct.sorted
    if (buckets.isEmpty) { deleteRecursively(new java.io.File(stageDir)); None }
    else Some(StagedUpsert(stageDir, namespace, buckets))
  }

  /** Phase 2 (the read-modify-write commit — serialize with other WRITERS;
    * readers are snapshot-isolated and take no lock): merge the staged
    * rows into a fresh generation root and flip the manifest pointer.
    * Deletes the staging on the way out, success or not. */
  def commitStagedUpsert(
      spark: SparkSession,
      sinkDir: String,
      staged: StagedUpsert,
      onBeforeCommit: () => Unit = () => ()): Unit = {
    val namespace = staged.namespace
    // same declared schema as readEntries: partition columns come back
    // typed by the schema, never by directory-name inference
    val newRows = spark.read
      .option("basePath", staged.stageDir)
      .schema(vectorSinkSchema)
      .parquet(staged.stageDir)
    val buckets = staged.buckets
    try {
        val manifest = readManifest(sinkDir)
        val touched: Set[(String, Int)] = buckets.map(b => (namespace, b)).toSet
        // incremental compaction: fold the oldest roots in whole if this
        // commit would otherwise leave more than MaxLiveRoots roots live
        def genOf(root: String): Long =
          if (root == "vectors") 1L
          else scala.util.Try(root.stripPrefix("vectors_g").toLong).toOption.getOrElse(1L)
        val survivorRoots = manifest
          .filterNot(e => touched((e.namespace, e.bucket))).map(_.root).distinct
        val compactKeys: Set[(String, Int)] =
          if (survivorRoots.size + 1 > MaxLiveRoots) {
            val fold = survivorRoots.sortBy(genOf)
              .take(survivorRoots.size + 1 - MaxLiveRoots).toSet
            manifest.filter(e => fold(e.root)).map(e => (e.namespace, e.bucket)).toSet -- touched
          } else Set.empty
        val rewriteKeys = touched ++ compactKeys
        val overlapping = manifest.filter(e => rewriteKeys((e.namespace, e.bucket)))
        if (overlapping.isEmpty) {
          // Fast path — the staged batch touches no published bucket (a
          // fresh sink, a first sync, or any append-dominant workload —
          // the common bulk-load shape at scale): there is nothing to
          // merge, and the staging is ALREADY in generation-root layout,
          // so the "write" is one directory rename. No scan, no shuffle,
          // no second copy of the batch on disk. Decided from the
          // MANIFEST, not a Spark job: no overlapping entries means the
          // merge's kept side has no input files, so it is empty by
          // construction.
          val genRoot = nextGenRoot(sinkDir)
          val ok = new java.io.File(staged.stageDir)
            .renameTo(new java.io.File(s"$sinkDir/$genRoot"))
          if (!ok) throw new java.io.IOException(
            s"rename ${staged.stageDir} -> $sinkDir/$genRoot failed")
          onBeforeCommit() // test hook: crash here must leave the old snapshot
          publishManifest(sinkDir, manifest ++ scanRootEntries(sinkDir, genRoot))
          gcSink(sinkDir)
          return
        }
        val existing = readEntries(spark, sinkDir, overlapping)
        // compacted rows from OTHER namespaces ride along verbatim: the
        // id anti-join overwrite applies only inside this namespace.
        // The anti-join side reads ONE pruned column from the staging
        // (id); the kept side must read full rows — they are REWRITTEN
        // (copy-on-write is the design: reads stay merge-free).
        val kept = existing.join(
          newRows.select(col("id").as("_new_id")),
          existing("id") === col("_new_id") && existing("namespace") === lit(namespace),
          "left_anti")
        val genRoot = nextGenRoot(sinkDir)
        // Only the KEPT side is written by Spark; the staged batch is
        // already in generation-root layout (stageUpsert pre-partitions
        // it), so its files MOVE into the new root afterwards — never
        // re-shuffled, never rewritten (r14; pre-r14 the merge unioned
        // the batch through the repartition+write, paying a second
        // full-width shuffle AND a second on-disk copy of every new row —
        // half the merge's write amplification for append-heavy deltas).
        // The repartition co-locates each output directory's rows in one
        // task: without it, every one of the N shuffle tasks opens a file
        // in every (bucket, simb) dir it holds a row for — tiny-file
        // explosion at small batch sizes, and the wrong file granularity
        // at large ones.
        kept
          .repartition(col("namespace"), col("bucket"), col("simb"))
          .write
          .mode(SaveMode.Overwrite)
          .partitionBy("namespace", "bucket", "simb")
          .parquet(s"$sinkDir/$genRoot")
        moveStagedFiles(staged.stageDir, s"$sinkDir/$genRoot")
        onBeforeCommit() // test hook: crash here must leave the old snapshot
        // rewritten keys point at the new root — by PHYSICAL walk, not by
        // intent: a key whose merge produced zero rows writes no dir and
        // must drop out of the manifest, never dangle
        val newEntries = manifest.filterNot(e => rewriteKeys((e.namespace, e.bucket))) ++
          scanRootEntries(sinkDir, genRoot)
        publishManifest(sinkDir, newEntries)
        gcSink(sinkDir)
    } finally { deleteRecursively(new java.io.File(staged.stageDir)); () }
  }

  /** Move a staging's leaf files into a freshly-written generation root —
    * the merge path's analog of the empty-overlap rename fast path. The
    * staging is in generation-root layout by construction (stageUpsert
    * pre-partitions it), so this is one POSIX rename per data file;
    * target partition dirs are created where the kept-side write produced
    * none (a partition whose old content was entirely overwritten, or a
    * simb sub-partition new to this batch). Kept and staged file names
    * are task-UUID-unique — no collisions. A crash mid-move leaves a
    * partial UNPUBLISHED root (the manifest flip comes later): the next
    * commit GCs it, identical to a crash mid-write. On an object store
    * the rename maps to a server-side copy per file — O(files) metadata,
    * never a second pass of the bytes through Spark. */
  private def moveStagedFiles(stageDir: String, rootDir: String): Unit = {
    def walk(src: java.io.File, rel: List[String]): Unit =
      Option(src.listFiles()).toSeq.flatten.foreach { f =>
        if (f.isDirectory) walk(f, rel :+ f.getName)
        else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
          val targetDir = new java.io.File((rootDir :: rel).mkString("/"))
          targetDir.mkdirs()
          val target = new java.io.File(targetDir, f.getName)
          if (!f.renameTo(target))
            throw new java.io.IOException(s"move ${f.getPath} -> ${target.getPath} failed")
        }
      }
    walk(new java.io.File(stageDir), Nil)
  }

  /** Next unused generation-root name: one past the highest existing
    * `vectors_g*` DIRECTORY (not manifest — a crashed commit's orphan
    * root must never be reused while it awaits GC). */
  private def nextGenRoot(sinkDir: String): String = {
    val maxExisting = Option(new java.io.File(sinkDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("vectors_g"))
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("vectors_g").toLong).toOption)
      .foldLeft(1L)(math.max)
    f"vectors_g${maxExisting + 1}%06d"
  }

  /** Retire storage unreachable from the current AND previous manifests:
    * bucket dirs first, then empty namespace dirs / roots / manifest
    * files. One-behind retention is what lets readers run lock-free
    * (scaladoc on [[readVectorSink]]); anything older is unreferenced by
    * construction — including crashed commits' orphan roots. */
  private def gcSink(sinkDir: String): Unit = {
    val versions = manifestVersionFiles(sinkDir)
    val keep: Set[SinkEntry] =
      versions.takeRight(2).flatMap { case (_, f) => manifestEntries(sinkDir, f.getName) }.toSet
    val roots = Option(new java.io.File(sinkDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory &&
        (f.getName == "vectors" || f.getName.startsWith("vectors_g")))
    roots.foreach { root =>
      Option(root.listFiles()).toSeq.flatten
        .filter(ns => ns.isDirectory && ns.getName.startsWith("namespace=")).foreach { ns =>
          Option(ns.listFiles()).toSeq.flatten
            .filter(b => b.isDirectory && b.getName.startsWith("bucket=")).foreach { b =>
              val key = SinkEntry(root.getName, ns.getName.stripPrefix("namespace="),
                b.getName.stripPrefix("bucket=").toInt)
              if (!keep(key)) deleteRecursively(b)
            }
          if (Option(ns.listFiles()).exists(_.isEmpty)) { ns.delete(); () }
        }
      // root-level _SUCCESS etc. may remain; only delete a root whose
      // namespace dirs are all gone
      if (Option(root.listFiles()).toSeq.flatten.forall(f => !f.isDirectory))
        deleteRecursively(root)
    }
    versions.dropRight(2).foreach(_._2.delete())
  }

  /** `describe_index_stats` analog (`service_layer/service.py:97`):
    * per-namespace vector count + dimension summary. */
  def sinkStats(spark: SparkSession, sinkDir: String): DataFrame =
    readVectorSink(spark, sinkDir)
      .groupBy(col("namespace"))
      .agg(
        count(lit(1)).as("n_vectors"),
        max(size(col("embedding"))).as("dim"),
        countDistinct(col("bucket")).as("n_buckets"))

  // --- the cycle (§3.2) ----------------------------------------------------

  /** Per-table cycle outcome: synced row count, or the isolated failure. */
  sealed trait TableOutcome { def isFailure: Boolean }
  final case class TableSynced(rows: Long) extends TableOutcome { def isFailure = false }
  final case class TableFailed(error: Throwable) extends TableOutcome { def isFailure = true }

  /** Raised by [[requireSynced]] when any table failed — a total or partial
    * failure must never be indistinguishable from "no new data" (VERDICT
    * r8: a swallowed per-table ClassCastException produced an empty sink
    * that a rows-only check and the bench both read as fast success). */
  final class CdcCycleException(val failures: Map[String, Throwable])
    extends RuntimeException(
      s"CDC cycle: ${failures.size} table(s) failed: " +
        failures.toSeq.sortBy(_._1)
          .map { case (t, e) => s"$t: ${e.getMessage}" }.mkString("; "))

  /** Rows synced per table, or [[CdcCycleException]] naming every failed
    * table. The cycle has attempted every table by then: successes keep
    * their committed sink + watermark, and a retry is idempotent via
    * content-hash ids. */
  def requireSynced(outcomes: Map[String, TableOutcome]): Map[String, Long] = {
    val failures = outcomes.collect { case (t, TableFailed(e)) => t -> e }
    if (failures.nonEmpty) throw new CdcCycleException(failures)
    outcomes.collect { case (t, TableSynced(n)) => t -> n }
  }

  /** One full sync cycle over every table of `source` except the watermark
    * state table (`controller/controller.py:17-35`), returning a per-table
    * outcome (T6 isolation made LOUD: failures are isolated — every table
    * is still attempted, successes commit — but they are returned, not
    * swallowed; [[requireSynced]] turns them into an exception).
    *
    * The source is any [[graft.sources.CdcSource]] binding: a parquet
    * directory ([[graft.sources.DirSource]]) or a LIVE database over JDBC
    * ([[graft.sources.JdbcSource]]), which is the reference's literal
    * deployment topology — poll MySQL, strict-`>` delta pushed into the
    * database WHERE, chunk → embed → upsert → watermark commit
    * (`service_layer/service.py:48-80`; JdbcCdcSpec runs this end-to-end
    * against embedded Derby). The watermark-table exclusion compares
    * case-insensitively: JDBC catalogs (Derby, default MySQL on some
    * platforms) fold unquoted identifiers. Watermark state lives behind a
    * [[WatermarkStore]] binding: the versioned parquet store beside the
    * sink ([[ParquetWatermarkStore]]) or IN a live database
    * ([[JdbcWatermarkStore]]), which is where the reference keeps it
    * (`service_layer/service.py:35-46`).
    *
    * Tables run CONCURRENTLY on up to `parallelism` workers (the reference
    * loops serially on one connection, `controller/controller.py:25-27`):
    * per-table compute — footer/metadata load, delta count/max,
    * chunk+embed materialization — overlaps freely, while the sink upsert
    * + watermark commit serialize under `commitLock`, because both are
    * read-modify-write protocols on shared state (the sink manifest; the
    * watermark version pointer). Optimistic-parallel compute with a
    * serialized commit tail is the same shape every table format
    * (Delta/Iceberg) uses for concurrent writers; cycle latency becomes
    * max-of-tables' compute + sum of (small) commits instead of sum of
    * everything. */
  def syncCycleOutcomesOn(
      spark: SparkSession,
      source: graft.sources.CdcSource,
      store: WatermarkStore,
      sinkDir: String,
      changeCol: String = "ts",
      orderCol: String = "event_id",
      chunkSize: Int = Chunker.DefaultChunkSize,
      deterministicChunks: Boolean = false,
      namespace: String = DefaultNamespace,
      layout: SinkLayout = DefaultLayout,
      parallelism: Int = 8,
      commitLock: AnyRef = new Object): Map[String, TableOutcome] = {
    initVectorSink(spark, sinkDir, layout)
    val tables = source.listTables()
      .filterNot(_.equalsIgnoreCase(WatermarkTable)) // P5 anti-filter
    if (tables.isEmpty) return Map.empty
    // pooled bindings size their warm connection sets to the tick's
    // actual worker count (VERDICT r17 task 6) — at par=16 the default
    // 8-deep pools under-cached by half, re-opening 8 connections per tick
    source.hintParallelism(parallelism)
    store.hintParallelism(parallelism)
    // one DRIVER-side read of the watermark store for the whole cycle —
    // zero Spark jobs (readWatermarkMap; the pre-r14 Spark read+collect
    // was itself one job of pure fixed overhead per cycle)
    val wms = store.readAll()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, tables.size)))
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = tables.map { t =>
        t -> scala.concurrent.Future {
          try TableSynced(syncTableOn(spark, source, store, sinkDir, t, wms.get(t),
            changeCol, orderCol, chunkSize, deterministicChunks, namespace, commitLock))
          catch {
            // T6: isolate, but NEVER swallow. NonFatal only — a fatal
            // Error (OOM, NoClassDefFoundError) must escape the future
            // and abort the cycle, not be recorded as a table outcome.
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[cdc] table $t failed: ${e.getMessage}")
              TableFailed(e)
          }
        }(ec)
      }
      try
        futures.map { case (t, f) =>
          t -> scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        }.toMap
      catch {
        case t: Throwable =>
          // fatal escape: cancel queued work and interrupt in-flight
          // tables so nothing keeps committing watermarks in the
          // background after the caller has already seen the cycle fail
          pool.shutdownNow()
          throw t
      }
    } finally { pool.shutdown(); () }
  }

  /** Sync one table past its stored watermark `wm`: delta → chunk → embed
    * → upsert → commit watermark. The cycle reads the store once for all
    * tables; a standalone caller passes `store.get(tableName)`.
    *
    * Chunk boundaries default to `Chunker.chunkScalable` — partition-local,
    * no global ordering pass — because the reference's own boundaries are
    * arbitrary arrival order (`SELECT *` with no ORDER BY,
    * service_layer/service.py:53-57) and content-hash ids keep the upsert
    * idempotent either way. Idempotency caveat, stated precisely: a
    * crash-RETRY of the same delta re-chunks it, and scalable boundaries
    * reproduce only while the input partitioning does (same files, same
    * split config) — a retry under a changed partitioning can emit
    * differently-bounded chunks alongside the earlier attempt's, i.e.
    * duplicate CONTENT with distinct ids (still never duplicate ids, and
    * never lost rows). `deterministicChunks = true` opts into exact
    * reproducible boundaries via a total order on `orderCol` (distributed
    * numbering: key-derived blocks + broadcast offsets — see
    * Chunker.chunkDeterministic), restoring strict retry idempotency for
    * pipelines that need it, at the cost of one extra ordering pass per
    * cycle.
    *
    * Mid-stream SCHEMA EVOLUTION semantics (VERDICT r14 #5, pinned by
    * CdcSpec): the pipeline is schema-generic like the reference's
    * `SELECT *` (`service_layer/service.py:53-57`) — a source table that
    * gains a column between polls just starts serializing it (DirSource
    * reads the merged union schema; a JDBC read takes whatever the
    * database returns). Chunk ids are CONTENT hashes, so: rows first seen
    * after the ALTER produce chunks carrying the new field; rows already
    * synced are untouched (their `changeCol` predates the watermark);
    * rows UPDATED after the ALTER (changeCol bumped — the only way a CDC
    * source re-surfaces them) re-serialize with the new field under NEW
    * ids — a re-upsert of the touched chunks, idempotent thereafter. The
    * earlier-schema chunks those rows produced remain as then-current
    * content, exactly as the reference's UUID-keyed Pinecone vectors
    * persist across an ALTER; the sink converges — repeated cycles with
    * no further source changes are byte-stable no-ops.
    *
    * The supported drift matrix, each direction spec-pinned (r16):
    *  - column ADDED — new field appears in serializations of rows seen
    *    (or updated) after the ALTER; earlier chunks untouched.
    *  - column DROPPED — binding-dependent, faithfully mirroring what
    *    `SELECT *` returns: a DATABASE drop vanishes the field from new
    *    serializations (JdbcCdcSpec); a parquet LAKE has no DDL, so old
    *    files still carry the column, the merged union schema keeps it,
    *    and post-drop rows serialize it as null (F1 null retention,
    *    CdcSpec).
    *  - numeric type WIDENED (int→bigint, float→double) — values
    *    re-serialize identically under the wider type; a JDBC read takes
    *    the database's new type directly, a parquet lake with mixed
    *    footers reads through the widened-union fallback
    *    (Tables.widenedUnionSchema — Spark's own mergeSchema refuses a
    *    widening conflict) (CdcSpec).
    *  - an in-place TYPE change of the watermark/order column itself, or
    *    a NON-widening value-type rewrite (int→string), is out of
    *    contract, as it is for the reference — the read fails loudly. */
  def syncTableOn(
      spark: SparkSession,
      source: graft.sources.CdcSource,
      store: WatermarkStore,
      sinkDir: String,
      tableName: String,
      wm: Option[Timestamp],
      changeCol: String,
      orderCol: String,
      chunkSize: Int,
      deterministicChunks: Boolean = false,
      namespace: String = DefaultNamespace,
      commitLock: AnyRef = new Object): Long = {
    // Fleet quiet-table fast path (VERDICT r15 task 5): a mostly-quiet
    // fleet tick's floor is per-table RELATION SETUP + one count/max
    // aggregate job (~20-30 ms each, FleetProbe) — but "is there anything
    // past the watermark?" is answerable driver-side when the binding has
    // exact metadata (parquet footer stats; a database-side MAX), BEFORE
    // even building the Spark relation. Skip ONLY on the exact-and-quiet
    // answer; every other answer (unknown, active, first sync, column
    // absent) takes the unchanged relation + aggregate path, so
    // correctness never leans on the probe. (A quiet answer implies the
    // change column exists — both bindings answer unknown when it
    // doesn't — so short-circuiting ahead of the column-presence check
    // below cannot skip a non-CDC table.)
    val quiet = wm.exists(w =>
      source.changeMax(tableName, changeCol) match {
        case Some(Some(mx)) => !mx.after(w) // strict->: mx <= wm ⇒ empty delta
        case _ => false
      })
    if (quiet) return 0L
    val src = source.table(spark, tableName)
    // column PRESENCE checks follow the session's name resolution (JDBC
    // catalogs fold unquoted identifiers to upper case — a Derby/MySQL
    // "TS" must satisfy changeCol="ts" exactly as col("ts") resolves it)
    val resolves: (String, String) => Boolean =
      if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) _ == _
      else _.equalsIgnoreCase(_)
    if (!src.columns.exists(resolves(_, changeCol))) return 0L // not a CDC table
    // chunk order: the table's primary key when known (SURVEY §7: defined
    // order makes chunks deterministic), else the caller's orderCol
    val effOrderCol = source.primaryKey(tableName)
      .filter(pk => src.columns.exists(resolves(_, pk))).getOrElse(orderCol)
    // P6 empty-delta skip: no sink write, no watermark advance
    // (service_layer/service.py:65, :76-77). The agg runs uncached — one
    // pushdown scan; its row count then picks the session the REST of the
    // sync runs on (see loopWidthSession below), so the delta cache is
    // built once, against that session.
    val agg = Cdc.deltaScan(src, changeCol, wm)
      .agg(count(lit(1)).as("n"), max(col(changeCol)).as("mx")).collect()(0)
    val n = agg.getLong(0)
    if (n == 0L) return 0L
    val newWm = asTimestamp(agg.get(1))
    // Width follows the measured delta: a small-delta cycle (the steady
    // CDC state) is job-count-dense — chunk, embed, sink RMW, commit — and
    // its cost at small scale is stage scheduling, not data (BASELINE.md
    // round-11 diagnosis). The CLONED session keeps the narrowing off the
    // shared session conf, because the cycle runs tables concurrently.
    // At scale the delta justifies full width and s2 eq spark.
    val s2 = Materialize.loopWidthSession(spark, n)
    // The delta is re-scanned (a fresh relation — on the cloned session
    // even a fresh file listing), so it must be CLAMPED to the measured
    // watermark: rows landing in the source between the two scans have
    // changeCol > newWm and an unclamped re-scan would chunk and sink
    // them this cycle while the watermark commits only to newWm — the
    // next cycle would re-emit them, and under scalable chunk boundaries
    // (a differently-partitioned re-scan) that is duplicate-content
    // chunks with distinct ids during NORMAL polling, not just crash
    // retries. boundedDeltaScan pins sunk rows == (wm, newWm], exactly
    // the interval the commit covers.
    // NOT cached, deliberately: the clamp makes every re-scan read the
    // same rows, both chunkers are deterministic given those rows (the
    // numeric-key numbering maps values, not partitions; the sampled-range
    // path snapshots via Materialize.truncate), and a pushdown-pruned
    // parquet re-scan is CHEAPER than a columnar cache of the delta —
    // measured at sx125: caching the 12.5M-row delta cost the cycle ~90 s
    // of build + cache-scan overhead vs ~5 s of extra parquet reads
    // (BASELINE.md r13). At real scale a delta cache is a straight
    // memory/disk tax an executor fleet cannot afford; the source file
    // scan is the shape that survives.
    val delta =
      Cdc.boundedDeltaScan(
        if (s2 eq spark) src else source.table(s2, tableName),
        changeCol, wm, newWm)
    indexDelta(s2, delta, tableName, deterministicChunks, effOrderCol, chunkSize,
      sinkDir, namespace, store, newWm, commitLock)
    n
  }

  /** The per-batch tail both CDC paths share — [[syncTableOn]] and
    * [[graft.streaming.CdcStream]]'s `foreachBatch`: chunk `delta` (on
    * `orderCol` when `deterministicChunks`) → embed → stage the upsert →
    * under `commitLock`, commit the staged rows, then advance the
    * watermark to `newWm`.
    *
    * Staging runs OUTSIDE the lock, so concurrent tables overlap their
    * compute and only serialize the sink RMW + watermark commit
    * (writer-writer serialization only — readers are MVCC-snapshot-isolated
    * and take no lock). The staging write IS the materialization; see
    * stageUpsert for why a file, never a cache. */
  private[graft] def indexDelta(
      spark: SparkSession,
      delta: DataFrame,
      tableName: String,
      deterministicChunks: Boolean,
      orderCol: String,
      chunkSize: Int,
      sinkDir: String,
      namespace: String,
      store: WatermarkStore,
      newWm: Timestamp,
      commitLock: AnyRef): Unit = {
    val chunks =
      if (deterministicChunks) Chunker.chunkRowsAsJson(delta, col(orderCol), tableName, chunkSize)
      else {
        val json = delta.withColumn("_json", graft.functions.JsonRows.toJsonCol(delta))
        Chunker.chunkScalable(json, col("_json"), tableName, chunkSize)
      }
    val vectors = chunks.select(
      col("id"),
      Embeddings.embedCol(col("text")).as("embedding"),
      col("source"),
      col("text"))
    val staged = stageUpsert(spark, sinkDir, vectors, namespace)
    commitLock.synchronized {
      // commit deletes the staging, success or not
      staged.foreach(commitStagedUpsert(spark, sinkDir, _))
      // S7 commit AFTER the sink write — reference order, T3.
      store.update(tableName, newWm)
    }
  }

  /** Crash-safe overwrite of a small state directory: versioned data dirs
    * behind an atomically-renamed pointer file — the MVCC-pointer pattern
    * every table format (Delta/Iceberg/Hudi) uses for its commit, scaled
    * down to a pointer file instead of a log.
    *
    * The previous implementation (rename live → _old, rename tmp → live)
    * had a window between the two renames in which NO live directory
    * existed: a crash there silently reset the store (for the watermark
    * store, a forced full re-sync). Here the commit is ONE atomic POSIX
    * rename of the pointer file, so at every instant — including any
    * crash point — the pointer names a complete, readable directory:
    *
    *   1. write the new state to `path_v{N+1}` (live store untouched);
    *   2. publish: write `path.current_tmp`, atomic-rename it over
    *      `path.current`, fsync the pointer file and its directory (the
    *      rename is atomic against crashes either way; the fsync makes
    *      the commit durable against power loss too);
    *   3. GC version dirs EXCEPT the just-published one and the one the
    *      pointer named before this write.
    *
    * A crash before (2) leaves the pointer on the old version (an orphaned
    * v-dir is GC'd by the next successful write); a crash after (2) leaves
    * the new version live with stale dirs pending GC.
    *
    * Reader-vs-GC: DataFrames resolve the pointer eagerly but read file
    * contents lazily, so a reader can hold a version dir across a
    * concurrent write. Keeping the previously-pointed version for one
    * extra write closes that window for readers at most ONE write behind
    * — the realistic case for this store's read-then-advance cycle. A
    * reader lagging two or more writes can still lose its directory
    * mid-scan and must re-resolve ([[readWatermarks]]). Like the vector
    * sink, the store assumes a single writer at a time.
    *
    * `writeData` populates the fresh version dir — the watermark store's
    * driver-local parquet writer today; the protocol is writer-agnostic
    * (a Spark `df.write.parquet(vdir)` plugs in identically). */
  private[operators] def atomicOverwriteWith(
      path: String,
      writeData: java.io.File => Unit,
      onBeforeCommit: () => Unit = () => ()): Unit = {
    val f = new java.io.File(path).getAbsoluteFile
    val parent = f.getParentFile
    parent.mkdirs()
    val base = f.getName
    def versions(): Seq[java.io.File] = Option(parent.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(base + "_v"))
    val next = versions()
      .flatMap(d => scala.util.Try(d.getName.stripPrefix(base + "_v").toLong).toOption)
      .foldLeft(0L)(math.max) + 1
    val vdir = new java.io.File(parent, f"${base}_v$next%06d")
    // the version the pointer names NOW survives this write's GC (readers
    // one write behind can still materialize their lazy scan — see doc)
    val prevLive = pointedVersion(path).map(p => new java.io.File(p).getName)
    writeData(vdir)
    onBeforeCommit() // crash-injection hook: pointer still names the old state
    publishPointer(new java.io.File(parent, base + ".current"), vdir.getName)
    val keep = Set(vdir.getName) ++ prevLive
    versions().filterNot(d => keep(d.getName)).foreach(deleteRecursively)
  }

  /** Publish `target` as the content of the pointer file `ptr`: write
    * `<ptr>_tmp`, atomically rename it over `ptr`, then fsync the pointer
    * and its directory. A crash leaves the old pointer or the new one,
    * never a torn one; the fsyncs make the new one survive power loss. */
  private[graft] def publishPointer(ptr: java.io.File, target: String): Unit = {
    val tmp = java.nio.file.Paths.get(ptr.getPath + "_tmp")
    java.nio.file.Files.writeString(tmp, target)
    java.nio.file.Files.move(tmp, ptr.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    fsync(ptr)
    fsync(ptr.getAbsoluteFile.getParentFile)
  }

  /** Durability flush: force file (or directory-entry) state to stable
    * storage. Directory fsync is what makes a rename survive power loss on
    * POSIX; best-effort on filesystems that reject directory channels. */
  private[graft] def fsync(f: java.io.File): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: Exception => () }

  /** The live directory behind a versioned store ([[atomicOverwriteWith]]),
    * or None when the store does not exist. A store in an older layout
    * fails ([[StoreUpgrade.requireVersionedStore]]). */
  private[operators] def liveVersionDir(path: String): Option[String] =
    pointedVersion(path).orElse { StoreUpgrade.requireVersionedStore(path); None }

  /** The version directory the store's pointer names, if it has one. */
  private[operators] def pointedVersion(path: String): Option[String] = {
    val ptr = new java.io.File(path + ".current")
    if (!ptr.exists()) None
    else Some(new java.io.File(new java.io.File(path).getAbsoluteFile.getParentFile,
      java.nio.file.Files.readString(ptr.toPath).trim).getPath)
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
