package graft.operators

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one place that knows the on-disk layouts earlier builds wrote, and
  * the step that rewrites them: `Engine.initializeIndex()` runs [[run]]
  * before it creates an absent sink. Every other reader and writer accepts
  * only its store's current layout and raises [[outdated]], naming
  * `initializeIndex`, where it finds an older one. Old layouts are told
  * apart by structure (no format-version file):
  *  - sink: a `vectors` root without a manifest pointer is adopted as the
  *    manifest's first generation root, bytes untouched; a pre-`simb` root
  *    (parquet files directly under `bucket=`) cannot be adopted and fails.
  *    A manifest sink without `vectors_layout.properties` gets the default
  *    layout's file: those sinks were written with exactly its constants.
  *  - watermark store: a bare directory without a pointer, or a live file
  *    whose timestamps are not INT64 µs (Spark-written INT96 or INT64 ms),
  *    is read with Spark and republished by the store's own commit. A
  *    hash-sharded store (a `watermark.shards` marker holding B beside the
  *    stores `watermark_b0000` … `watermark_b{B-1}`, each behind its own
  *    pointer, a table's row in shard md5-hash32(name) mod B) is merged
  *    into the single store, max per table; then the marker is deleted,
  *    then every shard store.
  *  - IVF: an `_ivf/<ns>` container without a `current` pointer, or whose
  *    live version lacks the count sidecars or the `roots=` line, is
  *    retrained into a new version; then the container's shadowed halves
  *    and root-level `base_count`/`base_counts` files are deleted.
  * Every rewrite publishes by its store's pointer flip before anything old
  * is deleted, so a run cut at any step leaves each store readable and the
  * next run converges; a second run writes nothing. On fresh directories
  * the step only stats files. */
object StoreUpgrade {

  /** Upgrade the sink at `sinkDir`, the watermark store at `stateDir` and
    * the sink's conventional IVF indexes. `retrainIvf(namespace, dir)` runs
    * a full IVF build of the namespace into a new version of its container,
    * inheriting build parameters from `dir`'s `_build.properties`. */
  def run(spark: SparkSession, sinkDir: String, stateDir: String,
      retrainIvf: (String, String) => Unit): Unit = {
    upgradeSink(sinkDir)
    upgradeWatermarks(spark, stateDir)
    upgradeIvf(sinkDir, retrainIvf)
  }

  /** The error a reader or writer raises on a store in an older layout. */
  private[graft] def outdated(path: String, layout: String,
      remedy: String = "run Engine.initializeIndex() once to upgrade it"): IllegalStateException =
    new IllegalStateException(s"$path is in an older on-disk layout ($layout); $remedy")

  /** One stat, for a sink without a manifest pointer. */
  private[operators] def requireManifest(sinkDir: String): Unit =
    if (new File(sinkDir, "vectors").exists())
      throw outdated(sinkDir, "a vectors root without a manifest")

  /** One stat, for every watermark store read and commit: a sharded
    * store has no single store, so without this check every watermark
    * would read as absent and the next cycle would re-sync every table. */
  private[operators] def requireUnshardedWatermarks(stateDir: String): Unit =
    if (shardMarker(stateDir).exists())
      throw outdated(stateDir, "a hash-sharded watermark store")

  private def shardMarker(stateDir: String) = new File(stateDir, s"${Cdc.WatermarkTable}.shards")

  /** One stat, for a watermark store path without a pointer. */
  private[operators] def requireVersionedStore(path: String): Unit =
    if (new File(path).exists()) throw outdated(path, "an unversioned watermark store")

  /** One stat, for an engine IVF container without a `current` pointer. */
  private[graft] def requireVersionedIvf(container: String): Unit =
    if (new File(container, "centroids").exists())
      throw outdated(container, "an IVF index without a version pointer")

  private def upgradeSink(sinkDir: String): Unit = {
    if (!Cdc.manifestPointer(sinkDir).exists() && new File(sinkDir, "vectors").isDirectory) {
      requireSimbLayout(sinkDir)
      Cdc.publishManifest(sinkDir, Cdc.scanRootEntries(sinkDir, "vectors"))
    }
    if (Cdc.manifestPointer(sinkDir).exists()) Cdc.ensureLayout(sinkDir, Cdc.DefaultLayout)
  }

  /** A pre-`simb` root (two-level namespace/bucket directories) cannot be
    * adopted: three-level partitions written beside two-level ones leave a
    * root Spark's partition discovery rejects. */
  private def requireSimbLayout(sinkDir: String): Unit = {
    val stale = Option(new File(sinkDir, "vectors").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("namespace="))
      .flatMap(ns => Option(ns.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .exists(bk => Option(bk.listFiles()).toSeq.flatten
        .exists(f => f.isFile && f.getName.endsWith(".parquet")))
    if (stale)
      throw new IllegalStateException(
        s"$sinkDir/vectors uses the pre-simb (namespace, bucket) layout; " +
          "reinitialize the sink (or re-upsert its rows) before writing the " +
          "(namespace, bucket, simb) layout — mixed partition depths are unreadable")
  }

  private def upgradeWatermarks(spark: SparkSession, stateDir: String): Unit = {
    val path = s"$stateDir/${Cdc.WatermarkTable}"
    mergeShards(spark, stateDir, path)
    val bare = new File(path)
    Cdc.pointedVersion(path) match {
      case None if bare.isDirectory => republish(spark, path, Seq(bare))
      case Some(dir) if !Cdc.watermarkFiles(dir).forall(Cdc.currentWatermarkFile) =>
        republish(spark, path, Seq(new File(dir)))
      case _ =>
    }
    Cdc.deleteRecursively(bare) // shadowed by the pointer, or absent
  }

  /** Fold a sharded store into the single store at `path`. Commits are
    * refused while the marker exists, so a run cut after the pointer flip
    * reruns the same merge. The marker's delete is made durable before any
    * shard store goes, so a marker never outlives the shards it names;
    * shard stores left by a run cut after the marker's delete are deleted
    * on the next run. */
  private def mergeShards(spark: SparkSession, stateDir: String, path: String): Unit = {
    val wm = java.util.regex.Pattern.quote(Cdc.WatermarkTable)
    def shardFiles() = Option(new File(stateDir).listFiles()).toSeq.flatten
      .filter(_.getName.matches(wm + "(_b\\d+(\\.current(_tmp)?|_v\\d+)|\\.shards_tmp)"))
    val marker = shardMarker(stateDir)
    if (marker.exists()) {
      val shards = shardFiles().map(_.getName).filter(_.matches(wm + "_b\\d+\\.current"))
        .map(n => s"$stateDir/${n.stripSuffix(".current")}")
      republish(spark, path, shards.flatMap(Cdc.pointedVersion).map(new File(_)))
      marker.delete()
      Cdc.fsync(new File(stateDir))
    }
    shardFiles().foreach(Cdc.deleteRecursively)
  }

  /** Republish the rows of old store directories through the driver
    * writer, max per table. */
  private def republish(spark: SparkSession, path: String, dirs: Seq[File]): Unit = {
    val rows = spark.read.parquet(dirs.map(_.getPath): _*).select("table_name", "last_updated")
      .collect().filterNot(_.isNullAt(1)).toSeq
      .groupMapReduce(_.getString(0))(r => Cdc.asTimestamp(r.get(1)))(
        (a, b) => if (a.after(b)) a else b)
    Cdc.storeLock(path).synchronized {
      Cdc.atomicOverwriteWith(path, Cdc.writeWatermarkFile(_, rows))
    }
  }

  private def upgradeIvf(sinkDir: String, retrain: (String, String) => Unit): Unit =
    Option(new File(sinkDir, "_ivf").listFiles()).toSeq.flatten.filter(_.isDirectory).foreach { c =>
      val ptr = new File(c, "current")
      val live = graft.Engine.ivfVersion(c.getPath)
      val current = Seq("_base_counts", "_appended_counts")
        .forall(s => new File(live, s"centroids/$s").isFile) && {
          val props = new File(live, "_build.properties")
          props.isFile && java.nio.file.Files.readAllLines(props.toPath)
            .stream().anyMatch(_.startsWith("roots="))
        }
      if (graft.Engine.completeIvf(live) && (!ptr.isFile || !current))
        retrain(c.getName, live.getPath)
      // with no pointer these halves were incomplete (never served) or are
      // retrained by now; with one they are shadowed
      Seq("data", "centroids", "base_count", "base_counts")
        .foreach(h => Cdc.deleteRecursively(new File(c, h)))
    }
}
