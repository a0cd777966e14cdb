package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructField, StructType}

/** Persisted IVF (inverted-file) vector index — the disk layout behind
  * [[SimilaritySearch.ivfTopK]], and the second of the engine's two
  * Pinecone-analog read paths (the first is the CDC sink's sign-bucket
  * `simb` partitioning, `Cdc.SimBits`).
  *
  * Build once: train coarse centroids (deterministic Lloyd,
  * [[SimilaritySearch.ivfTrain]]), assign every vector to its nearest
  * centroid, and write the vectors PARTITIONED BY cluster with the
  * centroid matrix alongside. Search: load the k×dim centroid matrix
  * (driver-size by construction), rank clusters against the probe, and
  * scan only the `nprobe` nearest cluster directories — partition pruning
  * does the candidate restriction, so a 100 TB index reads nprobe/k of its
  * bytes per query instead of all of them. Recall rises with nprobe;
  * nprobe >= k is an exact scan.
  *
  * Unlike sign-bucket locality (fixed hyperplanes), IVF centroids adapt to
  * the corpus distribution — the right trade when vectors are clustered
  * (real embedding corpora) rather than isotropic.
  *
  * Cluster ids are arbitrary non-negative ints, NOT positions: an index
  * that an older build repaired in place holds non-contiguous ids, so
  * every read path maps ranked centroid POSITIONS back to stored ids
  * ([[centroidEntries]]) instead of assuming 0..k-1 contiguity.
  *
  * Metadata layout: the per-cluster trained-base counts (`_base_counts`)
  * and per-cluster appended counts (`_appended_counts`) live INSIDE the
  * centroid directory — underscore-prefixed, so Spark's parquet listing
  * ignores them — and are committed with the centroid matrix by one
  * stage-and-rename swap ([[swapDir]]): a crash can never leave centroids
  * naming clusters the counts don't know, or vice versa. Staleness
  * bookkeeping is INCREMENTAL: [[append]] counts what it just routed
  * (footer reads of its staged files, O(batch)) and merges it into the
  * sidecar, so per-batch bookkeeping cost is flat in index size. The
  * footer recount survives as the audit path ([[recountClusterRows]];
  * SimilaritySpec pins sidecar == recount across build, append and the
  * engine's full retrain).
  *
  * The index is maintained one way: `Engine.refreshIvfIndex` appends to a
  * linked copy of the live version and retrains in full once the appended
  * fraction would reach [[DefaultRebuildFraction]]. */
object IvfIndex {

  /** Appended fraction at which the engine's refresh retrains in full —
    * set from the measured recall-drift ladder (BASELINE.md r16: with
    * appends drawn from a SHIFTED distribution — the adversarial case —
    * recall@10 at nprobe=2 degrades as stale centroids under-describe the
    * appended mass; at-distribution appends barely move it). 0.5 = retrain
    * once the appended mass reaches half the trained base. The same
    * threshold is the PER-CLUSTER stale bar ([[staleClusters]]). */
  val DefaultRebuildFraction: Double = 0.5

  /** Train, assign, persist. One pass for training (sampled), one for the
    * partitioned write; the only driver-resident state is k×dim floats. */
  def build(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      k: Int = 16,
      iters: Int = 3,
      sampleFraction: Double = 1.0): Unit = {
    val spark = vectors.sparkSession
    val centroids = SimilaritySearch.ivfTrain(vectors, idCol, vecCol, k, iters, sampleFraction)
    vectors
      .select(col(idCol).as("id"), col(vecCol).as("embedding"))
      .withColumn("cluster", SimilaritySearch.nearestCentroid(col("embedding"), centroids))
      // one writer task per cluster directory; write parallelism = k, which
      // is the right knob at scale too — IVF k grows ~√n with the corpus
      // (10⁴-10⁵ clusters at billions of vectors), so tasks stay balanced
      .repartition(col("cluster"))
      .write.mode(SaveMode.Overwrite).partitionBy("cluster").parquet(s"$indexDir/data")
    // trained-base bookkeeping from footer metadata of what was just
    // written (driver-side, O(what this build wrote) — the index IS the
    // build's output here, so the walk is the incremental cost, not a
    // re-walk); committed beside the centroid matrix in one directory
    val perCluster = clusterRowCounts(s"$indexDir/data")
    writeCentroids(spark, centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq,
      s"$indexDir/centroids", perCluster)
  }

  /** Incremental maintenance — the Pinecone-upsert analog for the IVF
    * layout: route new vectors to their nearest EXISTING centroid and
    * append them as new files inside only those cluster directories. No
    * retraining, no rewrite of untouched clusters, and [[search]] needs no
    * change — with nprobe=k the appended index is still an exact scan of
    * base ∪ new (SimilaritySpec asserts parity with brute force).
    *
    * Contract: appended ids are NEW ids (the CDC path guarantees this —
    * content-hash ids are deduped by the sink upsert upstream, and
    * `Engine.refreshIvfIndex` anti-joins the batch against the index's
    * ids); an id appended twice would surface twice. Centroids drift as
    * the corpus distribution shifts: production re-trains on a cadence
    * driven by recall monitoring, while append keeps the index serving
    * between retrains — the standard IVF operational trade (Jégou et al.).
    * The served engine's auto-refresh appends each cycle's new vectors to
    * a linked copy of the live version and flips the version pointer, and
    * retrains in full instead once an append would bring the appended
    * fraction to [[DefaultRebuildFraction]] (0.5).
    *
    * Bookkeeping: the batch is written to a private staging directory and
    * its per-cluster counts come from the staged files' footers — O(batch),
    * never a walk of the index and no Spark job — then merge into the
    * `_appended_counts` sidecar; per-batch cost is flat in index size
    * (IvfProbe `bookkeeping` ladder). Returns the post-append global
    * appended fraction.
    *
    * Crash window: staged files are invisible until they move into
    * `data/cluster=N`, and the moves commit before the sidecar merge, so a
    * crash between them UNDER-counts appended rows — staleness is then
    * detected late, never wrongly; reads are unaffected (they never
    * consult the counts). [[recountClusterRows]] is the audit that
    * re-derives truth from footers. */
  def append(newVectors: DataFrame, idCol: String, vecCol: String, indexDir: String): Double =
    commitAppend(stageAppend(newVectors, idCol, vecCol, indexDir))

  /** A routed batch written to `stageDir` beside the index, invisible to
    * readers until [[commitAppend]]: its per-cluster row counts (from the
    * staged footers) and the appended fraction the index would reach with
    * it. */
  private[graft] final case class StagedAppend(
      indexDir: String, stageDir: String, counts: Map[Int, Long], fractionAfter: Double)

  /** First half of [[append]]: route to the nearest existing centroid and
    * write the batch, partitioned by cluster id, to a private staging
    * directory — one Spark job; the counts are footer reads. */
  private[graft] def stageAppend(
      newVectors: DataFrame, idCol: String, vecCol: String, indexDir: String): StagedAppend = {
    val spark = newVectors.sparkSession
    val entries = centroidEntries(spark, indexDir)
    val cents = entries.map(_._2).toArray
    val ids = entries.map(_._1).toArray
    val (base, appended) = (counts(indexDir, BaseCountsFile), counts(indexDir, AppendedCountsFile))
    val stageDir = s"$indexDir/append_stage"
    newVectors
      .select(col(idCol).as("id"), col(vecCol).as("embedding"))
      // nearestCentroid answers a POSITION in the matrix; store the ID
      // (identical for an index whose ids are 0..k-1)
      .withColumn("cluster", element_at(lit(ids),
        SimilaritySearch.nearestCentroid(col("embedding"), cents) + 1))
      .repartition(col("cluster"))
      .write.mode(SaveMode.Overwrite).partitionBy("cluster").parquet(stageDir)
    val batch = clusterRowCounts(stageDir).filter(_._2 > 0L)
    StagedAppend(indexDir, stageDir, batch,
      fraction(appended.values.sum + batch.values.sum, base.values.sum))
  }

  /** Second half of [[append]]: move the staged files into
    * `data/cluster=N` (one rename each; part-file names are unique per
    * write job), then merge the staged counts into the appended sidecar.
    * Returns the appended fraction. */
  private[graft] def commitAppend(staged: StagedAppend): Double = {
    val dataDir = s"${staged.indexDir}/data"
    clusterDirs(staged.stageDir).foreach { case (id, d) =>
      val target = java.nio.file.Paths.get(s"$dataDir/cluster=$id")
      java.nio.file.Files.createDirectories(target)
      Option(d.listFiles()).toSeq.flatten.foreach(f =>
        java.nio.file.Files.move(f.toPath, target.resolve(f.getName)))
    }
    Cdc.deleteRecursively(new java.io.File(staged.stageDir))
    mergeAppendedCounts(staged.indexDir, staged.counts)
    appendedFraction(staged.indexDir)
  }

  /** Appended rows / trained-base rows, from the sidecar counts —
    * driver-side, TWO small file reads, no footer walk (r18). */
  def appendedFraction(indexDir: String): Double =
    fraction(counts(indexDir, AppendedCountsFile).values.sum, counts(indexDir, BaseCountsFile).values.sum)

  /** Appended / base rows; a base of zero that absorbed any appends is
    * infinitely stale by definition. */
  private def fraction(appended: Long, base: Long): Double =
    if (base <= 0L) (if (appended > 0L) Double.PositiveInfinity else 0.0)
    else appended.toDouble / base

  /** One cluster's staleness: how much appended mass sits under a centroid
    * trained on `baseRows` rows. */
  final case class ClusterStaleness(cluster: Int, baseRows: Long, appendedRows: Long) {
    def fraction: Double = IvfIndex.fraction(appendedRows, baseRows)
  }

  /** The staleness report: every cluster whose appended mass reached
    * [[DefaultRebuildFraction]] of its trained base, most stale first —
    * the `/ivf/status` payload. Sidecar reads only — no footer walk, no
    * Spark job. Empty for a healthy index. */
  def staleClusters(indexDir: String): Seq[ClusterStaleness] = {
    val (base, appended) = (counts(indexDir, BaseCountsFile), counts(indexDir, AppendedCountsFile))
    (base.keySet ++ appended.keySet).toSeq
      .map(id => ClusterStaleness(id, base.getOrElse(id, 0L), appended.getOrElse(id, 0L)))
      .filter(s => s.fraction >= DefaultRebuildFraction)
      .sortBy(s => (-s.fraction, s.cluster))
  }

  /** AUDIT path: per-cluster row counts re-derived from every parquet
    * footer — the O(index files) ground truth the incremental sidecars
    * replaced on the hot path (SimilaritySpec pins base + appended ==
    * this, per cluster, on every version the engine publishes). */
  def recountClusterRows(indexDir: String): Map[Int, Long] =
    clusterRowCounts(s"$indexDir/data")

  /** Per-cluster (base + appended) from the sidecars — the incremental
    * twin of [[recountClusterRows]], two small file reads. */
  def sidecarClusterRows(indexDir: String): Map[Int, Long] = {
    val (base, appended) = (counts(indexDir, BaseCountsFile), counts(indexDir, AppendedCountsFile))
    (base.keySet ++ appended.keySet).iterator
      .map(id => id -> (base.getOrElse(id, 0L) + appended.getOrElse(id, 0L)))
      .toMap
  }

  private def fileRowCount(file: java.io.File): Long = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath), conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  private def walkDataFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walkDataFiles)
    else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")) Seq(f)
    else Seq.empty

  /** (clusterId, dir) for every `cluster=N` child of the data dir. */
  private def clusterDirs(dataDir: String): Seq[(Int, java.io.File)] =
    Option(new java.io.File(dataDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .flatMap(f => f.getName.stripPrefix("cluster=").toIntOption.map(_ -> f))

  /** Per-cluster row counts from footers — driver-side, no Spark job. */
  private def clusterRowCounts(dataDir: String): Map[Int, Long] =
    clusterDirs(dataDir).map { case (id, d) =>
      id -> walkDataFiles(d).map(fileRowCount).sum
    }.toMap

  /** Replace `target` with `stage` via renames: readers see the old set or
    * the new set; the only crash window is a loud missing-dir failure,
    * never a silently partial centroid matrix. */
  private def swapDir(stage: String, target: String): Unit = {
    val (s, t) = (new java.io.File(stage), new java.io.File(target))
    val old = new java.io.File(target + "_old")
    if (old.exists()) Cdc.deleteRecursively(old)
    if (t.exists() && !t.renameTo(old))
      throw new java.io.IOException(s"could not retire $target")
    if (!s.renameTo(t))
      throw new java.io.IOException(s"could not promote $stage to $target")
    Cdc.deleteRecursively(old)
  }

  /** Sidecar file names, underscore-prefixed so Spark's parquet listing of
    * the centroid directory ignores them (the `_SUCCESS` convention). */
  private val BaseCountsFile = "_base_counts"
  private val AppendedCountsFile = "_appended_counts"

  /** Stage-and-swap the WHOLE metadata snapshot — centroid matrix, base
    * counts and an empty appended sidecar — as one directory: the single
    * commit point of [[build]] (metadata files written as separate commits
    * could disagree across a crash). */
  private def writeCentroids(spark: SparkSession,
      entries: Seq[(Int, Array[Float])], path: String, baseCounts: Map[Int, Long]): Unit = {
    import spark.implicits._
    val stage = path + "_stage"
    entries.toDF("cluster", "centroid")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(stage)
    writeCountsFile(s"$stage/$BaseCountsFile", baseCounts)
    writeCountsFile(s"$stage/$AppendedCountsFile", Map.empty)
    swapDir(stage, path)
  }

  private def writeCountsFile(path: String, counts: Map[Int, Long]): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      counts.toSeq.sorted.map { case (id, n) => s"$id $n" }.mkString("\n"))
    ()
  }

  /** One count sidecar of the index; an index without it (built before
    * the sidecars existed) fails. */
  private def counts(indexDir: String, file: String): Map[Int, Long] = {
    val f = new java.io.File(s"$indexDir/centroids/$file")
    if (!f.exists()) throw StoreUpgrade.outdated(indexDir, s"no centroids/$file sidecar",
      "rebuild it with IvfIndex.build, or run Engine.initializeIndex() once to upgrade " +
        "an engine's own index")
    java.nio.file.Files.readString(f.toPath).linesIterator
      .filter(_.nonEmpty)
      .map { l => val Array(id, n) = l.split(' '); id.toInt -> n.toLong }
      .toMap
  }

  /** Merge one batch's routed counts into the appended sidecar — O(batch
    * clusters) work plus one atomic file replace; no index walk (r18). */
  private def mergeAppendedCounts(indexDir: String, batch: Map[Int, Long]): Unit = {
    val prior = counts(indexDir, AppendedCountsFile)
    val tmp = s"$indexDir/centroids/.${AppendedCountsFile}_tmp"
    writeCountsFile(tmp, (prior.keySet ++ batch.keySet).iterator
      .map(id => id -> (prior.getOrElse(id, 0L) + batch.getOrElse(id, 0L)))
      .filter(_._2 != 0L).toMap)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(s"$indexDir/centroids/$AppendedCountsFile"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The persisted (clusterId, centroid) pairs, id-ordered. Ids need not
    * be positions (see the object doc) — use this, not [[centroids]],
    * wherever a ranked position must map back to a stored id. The schema
    * is the one [[writeCentroids]] writes, declared: a new version's
    * directory costs no schema-inference job. The k rows are sorted on the
    * driver after the collect, so the read is one Spark job (an `orderBy`
    * would plan a range exchange: a sampling job and a map-stage job more). */
  def centroidEntries(spark: SparkSession, indexDir: String): Seq[(Int, Array[Float])] = {
    import spark.implicits._
    spark.read.schema(CentroidSchema).parquet(s"$indexDir/centroids")
      .as[(Int, Array[Float])].collect().toSeq.sortBy(_._1)
  }

  private val CentroidSchema =
    StructType(Seq(StructField("cluster", IntegerType), StructField("centroid", ArrayType(FloatType))))

  /** The persisted centroid matrix, cluster-id-ordered. */
  def centroids(spark: SparkSession, indexDir: String): Array[Array[Float]] =
    centroidEntries(spark, indexDir).map(_._2).toArray

  /** Top-k by cosine over the `nprobe` clusters nearest the probe: loads
    * a [[Snapshot]] of `indexDir` and searches it. The cluster restriction
    * is an `isin` on the PARTITION column — directory pruning at the scan,
    * verified in SimilaritySpec. */
  def search(
      spark: SparkSession,
      indexDir: String,
      probe: Array[Float],
      k: Int,
      nprobe: Int = 2): DataFrame =
    search(snapshot(spark, indexDir), probe, k, nprobe)

  /** One index directory resolved for serving: the centroid entries on the
    * driver and a relation over `data/` whose file index was listed when
    * it was created. Searching a snapshot costs one Spark job. A version
    * that only a pointer flip replaces (the engine's versioned container)
    * can serve many queries from one snapshot; an index appended to in
    * place must be loaded again after each [[append]]. */
  private[graft] final case class Snapshot(entries: Seq[(Int, Array[Float])], data: DataFrame) {
    val matrix: Array[Array[Float]] = entries.map(_._2).toArray
  }

  /** Load a [[Snapshot]]: centroids first, then the data listing (every
    * writer puts a cluster's directory in place before the centroid file
    * names it, so every id read here has its directory). `idType`
    * declares the data schema (no inference job); without it the schema
    * is inferred once per directory signature. */
  private[graft] def snapshot(
      spark: SparkSession, indexDir: String, idType: Option[DataType] = None): Snapshot = {
    val entries = centroidEntries(spark, indexDir)
    val path = s"$indexDir/data"
    val data = idType.fold(graft.sources.Tables.cachedParquet(spark, path))(t =>
      spark.read.schema(StructType(Seq(StructField("id", t),
        StructField("embedding", ArrayType(FloatType)), StructField("cluster", IntegerType))))
        .parquet(path))
    Snapshot(entries, data)
  }

  private[graft] def search(snap: Snapshot, probe: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val ranked = SimilaritySearch.rankClusters(snap.matrix, probe, math.max(nprobe, 1))
    snap.data
      .where(col("cluster").isin(ranked.map(pos => snap.entries(pos)._1): _*))
      .select(col("id"),
        round(VectorOps.cosineFast(col("embedding"), lit(probe).cast("array<float>")), 6).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }
}
