package graft

import graft.operators.{Cdc, IvfIndex}
import org.apache.spark.sql.functions._

/** Dev probe (VERDICT r15 task 6): how fast does IVF recall decay as
  * appends accumulate under STALE centroids — and what does the rebuild
  * buy back?
  *
  * [[IvfIndex.append]] routes new vectors to their nearest existing
  * centroid with no retraining. That is exact at nprobe=k (SimilaritySpec
  * pins it) but recall at small nprobe depends on how well the trained
  * centroids describe the CURRENT corpus. This probe measures the
  * adversarial case: appends drawn from a SHIFTED distribution (cluster
  * centers the base never saw), in batches up to 10× the trained base,
  * with recall@10 vs brute force over base ∪ appends at each point, each
  * beside a full rebuild over the same corpus. The resulting ladder
  * (BASELINE.md r16) is what `IvfIndex.DefaultRebuildFraction`, the
  * appended fraction at which `Engine.refreshIvfIndex` retrains, is set
  * from.
  *
  * Corpus: deterministic (id-seeded PRNG — reruns are bit-identical).
  * Base: nBase vectors around C unit-sphere-ish centers. Appends: same
  * construction around C NEW centers. Probes: half from base regions,
  * half from shifted regions — the mixed query load a drifted corpus
  * actually serves.
  *
  * Usage:
  *   tools/jvmrun.sh graft.IvfProbe [nBase [dim [k]]]          — the ladder
  *   tools/jvmrun.sh graft.IvfProbe bookkeeping [nBase [batches [batchN]]]
  *       — r18 (VERDICT r17 task 1): per-batch append wall as the index
  *       grows, with the audit recount timed beside it (= what the r17
  *       O(index-files) bookkeeping paid PER BATCH); append must stay flat
  * Prints one JSON line per checkpoint. */
object IvfProbe {

  private def center(dim: Int, seed: Long): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(dim)(r.nextFloat() * 2f - 1f)
  }

  /** id-seeded deterministic vector near the given center family. */
  private def makeVec(centers: Array[Array[Float]], id: Long, dim: Int,
      noise: Float): Array[Float] = {
    val c = centers(((id % centers.length) + centers.length).toInt % centers.length)
    val r = new java.util.Random(id * 2654435761L + 17L)
    Array.tabulate(dim)(j => c(j) + (r.nextFloat() * 2f - 1f) * noise)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("bookkeeping")) {
      runBookkeeping(
        args.lift(1).map(_.toInt).getOrElse(20000),
        args.lift(2).map(_.toInt).getOrElse(12),
        args.lift(3).map(_.toInt).getOrElse(1000))
      return
    }
    val nBase = args.lift(0).map(_.toInt).getOrElse(10000)
    val dim = args.lift(1).map(_.toInt).getOrElse(32)
    val k = args.lift(2).map(_.toInt).getOrElse(16)
    val nCenters = k
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val baseCenters = Array.tabulate(nCenters)(i => center(dim, 1000L + i))
    val shiftCenters = Array.tabulate(3 * nCenters)(i => center(dim, 9000L + i))

    def gen(ids: Range, centers: Array[Array[Float]], noise: Float): org.apache.spark.sql.DataFrame =
      spark.range(ids.head, ids.last + 1L)
        .as[Long]
        .map(id => (id, makeVec(centers, id, dim, noise)))
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))

    val dir = java.nio.file.Files.createTempDirectory("graft_ivfprobe").toString + "/idx"
    IvfIndex.build(gen(0 until nBase, baseCenters, 0.15f), "vec_id", "embedding", dir,
      k = k, iters = 3)

    // mixed probe load: half base-region, half shifted-region
    val probes: Seq[Array[Float]] =
      (0 until 10).map(i => makeVec(baseCenters, 777000L + i, dim, 0.15f)) ++
      (0 until 10).map(i => makeVec(shiftCenters, 888000L + i, dim, 0.45f))

    def recallAt(idxDir: String, nprobe: Int): Double = {
      val all = spark.read.parquet(s"$idxDir/data")
      val per = probes.map { p =>
        val brute = all
          .select(col("id"),
            round(graft.functions.VectorOps.cosineFast(
              col("embedding"), lit(p).cast("array<float>")), 6).as("score"))
          .orderBy(desc("score"), col("id")).limit(10)
          .collect().map(_.getLong(0)).toSet
        val ivf = IvfIndex.search(spark, idxDir, p, k = 10, nprobe = nprobe)
          .collect().map(_.getLong(0)).toSet
        (ivf intersect brute).size / 10.0
      }
      per.sum / per.size
    }

    // Recall at SCANNED FRACTIONS 1/16, 2/16, 4/16 of the clusters:
    // nprobe 1/2/4 on the k=16 indexes (the r16 ladder).
    def report(idxDir: String, tag: String): Unit = {
      val kCur = IvfIndex.centroidEntries(spark, idxDir).size
      def np(f: Double) = math.max(1, math.ceil(f * kCur).toInt)
      val (n1, n2, n4) = (np(1.0 / 16), np(2.0 / 16), np(4.0 / 16))
      val frac = IvfIndex.appendedFraction(idxDir)
      val r1 = recallAt(idxDir, n1)
      val r2 = recallAt(idxDir, n2)
      val r4 = recallAt(idxDir, n4)
      println(f"""{"probe":"ivf_staleness","point":"$tag","centroids":$kCur,"appended_fraction":$frac%.2f,"recall10_frac1":$r1%.3f,"recall10_frac2":$r2%.3f,"recall10_frac4":$r4%.3f,"nprobes":"$n1/$n2/$n4","should_rebuild":${frac >= IvfIndex.DefaultRebuildFraction}}""")
    }

    report(dir, "base")
    // shifted appends: to 1x, then 5x, then 10x of the trained base; at
    // each point compare STALE vs FULL REBUILD, with files-rewritten counts
    var appendedTo = 0
    Seq(1, 5, 10).foreach { mult =>
      val target = nBase * mult
      val batch = gen(nBase + appendedTo until nBase + target, shiftCenters, 0.45f)
      IvfIndex.append(batch, "vec_id", "embedding", dir)
      appendedTo = target
      report(dir, s"append_${mult}x_stale")

      val rebDir = s"$dir-reb$mult"
      val tReb0 = System.nanoTime()
      IvfIndex.build(spark.read.parquet(s"$dir/data").select(col("id").as("vec_id"),
        col("embedding")), "vec_id", "embedding", rebDir, k = k, iters = 3)
      val rebMs = (System.nanoTime() - tReb0) / 1e6
      println(f"""{"probe":"ivf_rebuild","point":"append_${mult}x","files_written":${countFiles(s"$rebDir/data")},"rebuild_ms":$rebMs%.0f}""")
      report(rebDir, s"append_${mult}x_rebuilt")
    }
    Cdc.deleteRecursively(new java.io.File(dir).getParentFile) // the index and its rebuilds
    spark.stop()
  }

  /** The r18 append ladder (VERDICT r17 task 1): fixed-size batches into a
    * growing index. The evidence is the SHAPE — `append_ms` must stay flat
    * while the index's file count multiplies, because bookkeeping is now
    * one O(batch) aggregation + a sidecar merge; `audit_recount_ms` (the
    * full footer walk, timed beside it) is exactly what the r17 shape paid
    * INSIDE every append and grows linearly with files — at a 100 TB
    * index (~800k files) that term alone is hours per batch. The probe
    * also asserts sidecar == recount at every step (the audit contract). */
  private def runBookkeeping(nBase: Int, batches: Int, batchN: Int): Unit = {
    val (dim, k) = (32, 16)
    val spark = Bench.buildSession()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val baseCenters = Array.tabulate(k)(i => center(dim, 1000L + i))
    def gen(ids: Range): org.apache.spark.sql.DataFrame =
      spark.range(ids.head, ids.last + 1L).as[Long]
        .map(id => (id, makeVec(baseCenters, id, dim, 0.15f)))
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))

    val dir = java.nio.file.Files.createTempDirectory("graft_ivfbk").toString + "/idx"
    IvfIndex.build(gen(0 until nBase), "vec_id", "embedding", dir, k = k, iters = 2)
    // one warmup append pays JIT/codegen so batch 1 isn't inflated
    IvfIndex.append(gen(nBase until nBase + batchN), "vec_id", "embedding", dir)

    (1 to batches).foreach { b =>
      val lo = nBase + b * batchN
      val batch = gen(lo until lo + batchN)
      val t0 = System.nanoTime()
      IvfIndex.append(batch, "vec_id", "embedding", dir)
      val appendMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val audit = IvfIndex.recountClusterRows(dir)
      val auditMs = (System.nanoTime() - t1) / 1e6
      require(IvfIndex.sidecarClusterRows(dir) == audit,
        s"sidecar diverged from footer truth at batch $b")
      val files = countFiles(s"$dir/data")
      println(f"""{"probe":"ivf_bookkeeping","batch":$b,"index_rows":${lo + batchN},"index_files":$files,"append_ms":$appendMs%.0f,"audit_recount_ms":$auditMs%.1f}""")
    }
    Cdc.deleteRecursively(new java.io.File(dir).getParentFile)
    spark.stop()
  }

  private def countFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }
}
