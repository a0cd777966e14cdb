package graft

import org.apache.spark.sql.SparkSession

/** Scale-curve bench: times the heaviest queries on each given fixture
  * dir (min of `Repeats` runs each, same session confs as Bench) and
  * prints one JSON line per dir. Feed it two ScaleGen outputs (1× and R×)
  * and divide: a query whose seconds grow faster than R is super-linear
  * and needs a plan audit (BASELINE.md "Scale curve").
  *
  * The vector row: q94, the persisted-IVF read path (its index builds
  * once per dir on the first repeat; min-of-repeats reports the pruned
  * SEARCH, the quantity whose scaling matters). The bucket-blocked pair
  * join (q27) is deliberately NOT here: fixed-bits sign blocking has a
  * fixed 2^bits key space, so its candidate volume is inherently
  * quadratic in corpus size — the guard bounds the work, but the honest
  * scale path for vectors is IVF.
  *
  * Usage: runMain graft.ScaleBench <dir1> <dir2> ...
  * SPARK_GRAFT_QUERIES=qA,qB restricts the run to a subset of Heavy —
  * for pushing single watch-queries one more decade without paying for
  * the whole list at the largest fixture.
  */
object ScaleBench {
  val Heavy = Seq(
    "q93_cdc_cycle", "q53_dedup_clusters_star", "q45_dedup_clusters",
    "q65_curation_pipeline", "q18_minhash_lsh", "q63_ngram_lm_score",
    "q69_substring_dup", "q71_bloom_decontamination", "q94_ivf_ann",
    "q75_df_prune", "q76_epoch_shuffle", "q57_decontamination",
    // r12: the two-phase exact rank bracket (RankStats) and the
    // proportional multimodal decode slice — both newly data-tracking
    "q95_sketches", "q92_multimodal",
    // r13: the exact-distinct core on the ladder in its own right — its
    // no-Expand shape and input-scaled distinct width are regression-
    // pinned here, not just at sf0.1 (VERDICT r12 task 6)
    "q79_sketch_exact")
  // Standing regression pins (VERDICT r13 task 5): q93's staged-MVCC
  // cycle is watched at its REBUILT r13 shape — BASELINE.md "q93 record
  // audited and rebuilt": 19.4 s at sx125, 25→125 segment 1.8× (sub-
  // linear). Its sx625 point is measured single-disk-bound with a wide
  // spread ({158…420 s}), so decade pushes there follow the min-of-N
  // protocol (report the min, record the spread) — a single slow repeat
  // is the disk, not a plan regression.
  val Repeats = 2

  /** The ladder session: identical confs for every decade measurement
    * (and for `graft.Profile --ladder`, so stage records explain ladder
    * numbers, not some other configuration's) — the served conf at a
    * fixed 32-core width, plus the ladder's scale knobs. */
  def session(): SparkSession =
    GraftSession.builder("32")
      // shuffle.partitions is the small-data default; AQE starts wide and
      // coalesces DOWN per stage, so the big fixtures aren't pinned to 32
      // post-shuffle partitions. The initial width is the scale knob a
      // real cluster raises with data — overridable per run so decade
      // pushes can hold per-partition size constant instead of letting
      // per-partition hash relations grow with the fixture
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256"))
      // scan-side analog of INIT_PARTS: big fixtures read at the default
      // 128m/partition concentrate whole partial-aggregation key spaces
      // in few tasks (the exact-count-distinct spill knee measured at
      // sx625 — BASELINE.md r12); a cluster operator sizes this so the
      // per-task hash maps fit, so the decade pushes can too
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "128m"))
      // GraftSession's bypass-writer bar (512; q79 sx625 StageProbe A/B,
      // BASELINE.md r13), env-overridable here for ladder A/Bs
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESH", "512"))
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleBench <dir> [<dir> ...]")
    val Heavy = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(qs) => qs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None => this.Heavy
    }
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    // one untimed warmup of every heavy query on the first (smallest) dir
    // so codegen/classloading isn't charged to the first timed run.
    // Timing action = Bench.materialize (noop-sink write): count() lets
    // Catalyst prune expensive output columns and final sorts, which made
    // q75's whole reassembly pipeline vanish from the curve.
    Heavy.foreach { q =>
      try { Bench.materialize(SparkEntry.queries(q)(spark, args.head)) }
      catch { case e: Throwable => System.err.println(s"[scalebench] warmup $q: ${e.getMessage}") }
    }
    args.foreach { dir =>
      val times = Heavy.map { q =>
        // a failed repeat records NO time: a query that dies mid-run at a
        // given scale must show as -1 in the curve, never as a bogus
        // "fast" point (a silent broadcast-OOM at 125× once looked like a
        // sub-linear timing)
        val secs = (1 to Repeats).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            Bench.materialize(SparkEntry.queries(q)(spark, dir))
            val t = (System.nanoTime() - t0) / 1e9
            // Outside the timed window: drop the repeat's Materialize.shared
            // cache entries (CacheManager pins them — never GC-freed) and
            // GC so shuffle/broadcast cleanup races can't carry one
            // repeat's storage generation into the next (an sx125
            // back-to-back repeat at 8g once OOMed on exactly that race)
            spark.catalog.clearCache()
            System.gc()
            Some(t)
          } catch {
            case e: Throwable =>
              System.err.println(s"[scalebench] $q failed: ${e.getMessage}")
              spark.catalog.clearCache()
              None
          }
        }
        q -> (if (secs.nonEmpty) secs.min else -1.0)
      }
      val qs = times.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // -1 failure sentinels stay visible per-query but never sum into the
      // total (a crashed query must not make the curve point look faster)
      val failed = times.filter(_._2 < 0).map { case (k, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
      println(s"""{"dir":"$dir","queries":$qs,"failed":$failed,"total":${times.map(_._2).filter(_ >= 0).sum}}""")
    }
    spark.stop()
  }
}
