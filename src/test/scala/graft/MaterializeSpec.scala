package graft

import graft.operators.Materialize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the engine's materialization policy (operators/Materialize):
  * `shared` caches with LINEAGE KEPT (recoverable after storage loss),
  * `truncate` snapshots to RELIABLE files and cuts the plan (iterative
  * loops), `free`/`release` reclaim storage. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("shared caches eagerly and release drops the cache entry") {
    val df = (1 to 100).toDF("n").select(col("n"), (col("n") * 2).as("m"))
    val shared = Materialize.shared(df)
    assert(shared.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "shared must register a cache entry")
    assert(shared.count() == 100)
    Materialize.release(shared)
    assert(shared.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release must drop the cache entry")
  }

  test("shared keeps lineage: values survive cache loss by recompute") {
    val df = (1 to 50).toDF("n").select(col("n"), (col("n") + 7).as("m"))
    val shared = Materialize.shared(df)
    val before = shared.orderBy("n").collect().map(_.getInt(1)).toSeq
    // simulate total cache loss (the executor-failure analog local mode
    // can express): the plan must recompute from source, not fail
    shared.unpersist(true)
    val after = shared.orderBy("n").collect().map(_.getInt(1)).toSeq
    assert(before == after, "recompute after storage loss must reproduce the values")
  }

  test("truncate cuts the logical plan and survives iteration without nesting") {
    var df = (1 to 10).toDF("n")
    val depth0 = df.queryExecution.analyzed.collect { case p => p }.size
    for (_ <- 1 to 5) {
      df = Materialize.truncate(df.select((col("n") + 1).as("n")))
      val depth = df.queryExecution.analyzed.collect { case p => p }.size
      assert(depth <= depth0 + 1,
        s"each round's plan must stay O(1) deep after truncate, got $depth nodes")
    }
    assert(df.agg(sum(col("n"))).collect()(0).getLong(0) == (6 to 15).sum.toLong)
  }

  test("inputSizedSession: small bytes get an AQE-free width-4 clone, big bytes the session itself") {
    val widthBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val small = Materialize.inputSizedSession(spark, 600L << 10) // a sf0.1-sized corpus
    assert(!(small eq spark), "sub-threshold input must get a clone")
    assert(small.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(small.conf.get("spark.sql.adaptive.enabled") == "false")
    // shared context/cache, isolated conf — the loopWidthSession contract
    assert(small.sparkContext eq spark.sparkContext)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == widthBefore &&
      spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore,
      "the original session's conf must be untouched")
    val big = Materialize.inputSizedSession(spark, Materialize.SmallQueryBytes)
    assert(big eq spark, "at-threshold input must run the session unchanged")
  }

  test("observed metrics fire on an eager truncate (single-job CC rounds rely on this)") {
    // dedupClusters collapses each round to ONE job by riding its
    // convergence count on the checkpoint write via Dataset.observe —
    // this pins the Spark contract that the eager checkpoint action
    // delivers the observation (if it ever stopped, obs.get would hang
    // the loop rather than miscount, but pin it loudly here anyway)
    val obs = new org.apache.spark.sql.Observation("materialize_spec_obs")
    val df = (1 to 1000).toDF("x")
      .observe(obs, count(when(col("x") > 500, 1)).as("c"))
    val snap = Materialize.truncate(df)
    assert(obs.get("c").asInstanceOf[Long] == 500L,
      "observation must be delivered by the eager checkpoint action")
    assert(snap.count() == 1000)
    Materialize.free(snap)
  }

  test("truncate writes reliable files under the scratch dir; free deletes them") {
    val df = (1 to 1000).toDF("n")
    val snap = Materialize.truncate(df)
    val ckptFile = snap.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
      case other => fail(s"truncate must yield a checkpoint-backed plan, got ${other.getClass}")
    }
    assert(ckptFile.isDefined, "truncate must be a RELIABLE (file-backed) checkpoint")
    val path = new org.apache.hadoop.fs.Path(ckptFile.get)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(path), "checkpoint files must exist while the snapshot is live")
    assert(snap.count() == 1000)
    Materialize.free(snap)
    assert(!fs.exists(path), "free must delete the superseded snapshot's files")
  }

  test("rebind re-roots a plan on another session: clone width applies, caches and checkpoints are shared") {
    val s2 = Materialize.loopWidthSession(spark, rows = 100)
    assert(s2 ne spark)
    // a cached relation rebound to the clone resolves the SAME cache entry
    // (shared CacheManager) — no recompute, and downstream shuffles plan
    // at the clone's narrowed width
    val cached = Materialize.shared((1 to 64).toDF("n"))
    try {
      val bound = Materialize.rebind(cached, s2)
      assert(bound.sparkSession eq s2)
      assert(bound.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
        "rebound plan must read the home session's cache entry")
      val parts = bound.groupBy(col("n") % 4).count().rdd.getNumPartitions
      assert(parts == 1, s"rebound shuffle must plan at the clone's width, got $parts")
      // a checkpointed relation rebinds at zero cost (the plan reads files)
      val snap = Materialize.truncate((1 to 100).toDF("m"))
      val back = Materialize.rebind(Materialize.rebind(snap, s2), spark)
      assert(back.sparkSession eq spark)
      assert(back.count() == 100)
      Materialize.free(snap)
      // no-op when already on the target session
      assert(Materialize.rebind(cached, spark) eq cached)
    } finally Materialize.release(cached)
  }

  test("loopWidthSession clones with isolated narrowed conf; at-scale returns the same session") {
    val session = spark.conf.get("spark.sql.shuffle.partitions")
    val s2 = Materialize.loopWidthSession(spark, rows = 100)
    assert(s2 ne spark, "small rows must yield a narrowed clone")
    assert(s2.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(s2.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == session,
      "the clone's narrowing must never leak into the shared session")
    assert(s2.sparkContext eq spark.sparkContext, "clone shares the SparkContext")
    // relations built from the clone plan at its width
    import s2.implicits._
    val parts = (1 to 64).toDF("n").groupBy(col("n") % 4).count()
      .rdd.getNumPartitions
    assert(parts == 1, s"clone-built shuffle must use the narrowed width, got $parts")
    assert(Materialize.loopWidthSession(spark, rows = Long.MaxValue / 2) eq spark,
      "at-scale rows must return the original session untouched")
  }

  test("q45/q74 narrow via a session clone, never the shared conf (r12)") {
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    for (q <- Seq("q45_dedup_clusters", "q74_keep_best")) {
      val out = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      // the sf0.001 bounded input always justifies narrowing, so the
      // result must be rooted on an isolated clone...
      assert(out.sparkSession ne spark, s"$q must plan on a loop-width clone")
      assert(out.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(out.count() > 0)
      // ...and the shared session's conf must be untouched at every
      // point — including after execution (dedupClusters' nested
      // narrowing runs against the clone, not `spark`)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
    }
  }

  test("spreadNarrowScan spreads narrow scans but NO-OPS on exchange-bearing input (r19)") {
    // ADVICE r18: under AQE, .rdd on a plan containing exchanges forces
    // getFinalPhysicalPlan — eagerly RUNNING the shuffle stages at
    // plan-build time, unreused by the real execution. The helper must
    // therefore refuse anything that is not a pure scan/project/filter
    // chain (returning it untouched), while still spreading a degenerate
    // narrow scan.
    val dir = TestSpark.tempDir("graft_spread_").toString
    spark.range(100).selectExpr("id", "id * 2 as v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val scan = spark.read.parquet(s"$dir/t.parquet")
    val spreadOut = Materialize.spreadNarrowScan(scan, col("id"))
    assert(spreadOut.rdd.getNumPartitions >
      scan.rdd.getNumPartitions, "a 1-split scan must be spread to the session width")
    assert(spreadOut.orderBy("id").collect().map(_.getLong(0)).toSeq == (0L until 100L),
      "spreading must not change rows")
    val withShuffle = scan.groupBy(col("id") % 10).count()
    assert(Materialize.spreadNarrowScan(withShuffle, col("count")) eq withShuffle,
      "an exchange-bearing plan must be returned untouched (never .rdd-probed)")
  }
}
