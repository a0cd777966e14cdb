package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the engine (reference analog: process startup,
  * `app.py:14-16` + `utils/config.py:11-20` — there it loads a model and a
  * Pinecone client; here it configures a Spark session tuned for the
  * local[N] harness while keeping cluster-scale defaults sane).
  *
  * Scale notes (100 TB / 1000-executor design intent):
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
  *  - shuffle.partitions defaults to the harness core count locally; on a
  *    real cluster this is overridden by AQE's coalescing anyway.
  *  - UTC session timezone: deterministic timestamp semantics vs the oracle.
  *
  * [[builder]] is the only session builder: the bench, the oracle dump,
  * the scale ladder and the tests take it and add their own deltas with
  * `.config`, so every harness checks the conf the engine serves.
  */
object GraftSession {
  /** Scratch warehouse dir: no main/test ever creates managed tables, but
    * the session default (`./spark-warehouse`) litters the repo root on
    * first catalog touch — point it at tmp explicitly. */
  def warehouseDir: String =
    new java.io.File(sys.props("java.io.tmpdir"), "graft_warehouse").getAbsolutePath

  /** Session width: `SPARK_GRAFT_CPUS` when set, else the cores this JVM
    * may use — never a fixed width that oversubscribes a small host. */
  def builder(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // reliable-checkpoint files (Materialize.truncate) are GC'd with
      // their RDDs; the shutdown hook on the scratch dir is the backstop
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // Mid-width shuffles (the explicit input-scaled distinct widths, a
      // few hundred partitions) pay 5× the per-row CPU under the sort
      // shuffle writer vs the bypass writer (q79 @ sx625 StageProbe:
      // 1103 s vs 220 s CPU for the same 375M-row / 3.1 GB write;
      // per-row CPU is flat across decades under a fixed writer). 512
      // keeps those exchanges on the bypass writer; beyond it the sort
      // writer takes over with measured-constant per-row cost. Memory
      // bound: tasks-per-JVM × 512 × 32 KB file buffers ≈ 0.5 GB at 32
      // cores — the same arithmetic a cluster operator does per executor.
      .config("spark.shuffle.sort.bypassMergeThreshold", "512")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
