package graft

import graft.sources.Tables
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale-curve fixture generator: writes an R×-replicated copy of a
  * fixture dir's `documents`, `events`, `embeddings`, and `lineitem`
  * tables (the inputs of the heavy queries) so the same query can be
  * timed at several scale factors and its scaling exponent measured
  * (BASELINE.md "Scale curve").
  *
  * Replication is LINEAR BY CONSTRUCTION — each replica is disjoint from
  * every other in the dimensions the heavy operators join/group on:
  *  - `documents`: ids offset per replica; every token of replica r > 0
  *    is suffixed with `~r`, so replicas share no tokens, shingles, or
  *    band buckets — near-dup pair counts, CC components, and bigram-LM
  *    models grow exactly R×, never quadratically (naive duplication
  *    would turn every former pair into R² pairs and poison the curve).
  *  - `events`: ids and user_ids offset per replica — per-user event
  *    counts stay constant, the number of users grows R× (the realistic
  *    scaling model for a CDC/session workload).
  *  - `embeddings`: ids offset per replica; replica r sign-flips the
  *    leading dims named by r's bits — an isometry, so within-replica
  *    cosines (and thus IVF/kNN structure per replica) are preserved
  *    exactly. NOTE the flips only REDISTRIBUTE sign buckets (bucket maps
  *    to bucket XOR r — a permutation of the shared 2^bits key space, not
  *    disjointness), so bucket-blocked PAIR counts are not linear in R;
  *    fixed-bits sign blocking has a fixed key space and is not the
  *    vector scale path (IVF is — its key space grows with k). The
  *    embeddings replica feeds the IVF search row of the scale curve.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <replicas>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, repStr) = args
    val reps = repStr.toInt
    require(reps >= 1, s"replicas must be >= 1, got $reps")
    val spark = GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rcol = explode(array((0 until reps).map(i => lit(i)): _*))

    // SPARK_GRAFT_TABLES=a,b regenerates only the named tables into an
    // existing fixture dir (e.g. backfilling lineitem under a dir whose
    // document/event replicas already exist) — same contract style as
    // ScaleBench/Verify's SPARK_GRAFT_QUERIES
    val want: String => Boolean = sys.env.get("SPARK_GRAFT_TABLES") match {
      case Some(ts) => ts.split(',').map(_.trim).filter(_.nonEmpty).toSet
      case None => (_: String) => true
    }

    val DocIdOffset = 10000000L   // per-replica id stride (documents, users, vectors)
    val EventIdOffset = 100000000L
    val FlipBits = 7              // sign-flip dims for embedding replicas (≤ 2^7 replicas)

    // Replica disjointness is the tool's whole guarantee: a source id at or
    // beyond the stride would silently collide across replicas and corrupt
    // the linearity of the curve — fail fast instead.
    def requireBelow(table: String, idCol: String, offset: Long): Unit = {
      val src = Tables.table(spark, srcDir, table)
      val mx = src.agg(max(col(idCol))).collect()(0).getLong(0)
      require(mx < offset,
        s"$table.$idCol max $mx >= replica offset $offset: replicas would collide")
    }
    if (want("documents")) requireBelow("documents", "doc_id", DocIdOffset)
    if (want("events")) {
      requireBelow("events", "event_id", EventIdOffset)
      requireBelow("events", "user_id", DocIdOffset)
    }
    if (want("embeddings")) requireBelow("embeddings", "vec_id", DocIdOffset)
    // embeddings disjointness uses sign-flips over the leading FlipBits
    // dims (see below): distinct per-replica flip patterns exist only up
    // to 2^FlipBits replicas. Beyond that the embeddings table is SKIPPED
    // rather than generated with a broken disjointness guarantee — the
    // queries pushed past 128× on the curve are document/event ones
    // (q63, q69); the vector rows stop at 128×.
    val withVectors = reps <= (1 << FlipBits)
    if (!withVectors)
      System.err.println(s"[scalegen] WARN $reps replicas > ${1 << FlipBits}: " +
        "embeddings table skipped (flip-pattern disjointness exhausted); " +
        "only document/event queries can run on this fixture")

    val docs = Tables.table(spark, srcDir, "documents")
      .withColumn("r", rcol)
      .select(
        (col("doc_id") + col("r").cast("long") * DocIdOffset).as("doc_id"),
        // The replica marker must survive tokenization as PART of each
        // token: TextOps.tokens splits on [^a-z0-9]+, so a "~r" suffix
        // detached into its own digit token — every original token kept
        // its identity and the digit interleave halved the effective
        // n-gram order of every window/shingle (measured: q69's 8-token
        // window pairs grew 644× at 25× data because replica windows
        // covered only 4 real words). "qq<r>" keeps the suffix inside the
        // token ("alpha" -> "alphaqq3"): same token COUNT and stream
        // structure as the source, all tokens replica-disjoint, so
        // windows, shingles, and bigram models replicate exactly R×.
        when(col("r") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "), t => concat(t, lit("qq"), col("r"))), " "))
          .as("text"),
        col("lang"), col("source"))
      // the token suffixes lengthen the text, so n_chars is recomputed
      // from the replica's actual text rather than copied stale
      .withColumn("n_chars", length(col("text")).cast("long"))
    val nDocs = if (want("documents")) {
      docs.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
      docs.count()
    } else -1L

    val events = Tables.table(spark, srcDir, "events")
      .withColumn("r", rcol)
      .select(
        (col("event_id") + col("r").cast("long") * EventIdOffset).as("event_id"),
        col("ts"),
        (col("user_id") + col("r").cast("long") * DocIdOffset).as("user_id"),
        col("event_type"), col("value"), col("props"))
    val nEvents = if (want("events")) {
      events.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")
      events.count()
    } else -1L

    // embeddings: replica r negates dimension i (i < FlipBits) iff bit i of
    // r is set. Sign-flipping a FIXED dim subset is an isometry — dot
    // products and cosines WITHIN a replica are preserved exactly, so
    // near-dup pair counts grow exactly R× — while the leading sign-bucket
    // bits become base XOR r, placing replicas in DISJOINT buckets (no
    // cross-replica candidate can meet in a bucket-local join).
    val nVecs = if (withVectors && want("embeddings")) {
      val embeddings = Tables.table(spark, srcDir, "embeddings")
        .withColumn("r", rcol)
        .select(
          (col("vec_id") + col("r").cast("long") * DocIdOffset).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i < FlipBits &&
              pmod(floor(col("r").cast("double") / pow(lit(2.0), i.cast("double"))).cast("long"), lit(2)) === 1,
              -x).otherwise(x)).as("embedding"),
          col("label"))
      embeddings.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
      embeddings.count()
    } else 0L

    // lineitem: the TPC-H fact behind the sketch family (q95/q79). Key
    // columns get the replica stride so distinct-part counts grow exactly
    // R×; measures (flag, price, quantity, dates) replicate unchanged, so
    // per-flag row counts and every order statistic's RANK scale by R
    // while the value domain stays fixed — precisely what a rank-bracket
    // ladder row should measure.
    //
    // Write shape: repartition the SMALL source BEFORE the explode and
    // write straight after it — never shuffle the exploded output. The
    // post-explode repartition the other tables use is tolerable at their
    // volumes, but lineitem×625 is ~375M wide rows and the row shuffle
    // wrote tens of GB before producing a single file (measured r12; the
    // pre-explode shuffle moves ~40 MB for the identical data).
    val nLi = if (want("lineitem")) {
      requireBelow("lineitem", "l_orderkey", EventIdOffset)
      requireBelow("lineitem", "l_partkey", DocIdOffset)
      requireBelow("lineitem", "l_suppkey", DocIdOffset)
      val li = Tables.table(spark, srcDir, "lineitem")
        .repartition(32).withColumn("r", rcol)
      val liCols = li.columns.filter(_ != "r").map {
        case c @ "l_orderkey" => (col(c) + col("r").cast("long") * EventIdOffset).as(c)
        case c @ ("l_partkey" | "l_suppkey") => (col(c) + col("r").cast("long") * DocIdOffset).as(c)
        case c => col(c)
      }
      val lineitem = li.select(liCols.toIndexedSeq: _*)
      lineitem.write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")
      lineitem.count()
    } else -1L

    println(s"""{"out":"$outDir","replicas":$reps,"documents":$nDocs,"events":$nEvents,"embeddings":$nVecs,"lineitem":$nLi}""")
    spark.stop()
  }
}
