package perfbench

import graft.operators.Cdc
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** Input shape of a workload. Every workload runs the same service
  * scenario: back-fill a seeded multi-table source into an empty sink and
  * build the IVF index, then one steady cycle (a seeded delta lands in
  * `deltaTables` tables), cycles in which nothing changed, and `/query`
  * requests for the rest of the run. What differs is the input. */
final case class Workload(
    name: String,
    tables: Int,
    rowsPerTable: Int,
    chunkSize: Int,
    deltaTables: Int,
    deltaRows: Int)

object Workload {
  val all: Map[String, Workload] = Seq(
    // one table of four changes per cycle; 10-row chunks keep the sink small
    Workload("quiet_fleet", tables = 4, rowsPerTable = 100, chunkSize = 10,
      deltaTables = 1, deltaRows = 30),
    // the only table changes every cycle, with a larger delta; 4-row
    // chunks make the sink nearly four times as large and its one root
    // span more than 32 bucket directories (see the README)
    Workload("hot_table", tables = 1, rowsPerTable = 600, chunkSize = 4,
      deltaTables = 1, deltaRows = 100)
  ).map(w => w.name -> w).toMap
}

/** Operation accounting and the metrics of one run. */
final class Outcome {
  private var attemptedN = 0L
  private var failedN = 0L
  val problems = ArrayBuffer.empty[String]
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Count one operation; it fails when its checks found problems. */
  def record(op: String, found: Seq[String]): Unit = synchronized {
    attemptedN += 1
    if (found.nonEmpty) {
      failedN += 1
      if (problems.size < 20) problems += s"$op: ${found.take(3).mkString("; ")}"
    }
  }

  def metric(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit); ()
  }
}

/** One run of the scenario on a workload. `cycle` runs one sync cycle and
  * returns rows synced per table; the untraced run passes
  * `Engine.runSyncCycle`, the traced run a span-recording rebuild of it. */
class Scenario(val spark: SparkSession, val w: Workload, val seed: Long, val work: File,
    val out: Outcome) {

  val ns: String = Cdc.DefaultNamespace
  val srcDir = new File(work, "source")
  val stateDir = new File(work, "state")
  val sinkDir = new File(work, "sink")
  private val snapDir = new File(work, "snapshot")
  val src: Gen.Source = Gen.newSource(srcDir, w.tables)
  val engine = new graft.Engine(spark, srcDir.getPath, stateDir.getPath, sinkDir.getPath,
    chunkSize = w.chunkSize)

  def cycle(): Map[String, Long] = engine.runSyncCycle()
  def buildIvf(): Unit = engine.refreshIvfIndex()

  private def rng(tag: Int, j: Int): java.util.Random =
    new java.util.Random(seed * 1000003L + tag * 7919L + j)

  /** Generate the source, back-fill it into an empty sink, build the IVF
    * index and snapshot the result.
    * Returns the back-fill wall time (first sync + IVF build) in ms. */
  def setup(): Double = {
    val g = rng(1, 0)
    src.tables.foreach(t => src.land(g, t, w.rowsPerTable))
    engine.initializeIndex()
    val (synced, ms) = Stats.timed { val s = cycle(); buildIvf(); s }
    out.record("backfill", syncedProblems(synced, src.tables.map(_ -> w.rowsPerTable.toLong).toMap) ++
      sinkProblems())
    copyTree(sinkDir, new File(snapDir, "sink"))
    copyTree(stateDir, new File(snapDir, "state"))
    ms
  }

  /** Land the `j`-th seeded delta of a sequence; returns what to undo. */
  def landDelta(tag: Int, j: Int): Seq[(String, File)] = {
    val g = rng(tag, j)
    val picked = scala.util.Random.javaRandomToRandom(g).shuffle(src.tables).take(w.deltaTables)
    picked.map(t => t -> src.land(g, t, w.deltaRows))
  }

  def unland(landed: Seq[(String, File)]): Unit = landed.foreach { case (t, f) =>
    Files.delete(f.toPath)
    src.unland(t, w.deltaRows)
  }

  /** Put sink and watermark state back to the snapshot taken by setup. */
  def restore(): Unit = {
    deleteTree(sinkDir); deleteTree(stateDir)
    copyTree(new File(snapDir, "sink"), sinkDir)
    copyTree(new File(snapDir, "state"), stateDir)
  }

  /** Rows synced per table must be exactly what the generator landed
    * since the last cycle. */
  def syncedProblems(synced: Map[String, Long], landed: Map[String, Long]): Seq[String] =
    src.tables.flatMap { t =>
      val (got, want) = (synced.getOrElse(t, 0L), landed.getOrElse(t, 0L))
      if (got != want) Some(s"table $t synced $got rows, $want landed") else None
    }

  private def landedRows(landed: Seq[(String, File)]): Map[String, Long] =
    landed.map { case (t, _) => t -> w.deltaRows.toLong }.toMap

  /** The full set of sink checks (see [[Checks]]). */
  def sinkProblems(): Seq[String] = {
    val vecs = SinkReader.vectors(sinkDir, ns)
    Checks.rowsCovered(vecs, src.written.map { case (t, rs) => t -> rs.map(_.eventId).toSeq }) ++
      Checks.idsUnique(vecs) ++
      Checks.embeddingsUnit(vecs) ++
      Checks.watermarks(Cdc.readWatermarkMap(stateDir.getPath),
        src.tables.map(t => t -> src.maxTs(t)).toMap) ++
      Checks.ivfMatchesSink(SinkReader.ivfIds(sinkDir, ns), vecs.map(_.id))
  }

  /** One steady cycle from the snapshot state: land delta `j`, sync, check.
    * Returns its wall time and leaves the delta landed. */
  def steady(j: Int): (Double, Seq[(String, File)]) = {
    restore()
    val landed = landDelta(3, j)
    val (synced, ms) = Stats.timed(cycle())
    out.record("steady_cycle", syncedProblems(synced, landedRows(landed)) ++ sinkProblems())
    (ms, landed)
  }

  /** One quiet cycle: nothing changed since the last one. */
  def quiet(): Double = {
    val before = SinkReader.manifestPointer(sinkDir)
    val (synced, ms) = Stats.timed(cycle())
    out.record("quiet_cycle", Checks.noopCycle(synced, before, SinkReader.manifestPointer(sinkDir)))
    ms
  }

  /** Reference for the query checks: the snapshot sink's vectors. */
  lazy val reference: Vector[SinkReader.Vec] = { restore(); SinkReader.vectors(sinkDir, ns) }

  /** recall@10 of every approximate answer, by route. */
  private val recalls = Map("simb" -> ArrayBuffer.empty[Double], "ivf" -> ArrayBuffer.empty[Double])

  /** Check one answer of a route against the brute-force reference. */
  def answerProblems(route: Client.Route, q: String, k: Int, res: Client.Response): Seq[String] = {
    val http = Checks.httpAnswer(route, res)
    if (http.nonEmpty) http else rowProblems(route, q, k, res.rows)
  }

  def rowProblems(route: Client.Route, q: String, k: Int, rows: Seq[(String, Double)]): Seq[String] = {
    val ranking = Checks.bruteForce(reference, graft.functions.Embeddings.embed(q))
    val cos = ranking.toMap
    recalls.get(route.name).foreach(rs => rs.synchronized { rs += Checks.recall(rows, ranking, k); () })
    if (route == Client.Exact) Checks.exactMatches(rows, ranking, cos, k)
    else Checks.scoresTrue(rows, cos)
  }

  /** Recall floors (README): the share of the brute-force top-10 the
    * approximate routes must find on average over a run. */
  val RecallFloors: Map[String, Double] = Map("simb" -> 0.2, "ivf" -> 0.15)

  def recallGuards(): Unit = RecallFloors.toSeq.sorted.foreach { case (route, floor) =>
    val mean = meanRecall(route)
    out.record(s"recall_guard_$route",
      if (mean >= floor) Nil else Seq(f"$route mean recall@10 $mean%.3f below floor $floor%.2f"))
  }

  def meanRecall(route: String): Double = recalls(route).synchronized {
    val rs = recalls(route)
    if (rs.isEmpty) 0.0 else rs.sum / rs.size
  }

  def copyTree(from: File, to: File): Unit = {
    val base = from.toPath
    Files.walk(base).forEach { p =>
      val target = to.toPath.resolve(base.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES, StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}
