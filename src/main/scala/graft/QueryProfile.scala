package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The engine's one query profiler: a [[SparkListener]] attached for the
  * duration of one block (`QueryProfile(spark) { ... }`) that records the
  * jobs the block starts and the completed stages of those jobs, then
  * detaches — also when the block throws. The listener bus is drained
  * before the listener attaches and again before the records are read, so
  * a run holds exactly the block's jobs: one started before or after the
  * block is not counted. [[Profile]] prints the records as JSONL. */
final class QueryProfile private () extends SparkListener {
  import QueryProfile._

  private val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val ends = new ConcurrentHashMap[Int, Long]()
  private val completed = new ConcurrentLinkedQueue[StageInfo]()

  override def onJobStart(j: SparkListenerJobStart): Unit = { starts.put(j.jobId, j); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { completed.add(s.stageInfo); () }

  private def run[A](result: A, wallMs: Long): Run[A] = {
    val started = starts.asScala.values.toVector.sortBy(_.jobId)
    // each stage is billed to the first job that lists it: a shuffle map
    // stage a later job reuses is skipped there, never re-run
    val billedTo = started.flatMap(j => j.stageIds.map(_ -> j.jobId)).reverse.toMap
    val stages = completed.asScala.toVector.flatMap(i => billedTo.get(i.stageId).map { job =>
      val m = i.taskMetrics
      Stage(i.stageId, i.attemptNumber(), job, i.name.takeWhile(_ != '\n'),
        (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(-1L), i.numTasks,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime)
    }).sortBy(s => (s.id, s.attempt))
    val jobs = started.map { j =>
      Job(j.jobId,
        j.stageInfos.sortBy(_.stageId).map(_.name.takeWhile(_ != '+').trim).distinct.mkString(" | "),
        Option(ends.get(j.jobId)).fold(-1L)(_ - j.time), // -1: still running when the block returned
        stages.filter(_.job == j.jobId).map(_.tasks).sum)
    }
    Run(result, wallMs, jobs, stages)
  }
}

object QueryProfile {

  /** One job the block started: its call site, wall time from the
    * scheduler's start and end events, and tasks over its billed stages. */
  final case class Job(id: Int, site: String, wallMs: Long, tasks: Int)

  /** One completed stage attempt, with the task metrics that localize a
    * cost: volumes in records and bytes, spill, executor time. */
  final case class Stage(
      id: Int, attempt: Int, job: Int, name: String, wallMs: Long, tasks: Int,
      inputRecords: Long, inputBytes: Long,
      shuffleReadRecords: Long, shuffleReadBytes: Long,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long,
      runMs: Long, cpuMs: Long, gcMs: Long)

  /** What one profiled block did: its result and wall time, its jobs in
    * id order, its completed stages in (id, attempt) order. */
  final case class Run[A](result: A, wallMs: Long, jobs: Vector[Job], stages: Vector[Stage]) {
    def total(metric: Stage => Long): Long = stages.map(metric).sum
  }

  def apply[A](spark: SparkSession)(block: => A): Run[A] = {
    val sc = spark.sparkContext
    drainListenerBus(sc)
    val listener = new QueryProfile
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val result = block
      val wallMs = (System.nanoTime() - t0) / 1000000L
      drainListenerBus(sc)
      listener.run(result, wallMs)
    } finally sc.removeSparkListener(listener)
  }

  /** Block until every queued listener event has been delivered.
    * `SparkContext.listenerBus` is `private[spark]`, which erases to a
    * public accessor in bytecode — reflection reaches it without putting
    * profiler code inside Spark's package; a 200 ms settle is the fallback
    * if either signature ever moves. */
  private def drainListenerBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Exception => Thread.sleep(200) }
}
