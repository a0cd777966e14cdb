package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** In-memory span recorder for the traced run. Spans are taken only
  * around calls into the program's public entry points, in this
  * benchmark's own code; nothing inside the program is instrumented.
  *
  * A span has a name (the layer), start/end (ns, monotonic), a parent span
  * id and an operation id shared by every span of one operation (one
  * cycle, one query). The parent is tracked per thread, so spans opened
  * on the cycle's table workers attach to the span that forked them. */
final class Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: String)

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new InheritableThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  /** Run `f` as a new root operation `op`. */
  def op[A](op: String, name: String)(f: => A): A = {
    val saved = current.get()
    current.set((0L, op))
    try span(name)(f) finally current.set(saved)
  }

  def span[A](name: String)(f: => A): A = {
    val (parent, op) = current.get()
    val id = ids.incrementAndGet()
    current.set((id, op))
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
      current.set((parent, op))
    }
  }

  /** Context to hand to a worker thread from a pool created before the
    * span opened (pools do not inherit thread locals after creation). */
  def context: (Long, String) = current.get()
  def withContext[A](ctx: (Long, String))(f: => A): A = {
    val saved = current.get()
    current.set(ctx)
    try f finally current.set(saved)
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.start)
  }

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => Stats.ms(s.end - s.start))

  /** Per-operation sums (ms) of the spans with any of `names`, for the
    * operations whose root span has name `root`. */
  def perOp(root: String, names: String*): Seq[Double] = {
    val a = all
    val ops = a.filter(s => s.name == root && s.parent == 0L).map(_.op).toSet
    a.filter(s => names.contains(s.name) && ops(s.op)).groupBy(_.op).values
      .map(_.map(s => Stats.ms(s.end - s.start)).sum).toSeq
  }

  /** Self time per span name: duration minus the union of its direct
    * children's intervals, summed over all spans of that name. */
  def selfTimes: Map[String, Double] = {
    val a = all
    val children = a.groupBy(_.parent)
    a.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
          .filter { case (x, y) => y > x }.sortBy(_._1)
        var covered = 0L
        var (cs, ce) = (Long.MinValue, Long.MinValue)
        kids.foreach { case (x, y) =>
          if (x > ce) { if (ce > cs) covered += ce - cs; cs = x; ce = y }
          else ce = math.max(ce, y)
        }
        if (ce > cs) covered += ce - cs
        Stats.ms(s.end - s.start - covered)
      }.sum
    }
  }

  def writeJsonl(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"kind":"span","id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${Json.str(s.op)}}""")
    } finally w.close()
  }
}

/** Spark scheduling counters from a listener this benchmark registers:
  * jobs, tasks, shuffle bytes written and bytes spilled. Read them only
  * after [[drain]], since listener events are delivered asynchronously. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
    ()
  }

  /** Block until every queued listener event has been delivered.
    * `SparkContext.listenerBus` is `private[spark]`, which is a public
    * method in bytecode, so reflection reaches it. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  import SparkCounters.Snapshot

  def snapshot(): Snapshot = {
    drain()
    Snapshot(jobs.get, tasks.get, shuffleWriteBytes.get, spillBytes.get)
  }

  /** Counter deltas over `f`. */
  def over[A](f: => A): (A, Snapshot) = {
    val s0 = snapshot()
    val r = f
    (r, snapshot() - s0)
  }
}

object SparkCounters {
  final case class Snapshot(jobs: Long, tasks: Long, shuffleBytes: Long, spillBytes: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(jobs - o.jobs, tasks - o.tasks, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (java.lang.Double.isFinite(d)) java.math.BigDecimal.valueOf(d).toPlainString else "null"
}
