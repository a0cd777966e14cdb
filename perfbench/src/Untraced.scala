package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** The measured run, tracing off; every end-to-end metric comes from here.
  * After set-up it runs one steady cycle and the workload's quiet cycles,
  * then sends `/query` requests in a closed loop until `seconds` have
  * passed since the steady cycle began, and for at least 0.6 × `seconds`.
  * Requests go out in whole triples (exact, sign-bucket, IVF) so every
  * run attempts the same mix. */
object Untraced {

  val K = 10
  val QuietCycles = 8

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Int, work: File,
      out: Outcome, sessionMs: Double, cores: Int): Unit = {
    val sc = new Scenario(spark, w, seed, work, out)
    val ((backfillMs, http, port), setupMs) = Stats.timed {
      val b = sc.setup()
      val h = new graft.ServeHttp(sc.engine)
      (b, h, h.start(0))
    }
    try {
      Main.log(f"set-up done, back-fill ${backfillMs / 1000}%.1f s")
      sc.reference // untimed: brute-force reference of the snapshot sink
      // untimed warm-up: one request per route, so the timed ones do not
      // pay the routes' first-use class loading and code generation
      Client.Routes.foreach(route =>
        out.record("warmup_query", sc.answerProblems(route, "warm up", K, Client.query(port, "warm up", K, route))))
      val start = System.nanoTime()
      val (steadyMs, landed) = sc.steady(0)
      Main.log(f"steady cycle ${steadyMs / 1000}%.1f s")
      val quietMs = (0 until QuietCycles).map(_ => sc.quiet())
      sc.unland(landed)
      sc.restore()
      // queries until `seconds` have passed since the steady cycle began,
      // and for at least 0.6 × `seconds`
      val deadline = math.max(start + seconds * 1000000000L, System.nanoTime() + seconds * 600000000L)

      val latency = Client.Routes.map(_.name -> ArrayBuffer.empty[Double]).toMap
      val order = ArrayBuffer.empty[String]
      val texts = Gen.queries(seed, 3000)
      val triples = new java.util.concurrent.atomic.AtomicInteger()
      val clients = math.max(1, math.min(2, cores))
      val (_, queryWallMs) = Stats.timed {
        val threads = (0 until clients).map(_ => new Thread(() => {
          var t = triples.getAndIncrement()
          while (t == 0 || (t < texts.size / 3 && System.nanoTime() < deadline)) {
            // rotate the route order, so concurrent triples mix routes
            (0 until 3).foreach { r =>
              val route = Client.Routes((t + r) % 3)
              val q = texts(3 * t + r)
              val (res, ms) = Stats.timed(Client.query(port, q, K, route))
              latency(route.name).synchronized { latency(route.name) += ms }
              order.synchronized { order += f"${route.name}:$ms%.0f" }
              out.record(s"query_${route.name}", sc.answerProblems(route, q, K, res))
            }
            t = triples.getAndIncrement()
          }
        }))
        threads.foreach(_.start())
        threads.foreach(_.join())
      }
      sc.recallGuards()
      val all = latency.values.flatten.toSeq
      out.metric("setup_s", (sessionMs + setupMs) / 1000, "s")
      out.metric("backfill_rows_per_s", w.tables * w.rowsPerTable / (backfillMs / 1000), "rows/s")
      out.metric("cycle_ms_p50", steadyMs, "ms")
      out.metric("quiet_cycle_ms_p50", Stats.median(quietMs), "ms")
      out.metric("exact_query_ms_p50", Stats.median(latency("exact").toSeq), "ms")
      out.metric("simb_query_ms_p50", Stats.median(latency("simb").toSeq), "ms")
      out.metric("ivf_query_ms_p50", Stats.median(latency("ivf").toSeq), "ms")
      out.metric("query_ms_p75", Stats.quantile(all, 0.75), "ms")
      out.metric("queries_per_s", all.size / (queryWallMs / 1000), "1/s")
      Main.log(s"latencies in completion order (ms): ${order.mkString(" ")}")
      Main.log(s"queries=${all.size} recall simb=${sc.meanRecall("simb")} ivf=${sc.meanRecall("ivf")}")
    } finally http.stop()
  }
}
