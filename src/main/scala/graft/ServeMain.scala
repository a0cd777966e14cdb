package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The runnable service entry point — the analog of the reference's
  * process (`app.py:5-18`: bootstrap + `initialize_index()` + the
  * scheduler thread; `controller/controller.py:17-35`: the poll loop).
  * The reference's Flask app registers no routes, so its ONLY live
  * surfaces are the poll cycle and the latent query path — both wired
  * here: bootstrap the sink, poll CDC cycles on a fixed delay, and
  * (optionally) answer a similarity query against the synced index.
  *
  * Usage:
  * {{{
  * runMain graft.ServeMain <sourceDir> <stateDir> <sinkDir>
  *   [--interval <sec>]   poll delay, default 300 (reference: time.sleep(300))
  *   [--cycles <n>]       bound the loop (default: run forever, like app.py)
  *   [--query <text>]     after polling, print top-k for this text query
  *   [--k <n>]            result count, default 10
  *   [--nprobe <n>]       >0 = ANN bucket pruning; 0 = exact scan (default)
  *   [--http [host:]port] serve /health /stats /watermarks /query while polling
  *                        (0 = ephemeral; loopback unless a host is given)
  * }}}
  */
object ServeMain {

  final case class Config(
      sourceDir: String,
      stateDir: String,
      sinkDir: String,
      intervalSeconds: Long = 300,
      maxCycles: Int = Int.MaxValue,
      query: Option[String] = None,
      k: Int = 10,
      nprobe: Int = 0,
      httpPort: Option[Int] = None,
      httpHost: Option[String] = None)

  def parse(args: Array[String]): Config = {
    require(args.length >= 3,
      "usage: ServeMain <sourceDir> <stateDir> <sinkDir> [--interval s] [--cycles n] [--query text] [--k n] [--nprobe n] [--http [host:]port]")
    var cfg = Config(args(0), args(1), args(2))
    var i = 3
    while (i < args.length) {
      args(i) match {
        case "--interval" => cfg = cfg.copy(intervalSeconds = args(i + 1).toLong); i += 2
        case "--cycles"   => cfg = cfg.copy(maxCycles = args(i + 1).toInt); i += 2
        case "--query"    => cfg = cfg.copy(query = Some(args(i + 1))); i += 2
        case "--k"        => cfg = cfg.copy(k = args(i + 1).toInt); i += 2
        case "--nprobe"   => cfg = cfg.copy(nprobe = args(i + 1).toInt); i += 2
        case "--http" =>
          val v = args(i + 1)
          val colon = v.lastIndexOf(':')
          cfg = cfg.copy(httpPort = Some(v.substring(colon + 1).toInt),
            httpHost = if (colon < 0) None else Some(v.substring(0, colon)))
          i += 2
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    cfg
  }

  /** The full service wiring on an existing session: bootstrap → poll →
    * optional query. Returns the query's result plan (un-collected) so
    * callers/tests can inspect it; [[main]] prints it. */
  def run(spark: SparkSession, cfg: Config): Option[DataFrame] = {
    if (cfg.query.isDefined && cfg.maxCycles == Int.MaxValue)
      System.err.println(
        "[serve] WARN --query with an unbounded poll loop never reaches the query; pass --cycles n to bound the loop")
    val engine = new Engine(spark, cfg.sourceDir, cfg.stateDir, cfg.sinkDir)
    engine.initializeIndex() // create-if-absent, app.py:14
    // --http: listen while polling (app.py's app object, with routes the
    // reference never registered — see ServeHttp). Bounded runs stop the
    // server when the poll loop returns; unbounded runs serve until kill.
    val http = cfg.httpPort.map { p =>
      val api = new ServeHttp(engine)
      cfg.httpHost.fold(api.start(p))(h => api.start(p, java.net.InetAddress.getByName(h)))
      println(s"[serve] http listening on ${api.address.get} (/health /stats /watermarks /query)")
      api
    }
    try {
      engine.runPolling(cfg.intervalSeconds, cfg.maxCycles)
      cfg.query.map(q => engine.searchSimilar(q, cfg.k, nprobe = cfg.nprobe))
    } finally http.foreach(_.stop())
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = GraftSession.get()
    try {
      val result = run(spark, cfg)
      val engine = new Engine(spark, cfg.sourceDir, cfg.stateDir, cfg.sinkDir)
      println("[serve] index stats after polling:")
      engine.indexStats().show(truncate = false)
      result.foreach { df =>
        println(s"[serve] top-${cfg.k} for query: ${cfg.query.get}")
        df.show(cfg.k, truncate = 80)
      }
    } finally spark.stop()
  }
}
