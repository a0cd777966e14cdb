package perfbench

import java.io.File

/** JVM entry of the benchmark; `perfbench/run.py` builds the program and
  * this code, then starts one JVM per run:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out DIR [--fixtures DIR]
  * }}}
  *
  * `work` is a scratch directory for the generated source, sink and state
  * (the caller deletes it); `out` receives `result.json` and, traced, the
  * span and counter JSONL plus the per-layer self-time summary. */
object Main {

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.all.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val (seed, seconds, traced, cores) =
      (opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1", opt("cores").toInt)
    val (work, outDir) = (new File(opt("work")), new File(opt("out")))
    work.mkdirs(); outDir.mkdirs()

    val (spark, sessionMs) = Stats.timed {
      val s = graft.GraftSession.builder(cores.toString)
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val out = new Outcome
    try {
      if (traced) Traced.run(spark, w, seed, new File(work, "scenario"), outDir, out, opts.get("fixtures"))
      else Untraced.run(spark, w, seed, seconds, new File(work, "scenario"), out, sessionMs, cores)
    } finally spark.stop()
    writeResult(new File(outDir, "result.json"), out)
  }

  def writeResult(f: File, out: Outcome): Unit = {
    val metrics = out.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val problems = out.problems.map(Json.str).mkString("[", ",", "]")
    java.nio.file.Files.writeString(f.toPath,
      s"""{"attempted":${out.attempted},"failed":${out.failed},"problems":$problems,"metrics":$metrics}""")
    ()
  }
}
