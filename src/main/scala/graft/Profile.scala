package graft

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Dev profiler for [[SparkEntry]] queries: runs each named query through
  * [[Bench.materialize]] under [[QueryProfile]], one cold run and then
  * three warm repeats, and prints one JSON object per line.
  *
  * Usage: `tools/jvmrun.sh graft.Profile <fixture-dir> [--ladder] [--explain] <item>...`
  *
  * Items run in order: `spark.<key>=<value>` sets a runtime conf for
  * every item after it; `jobfloor` times 30 data-free one-task jobs,
  * twice — the per-job fixed cost that job-dense queries (the CC loops,
  * the CDC cycle) divide by; any other item names a query. `--ladder`
  * profiles on [[ScaleBench.session]], so the figures match the ladder
  * runs (default [[GraftSession.get]]). `--explain` prints each query's
  * formatted physical plan and codegen stage count instead of running it
  * (add `spark.sql.adaptive.enabled=false` for the pre-adaptive plan: an
  * adaptive plan counts no codegen stage before it runs).
  *
  * Records — `record` names the kind; `query` and `repeat` (0 for the
  * cold run, 1–3 for the warm ones) join jobs and stages to their run:
  *  - `run`: query, run (`cold`/`warm`), repeat, wall_ms, jobs, stages,
  *    tasks, input_bytes, shuffle_read_bytes, shuffle_write_bytes,
  *    memory_spill_bytes, disk_spill_bytes; the cold run adds `rows`,
  *    counted untimed after it;
  *  - `job`, `stage`: query, repeat, then the fields of
  *    [[QueryProfile.Job]] / [[QueryProfile.Stage]] in snake_case;
  *  - `conf`: key, value; `jobfloor`: repeat, jobs, wall_ms. */
object Profile {

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    require(flags.forall(Set("--ladder", "--explain")) && rest.nonEmpty,
      "usage: graft.Profile <fixture-dir> [--ladder] [--explain] [spark.<key>=<value> | jobfloor | <query>]...")
    val spark = if (flags.contains("--ladder")) ScaleBench.session() else GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, rest.head, rest.tail, explain = flags.contains("--explain"))(println)
    finally spark.stop()
  }

  def run(spark: SparkSession, dir: String, items: Seq[String], explain: Boolean)(
      emit: String => Unit): Unit =
    items.foreach { item =>
      item.split("=", 2) match {
        case Array(k, v) if k.startsWith("spark.") =>
          spark.conf.set(k, v)
          emit(json("record" -> "conf", "key" -> k, "value" -> v))
        case Array("jobfloor") =>
          (1 to 2).foreach { rep =>
            val r = QueryProfile(spark)((1 to 30).foreach(_ => spark.range(0L, 8L, 1, 1).count()))
            emit(json("record" -> "jobfloor", "repeat" -> rep, "jobs" -> r.jobs.size, "wall_ms" -> r.wallMs))
          }
        case Array(q) =>
          val query = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query or argument: $item"))
          if (explain) {
            import org.apache.spark.sql.execution.debug._
            val df = query(spark, dir)
            emit(s"===== $q =====")
            emit(df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            emit(s"codegen stages: ${df.queryExecution.debug.codegenToSeq().size}")
          } else (0 to 3).foreach { repeat =>
            val r = QueryProfile(spark)(Bench.materialize(query(spark, dir)))
            spark.catalog.clearCache()
            val rows = if (repeat == 0) Seq("rows" -> query(spark, dir).count()) else Nil
            val key = Seq("query" -> q, "repeat" -> repeat)
            emit(json(Seq("record" -> "run", "query" -> q,
              "run" -> (if (repeat == 0) "cold" else "warm"), "repeat" -> repeat,
              "wall_ms" -> r.wallMs, "jobs" -> r.jobs.size, "stages" -> r.stages.size,
              "tasks" -> r.total(_.tasks), "input_bytes" -> r.total(_.inputBytes),
              "shuffle_read_bytes" -> r.total(_.shuffleReadBytes),
              "shuffle_write_bytes" -> r.total(_.shuffleWriteBytes),
              "memory_spill_bytes" -> r.total(_.memorySpillBytes),
              "disk_spill_bytes" -> r.total(_.diskSpillBytes)) ++ rows: _*))
            r.jobs.foreach(j => emit(json(("record" -> "job") +: key ++: fields(j): _*)))
            r.stages.foreach(s => emit(json(("record" -> "stage") +: key ++: fields(s): _*)))
          }
        case _ => sys.error(s"bad argument: $item")
      }
    }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def json(fields: (String, Any)*): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(fields: _*).asJava)

  /** A record's fields under snake_case names (`wallMs` → `wall_ms`). */
  private def fields(p: Product): Seq[(String, Any)] =
    p.productElementNames.map(_.replaceAll("([A-Z])", "_$1").toLowerCase).zip(p.productIterator).toSeq
}
