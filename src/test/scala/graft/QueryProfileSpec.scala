package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The one query profiler: [[QueryProfile]]'s job and stage records, its
  * block boundaries and detach, and [[Profile]]'s JSONL records. */
class QueryProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  /** QueryProfile listeners attached to the session's listener bus. */
  private def attached(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[AnyRef]]
      .asScala.count(_.isInstanceOf[QueryProfile])
  }

  test("a shuffle query: tasks and shuffle bytes add up over stages and jobs") {
    val r = QueryProfile(spark) {
      spark.range(0L, 2000L, 1L, 4).groupBy((col("id") % 7).as("k")).count().collect()
    }
    assert(r.result.length == 7)
    assert(r.jobs.nonEmpty && r.stages.size >= 2, s"${r.jobs} ${r.stages}")
    assert(r.total(_.tasks) == r.stages.map(_.tasks).sum)
    assert(r.jobs.map(_.tasks).sum == r.total(_.tasks), "every stage is billed to exactly one job")
    assert(r.stages.forall(s => r.jobs.exists(_.id == s.job)))
    assert(r.total(_.shuffleWriteBytes) == r.stages.map(_.shuffleWriteBytes).sum && r.total(_.shuffleWriteBytes) > 0)
    assert(r.total(_.shuffleReadBytes) > 0 && r.stages.forall(_.wallMs >= 0))

    val flat = QueryProfile(spark)(spark.range(0L, 100L, 1L, 2).collect())
    assert(flat.result.length == 100 && flat.jobs.size == 1 && flat.total(_.tasks) == 2)
    assert(flat.total(_.shuffleWriteBytes) == 0 && flat.total(_.shuffleReadBytes) == 0)
  }

  test("jobs started before or after the block are not counted; the listener detaches on a throw") {
    val sc = spark.sparkContext
    sc.parallelize(1 to 8, 2).count() // before
    // a job that starts before the block and finishes inside it
    val slow = scala.concurrent.Future {
      sc.parallelize(1 to 2, 1).map { x => Thread.sleep(1500); x }.count()
    }(scala.concurrent.ExecutionContext.global)
    val deadline = System.nanoTime() + 10e9.toLong
    while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    val slowJob = sc.statusTracker.getActiveJobIds().toSeq
    assert(slowJob.size == 1)
    val before = attached()
    val r = QueryProfile(spark) {
      val n = sc.parallelize(1 to 12, 3).count()
      scala.concurrent.Await.result(slow, scala.concurrent.duration.Duration(30, "s"))
      n
    }
    sc.parallelize(1 to 8, 2).count() // after
    assert(r.result == 12)
    assert(r.jobs.size == 1 && !slowJob.contains(r.jobs.head.id), s"${r.jobs} vs slow $slowJob")
    assert(r.total(_.tasks) == 3 && r.stages.size == 1 && r.jobs.head.tasks == 3 && r.jobs.head.wallMs >= 0)
    assert(attached() == before)

    val boom = intercept[IllegalStateException] {
      QueryProfile(spark) {
        assert(attached() == before + 1)
        sc.parallelize(1 to 4, 2).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(attached() == before, "a throwing block must leave no listener behind")
  }

  test("Profile prints one cold and three warm run records, each with its job and stage records") {
    val out = ArrayBuffer.empty[String]
    Profile.run(spark, "/root/testdata/sf0.001",
      Seq("spark.sql.shuffle.partitions=4", "q07_join_revenue"), explain = false)(out += _)
    val mapper = new ObjectMapper()
    val recs = out.toVector.map(mapper.readTree)
    def kind(k: String): Vector[JsonNode] = recs.filter(_.get("record").asText == k)
    def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet
    assert(recs.map(_.get("record").asText).toSet == Set("conf", "run", "job", "stage"))
    assert(kind("conf").map(c => c.get("key").asText -> c.get("value").asText) ==
      Vector("spark.sql.shuffle.partitions" -> "4"))

    val runs = kind("run")
    assert(runs.map(_.get("run").asText) == Vector("cold", "warm", "warm", "warm"))
    assert(runs.map(_.get("repeat").asInt) == Vector(0, 1, 2, 3))
    val runKeys = Set("record", "query", "run", "repeat", "wall_ms", "jobs", "stages", "tasks",
      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "memory_spill_bytes",
      "disk_spill_bytes")
    assert(keys(runs.head) == runKeys + "rows" && runs.tail.forall(keys(_) == runKeys))
    assert(runs.head.get("rows").asLong > 0)
    val jobKeys = Set("record", "query", "repeat", "id", "site", "wall_ms", "tasks")
    val stageKeys = Set("record", "query", "repeat", "id", "attempt", "job", "name", "tasks",
      "wall_ms", "input_records", "input_bytes", "shuffle_read_records", "shuffle_read_bytes",
      "shuffle_write_records", "shuffle_write_bytes", "memory_spill_bytes", "disk_spill_bytes",
      "run_ms", "cpu_ms", "gc_ms")
    assert(kind("job").forall(keys(_) == jobKeys) && kind("stage").forall(keys(_) == stageKeys))
    assert((kind("job") ++ kind("stage") ++ runs).forall(_.get("query").asText == "q07_join_revenue"))

    runs.foreach { run =>
      val rep = run.get("repeat").asInt
      val jobs = kind("job").filter(_.get("repeat").asInt == rep)
      val stages = kind("stage").filter(_.get("repeat").asInt == rep)
      assert(run.get("jobs").asInt == jobs.size && jobs.nonEmpty)
      assert(run.get("stages").asInt == stages.size)
      assert(run.get("tasks").asInt == stages.map(_.get("tasks").asInt).sum)
      assert(run.get("tasks").asInt == jobs.map(_.get("tasks").asInt).sum)
      assert(run.get("shuffle_write_bytes").asLong == stages.map(_.get("shuffle_write_bytes").asLong).sum)
      assert(run.get("wall_ms").asLong > 0)
    }
  }

  test("Profile --explain prints the pre-adaptive formatted plan and the codegen stage count") {
    val out = ArrayBuffer.empty[String]
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Profile.run(spark, "/root/testdata/sf0.001",
      Seq("spark.sql.adaptive.enabled=false", "q07_join_revenue"), explain = true)(out += _)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(out.head.contains("\"key\":\"spark.sql.adaptive.enabled\""))
    out.remove(0)
    assert(out.head == "===== q07_join_revenue =====")
    assert(out(1).contains("== Physical Plan =="))
    val codegen = out.last.stripPrefix("codegen stages: ")
    assert(codegen != out.last && codegen.toInt > 0, out.last)
  }
}
