package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** ServeMain end-to-end: the runnable entry drives one poll cycle over a
  * fixture source and answers a similarity query through the synced sink
  * (app.py + controller.py analog, §"What's missing" item 1). */
class ServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def fixtureSource(scratch: String): String = {
    val src = s"$scratch/src"
    new java.io.File(src).mkdirs()
    (1 to 150).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"), s"payload-$i"))
      .toDF("event_id", "ts", "payload")
      .write.parquet(s"$src/events.parquet")
    src
  }

  test("parse maps the reference's knobs") {
    val cfg = ServeMain.parse(Array("/s", "/st", "/sk",
      "--interval", "0", "--cycles", "2", "--query", "hello world", "--k", "3", "--nprobe", "2"))
    assert(cfg == ServeMain.Config("/s", "/st", "/sk", 0, 2, Some("hello world"), 3, 2))
    assert(ServeMain.parse(Array("/s", "/st", "/sk", "--http", "8080")).httpHost.isEmpty)
    val opted = ServeMain.parse(Array("/s", "/st", "/sk", "--http", "0.0.0.0:8080"))
    assert(opted.httpHost.contains("0.0.0.0") && opted.httpPort.contains(8080))
    assertThrows[IllegalArgumentException](ServeMain.parse(Array("/s", "/st", "/sk", "--bogus")))
    assertThrows[IllegalArgumentException](ServeMain.parse(Array("/s")))
  }

  test("one poll cycle + one similarity query through the service wiring") {
    val scratch = TestSpark.tempDir("graft_serve").toString
    val src = fixtureSource(scratch)
    val cfg = ServeMain.Config(src, s"$scratch/state", s"$scratch/sink",
      intervalSeconds = 0, maxCycles = 1, query = Some("payload-42 payload-43"), k = 2)
    val result = ServeMain.run(spark, cfg)
    assert(result.isDefined)
    val hits = result.get.collect()
    assert(hits.length == 2)
    assert(hits(0).getAs[String]("id").startsWith("events#"))
    assert(hits(0).getAs[Double]("score") > 0.1)
    // the cycle committed a watermark and a non-empty sink
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    assert(engine.watermarks().count() == 1)
    assert(engine.indexStats().collect().map(_.getAs[Long]("n_vectors")).sum > 0)
    assert(engine.healthy)
  }

  test("polling circuit-breaker: persistent cycle failure rethrows after N ticks") {
    val scratch = TestSpark.tempDir("graft_serve_fail").toString
    val src = s"$scratch/src"
    new java.io.File(s"$src/events.parquet").mkdirs()
    // a corrupt parquet footer makes every cycle fail
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$src/events.parquet/broken.parquet"),
      "not parquet".getBytes)
    val engine = new Engine(spark, src, s"$scratch/state", s"$scratch/sink")
    engine.initializeIndex()
    val e = intercept[Exception] {
      engine.runPolling(intervalSeconds = 0, maxCycles = 10, maxConsecutiveFailures = 2)
    }
    assert(engine.consecutiveFailures == 2, "breaker must trip on the Nth consecutive failure")
    assert(!engine.healthy)
    assert(e.getMessage != null)
  }
}
