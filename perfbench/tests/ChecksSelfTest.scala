package perfbench

/** Each correctness check passes on a consistent output and fails on a
  * deliberately corrupted copy of it. Run through
  * `python3 perfbench/tests/test_checks.py`; exits non-zero on the first
  * check that misses its corruption or flags the clean output. */
object ChecksSelfTest {

  private var failures = 0

  private def expect(name: String, clean: Seq[String], corrupted: Seq[(String, Seq[String])]): Unit = {
    if (clean.nonEmpty) { failures += 1; println(s"FAIL $name flags clean output: $clean") }
    corrupted.foreach { case (how, found) =>
      if (found.isEmpty) { failures += 1; println(s"FAIL $name misses: $how") }
      else println(s"ok   $name catches $how")
    }
  }

  private def unit(seed: Int): Array[Float] = {
    val r = new java.util.Random(seed)
    val v = Array.fill(384)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def chunk(t: String, ids: Seq[Long], seed: Int) = SinkReader.Vec(
    s"$t#${ids.mkString("-")}", unit(seed), t,
    ids.map(i => s"""{"event_id":$i,"ts":"2024-01-01T00:00:00.000000","note":"x"}""").mkString(" "))

  def main(args: Array[String]): Unit = {
    val vecs = Seq(chunk("t00", Seq(1, 2), 1), chunk("t00", Seq(3), 2), chunk("t01", Seq(1, 2, 3), 3))
    val expected = Map("t00" -> Seq(1L, 2L, 3L), "t01" -> Seq(1L, 2L, 3L))
    expect("rowsCovered", Checks.rowsCovered(vecs, expected), Seq(
      "a lost chunk" -> Checks.rowsCovered(vecs.tail, expected),
      "a row in two chunks" -> Checks.rowsCovered(vecs :+ chunk("t00", Seq(2), 4), expected),
      "a chunk under the wrong source" -> Checks.rowsCovered(
        vecs.updated(1, vecs(1).copy(source = "t01")), expected),
      "a row never generated" -> Checks.rowsCovered(vecs :+ chunk("t01", Seq(9), 5), expected)))

    expect("idsUnique", Checks.idsUnique(vecs), Seq(
      "a repeated id" -> Checks.idsUnique(vecs :+ vecs.head)))

    val wm = Map("t00" -> 1704067200000001L, "t01" -> 1704067200500000L)
    def ts(micros: Long) = {
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt); t
    }
    val wmOk = wm.map { case (t, m) => t -> ts(m) }
    expect("watermarks", Checks.watermarks(wmOk, wm), Seq(
      "a watermark 1 µs behind" -> Checks.watermarks(wmOk.updated("t00", ts(wm("t00") - 1)), wm),
      "a table without watermark" -> Checks.watermarks(wmOk - "t01", wm)))

    val ids = vecs.map(_.id)
    expect("ivfMatchesSink", Checks.ivfMatchesSink(ids.reverse, ids), Seq(
      "an id missing from the index" -> Checks.ivfMatchesSink(ids.tail, ids),
      "an id indexed twice" -> Checks.ivfMatchesSink(ids :+ ids.head, ids),
      "an id not in the sink" -> Checks.ivfMatchesSink(ids :+ "t09#1", ids)))

    expect("embeddingsUnit", Checks.embeddingsUnit(vecs), Seq(
      "a 383-dim vector" -> Checks.embeddingsUnit(vecs.updated(0, vecs.head.copy(embedding = vecs.head.embedding.tail))),
      "a vector of norm 2" -> Checks.embeddingsUnit(
        vecs.updated(0, vecs.head.copy(embedding = vecs.head.embedding.map(_ * 2))))))

    expect("noopCycle", Checks.noopCycle(Map("t00" -> 0L), "vectors_manifest_v000004", "vectors_manifest_v000004"), Seq(
      "rows synced" -> Checks.noopCycle(Map("t00" -> 3L), "m4", "m4"),
      "a moved manifest pointer" -> Checks.noopCycle(Map("t00" -> 0L), "m4", "m5")))

    val ok = Client.Response(200, "exact", Vector.empty, "{}")
    expect("httpAnswer", Checks.httpAnswer(Client.Exact, ok), Seq(
      "an HTTP 500" -> Checks.httpAnswer(Client.Exact, ok.copy(code = 500)),
      "the wrong route" -> Checks.httpAnswer(Client.Exact, ok.copy(servedBy = "ivf"))))

    // query checks over 40 random unit vectors
    val index = (0 until 40).map(i => SinkReader.Vec(f"id$i%02d", unit(100 + i), "t00", ""))
    val probe = unit(7)
    val ranking = Checks.bruteForce(index, probe)
    val cos = ranking.toMap
    val top = ranking.take(10).map { case (id, s) => id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val outside = ranking(20)
    expect("exactMatches", Checks.exactMatches(top, ranking, cos, 10), Seq(
      "a short answer" -> Checks.exactMatches(top.init, ranking, cos, 10),
      "a wrong vector at rank 3" -> Checks.exactMatches(top.updated(3, outside), ranking, cos, 10),
      "a score off by 1e-4" -> Checks.exactMatches(top.updated(0, (top.head._1, top.head._2 + 1e-4)), ranking, cos, 10),
      "two ids swapped" -> Checks.exactMatches(
        top.updated(0, (top(1)._1, top(0)._2)).updated(1, (top(0)._1, top(1)._2)), ranking, cos, 10)))

    val approx = Seq(ranking(0), ranking(2), ranking(5))
    expect("scoresTrue", Checks.scoresTrue(approx, cos), Seq(
      "scores out of order" -> Checks.scoresTrue(approx.reverse, cos),
      "an id not in the sink" -> Checks.scoresTrue(approx :+ ("nope" -> -1.0), cos),
      "a misreported score" -> Checks.scoresTrue(approx.updated(1, (approx(1)._1, approx(1)._2 - 0.01)), cos),
      "a repeated id" -> Checks.scoresTrue(approx :+ approx.last, cos)))

    val r = Checks.recall(approx, ranking, 10)
    if (math.abs(r - 0.3) > 1e-9) { failures += 1; println(s"FAIL recall of 3 true hits is $r, not 0.3") }
    else println("ok   recall counts true hits")

    if (failures > 0) { println(s"$failures check(s) misbehaved"); sys.exit(1) }
    println("all checks catch their corruptions")
  }
}
