package perfbench

/** Correctness checks against values computed apart from the program:
  * the generator's own rows and change times, and cosine scores computed
  * here in plain Scala from vectors read by [[SinkReader]]. Each check
  * returns the list of problems it found; empty means it passed. */
object Checks {

  /** Score tolerance. The query routes round cosines to 6 decimals
    * (half-unit error 5e-7) and accumulate in a different order than
    * the plain double loop here; 1e-5 covers both with margin while still
    * catching any wrong vector, whose score differs by far more. */
  val ScoreTol = 1e-5

  private val EventId = "\"event_id\":(\\d+)".r

  /** Every generated row appears in exactly one chunk, under its table's
    * `source`, and no chunk holds a row that was never generated. */
  def rowsCovered(vecs: Seq[SinkReader.Vec], expected: Map[String, Seq[Long]]): Seq[String] = {
    val seen = scala.collection.mutable.HashMap.empty[(String, Long), Int]
    vecs.foreach(v => EventId.findAllMatchIn(Option(v.text).getOrElse(""))
      .foreach(m => seen((v.source, m.group(1).toLong)) = seen.getOrElse((v.source, m.group(1).toLong), 0) + 1))
    val want = expected.iterator.flatMap { case (t, ids) => ids.map(t -> _) }.toSet
    val missing = want.filterNot(seen.contains)
    val dup = seen.filter { case (k, n) => n > 1 && want(k) }
    val extra = seen.keySet.filterNot(want)
    Seq(
      if (missing.nonEmpty) Some(s"${missing.size} generated rows in no chunk, e.g. ${missing.take(3)}") else None,
      if (dup.nonEmpty) Some(s"${dup.size} rows in more than one chunk, e.g. ${dup.take(3)}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} chunk rows never generated, e.g. ${extra.take(3)}") else None
    ).flatten
  }

  def idsUnique(vecs: Seq[SinkReader.Vec]): Seq[String] = {
    val dups = vecs.groupBy(_.id).collect { case (id, vs) if vs.size > 1 => id }
    if (dups.isEmpty) Nil else Seq(s"${dups.size} duplicate sink ids, e.g. ${dups.take(2)}")
  }

  /** Each table's committed watermark equals the generator's max `ts`. */
  def watermarks(actual: Map[String, java.sql.Timestamp], expectedMicros: Map[String, Long]): Seq[String] =
    expectedMicros.toSeq.sortBy(_._1).flatMap { case (t, micros) =>
      actual.get(t) match {
        case None => Some(s"table $t has no watermark")
        case Some(ts) =>
          val got = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          if (got != micros) Some(s"table $t watermark $got µs, generator max $micros µs") else None
      }
    }

  /** The IVF index holds exactly the sink's ids, each once. */
  def ivfMatchesSink(ivfIds: Seq[String], sinkIds: Seq[String]): Seq[String] = {
    val (iv, sk) = (ivfIds.toSet, sinkIds.toSet)
    Seq(
      if (ivfIds.size != iv.size) Some(s"IVF index repeats ${ivfIds.size - iv.size} ids") else None,
      if (iv != sk) Some(s"IVF ids differ from sink ids: ${(sk -- iv).size} missing, ${(iv -- sk).size} extra")
      else None
    ).flatten
  }

  def embeddingsUnit(vecs: Seq[SinkReader.Vec], dim: Int = 384): Seq[String] = {
    val bad = vecs.filter { v =>
      v.embedding.length != dim || math.abs(math.sqrt(v.embedding.map(x => x.toDouble * x).sum) - 1.0) > 1e-4
    }
    if (bad.isEmpty) Nil
    else Seq(s"${bad.size} embeddings not $dim-dim unit vectors, e.g. ${bad.head.id} " +
      s"(dim ${bad.head.embedding.length})")
  }

  /** A cycle over an unchanged source syncs nothing and leaves the sink's
    * manifest pointer where it was. */
  def noopCycle(synced: Map[String, Long], ptrBefore: String, ptrAfter: String): Seq[String] =
    Seq(
      if (synced.valuesIterator.sum != 0) Some(s"no-op cycle synced ${synced.valuesIterator.sum} rows") else None,
      if (ptrBefore != ptrAfter) Some(s"no-op cycle moved the manifest pointer $ptrBefore -> $ptrAfter") else None
    ).flatten

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (d, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    while (i < a.length && i < b.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Brute-force ranking of every vector by cosine to the probe (score
    * descending, id ascending). */
  def bruteForce(vecs: Seq[SinkReader.Vec], probe: Array[Float]): Vector[(String, Double)] =
    vecs.map(v => v.id -> cosine(v.embedding, probe)).toVector
      .sortWith { case ((ia, sa), (ib, sb)) => if (sa != sb) sa > sb else ia < ib }

  /** An HTTP answer is a 200 from the route that was asked for. */
  def httpAnswer(route: Client.Route, res: Client.Response): Seq[String] =
    if (res.code != 200) Seq(s"HTTP ${res.code}: ${res.body.take(200)}")
    else if (res.servedBy != route.servedBy) Seq(s"served_by ${res.servedBy}, asked for ${route.servedBy}")
    else Nil

  /** Exact route: same length as the brute-force top-k, the score at every
    * rank equal within [[ScoreTol]], and every returned id distinct and
    * really scoring what was reported. Ids whose scores tie within the
    * tolerance may come in any order, so ids are compared through their
    * scores, i.e. as a set within each tie. */
  def exactMatches(result: Seq[(String, Double)], ranking: Vector[(String, Double)],
      cos: Map[String, Double], k: Int): Seq[String] = {
    val want = ranking.take(k)
    val problems = Seq.newBuilder[String]
    if (result.size != want.size) problems += s"exact returned ${result.size} rows, brute force ${want.size}"
    result.zip(want).zipWithIndex.foreach { case (((_, s), (_, ws)), i) =>
      if (math.abs(s - ws) > ScoreTol) problems += f"rank $i score $s%.6f, brute force $ws%.6f"
    }
    problems ++= scoresTrue(result, cos)
    problems.result()
  }

  /** Approximate routes: every returned id exists, scores what was
    * reported, appears once, and scores never increase down the list. */
  def scoresTrue(result: Seq[(String, Double)], cos: Map[String, Double]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (result.map(_._1).distinct.size != result.size) problems += "result repeats an id"
    result.foreach { case (id, s) =>
      cos.get(id) match {
        case None => problems += s"result id $id is not in the sink"
        case Some(c) => if (math.abs(c - s) > ScoreTol) problems += f"id $id reported $s%.6f, cosine $c%.6f"
      }
    }
    result.sliding(2).foreach {
      case Seq((_, a), (_, b)) if b > a => problems += f"scores increase down the list: $a%.6f then $b%.6f"
      case _ => ()
    }
    problems.result()
  }

  /** Share of the brute-force top-k (ties at the k-th score included)
    * that the result found. */
  def recall(result: Seq[(String, Double)], ranking: Vector[(String, Double)], k: Int): Double = {
    val want = ranking.take(k)
    if (want.isEmpty) 1.0
    else {
      val kth = want.last._2
      val acceptable = ranking.takeWhile(_._2 >= kth - ScoreTol).map(_._1).toSet
      result.take(k).count(r => acceptable(r._1)).toDouble / want.size
    }
  }
}
