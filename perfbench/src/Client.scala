package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Loopback HTTP client for the program's `/query` route. */
object Client {
  private val mapper = new ObjectMapper()

  /** The three routes the benchmark drives, by the query parameters that
    * select them and the `served_by` value each must answer with. */
  final case class Route(name: String, params: String, servedBy: String)
  val Exact = Route("exact", "mode=exact", "exact")
  val Simb = Route("simb", "nprobe=2", "simb")
  val Ivf = Route("ivf", "mode=ivf", "ivf")
  val Routes: Vector[Route] = Vector(Exact, Simb, Ivf)

  final case class Response(code: Int, servedBy: String, rows: Vector[(String, Double)], body: String)

  def query(port: Int, q: String, k: Int, route: Route): Response = {
    val url = new java.net.URI(
      s"http://127.0.0.1:$port/query?q=${java.net.URLEncoder.encode(q, "UTF-8")}&k=$k&${route.params}").toURL
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      parse(code, body)
    } finally c.disconnect()
  }

  def parse(code: Int, body: String): Response =
    if (code != 200) Response(code, "", Vector.empty, body)
    else {
      val node = mapper.readTree(body)
      val rows = node.path("rows")
      Response(code, node.path("served_by").asText(""),
        (0 until rows.size()).map { i =>
          val r = rows.get(i)
          r.path("id").asText() -> r.path("score").asDouble()
        }.toVector, body)
    }

  /** Rows of an in-process route result (`Dataset.toJSON` rows). */
  def rows(json: Array[String]): Vector[(String, Double)] =
    json.toVector.map { s =>
      val r = mapper.readTree(s)
      r.path("id").asText() -> r.path("score").asDouble()
    }
}
