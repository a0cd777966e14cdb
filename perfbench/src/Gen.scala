package perfbench

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}

import java.io.File

/** Seeded input generation. Everything the program reads is made here
  * from the run's seed: the CDC source tables (one parquet directory per
  * table, a new part file per landed delta) and the query texts. The
  * program only ever sees the files.
  *
  * Rows are insert-only with strictly increasing `ts` per table, so the
  * expected sink content is fully determined by the generated rows: every
  * `event_id` of a table must end up in exactly one chunk of that table. */
object Gen {

  /** Words the payload text and query texts draw from. A small closed
    * vocabulary gives the hashed embeddings real overlap, so similarity
    * top-k has meaningful structure (clusters per topic). */
  val Topics: Vector[Vector[String]] = Vector(
    Vector("order", "invoice", "payment", "refund", "charge", "billing", "receipt", "tax"),
    Vector("login", "password", "session", "token", "account", "signup", "profile", "email"),
    Vector("shipment", "carrier", "warehouse", "parcel", "delivery", "route", "tracking", "depot"),
    Vector("error", "timeout", "retry", "crash", "latency", "outage", "alert", "restart"),
    Vector("search", "query", "ranking", "index", "vector", "cosine", "recall", "probe"),
    Vector("review", "rating", "comment", "feedback", "survey", "score", "complaint", "praise"))
  val Common: Vector[String] =
    Vector("the", "user", "system", "new", "update", "status", "value", "event", "item", "record")

  val schema: MessageType = Types.buildMessage()
    .required(PrimitiveType.PrimitiveTypeName.INT64).named("event_id")
    .required(PrimitiveType.PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named("ts")
    .required(PrimitiveType.PrimitiveTypeName.INT64).named("user_id")
    .required(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("kind")
    .required(PrimitiveType.PrimitiveTypeName.DOUBLE).named("value")
    .required(PrimitiveType.PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("note")
    .named("event")

  /** Base instant of generated change times (2024-01-01T00:00:00Z), µs. */
  val BaseMicros: Long = 1704067200L * 1000000L

  final case class Row(eventId: Long, tsMicros: Long, userId: Long, kind: String,
      value: Double, note: String)

  def text(rng: java.util.Random, words: Int): String = {
    val topic = Topics(rng.nextInt(Topics.size))
    (0 until words).map { _ =>
      if (rng.nextInt(4) == 0) Common(rng.nextInt(Common.size)) else topic(rng.nextInt(topic.size))
    }.mkString(" ")
  }

  /** `n` rows with ids `firstId until firstId + n` and change times
    * strictly after `afterMicros`. */
  def rows(rng: java.util.Random, firstId: Long, n: Int, afterMicros: Long): Vector[Row] = {
    var ts = afterMicros
    (0 until n).map { i =>
      ts += 1 + rng.nextInt(5000000)
      Row(firstId + i, ts, rng.nextInt(5000).toLong, rng.nextInt(Topics.size).toString,
        math.rint(rng.nextDouble() * 1e6) / 100.0, text(rng, 6 + rng.nextInt(10)))
    }.toVector
  }

  /** Write rows as one parquet part file of the table directory. */
  def writePart(tableDir: File, part: String, rows: Seq[Row]): File = {
    tableDir.mkdirs()
    val f = new File(tableDir, s"$part.parquet")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      .withType(schema).withConf(conf).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      g.add("event_id", r.eventId)
      g.add("ts", r.tsMicros)
      g.add("user_id", r.userId)
      g.add("kind", r.kind)
      g.add("value", r.value)
      g.add("note", r.note)
      w.write(g)
    } finally w.close()
    f
  }

  /** A multi-table CDC source as the generator knows it: per table, every
    * row written so far. */
  final class Source(val dir: File, val tables: Vector[String]) {
    val written: Map[String, scala.collection.mutable.ArrayBuffer[Row]] =
      tables.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Row]).toMap
    private var parts = 0

    def maxTs(t: String): Long = written(t).lastOption.map(_.tsMicros).getOrElse(BaseMicros)
    def nextId(t: String): Long = written(t).lastOption.map(_.eventId + 1).getOrElse(1L)

    /** Land `n` new rows in table `t` as a new part file. */
    def land(rng: java.util.Random, t: String, n: Int): File = {
      val rs = rows(rng, nextId(t), n, maxTs(t))
      parts += 1
      val f = writePart(new File(dir, s"$t.parquet"), f"part-$parts%05d", rs)
      written(t) ++= rs
      f
    }

    /** Forget the last part landed in `t` (the file was removed). */
    def unland(t: String, n: Int): Unit = written(t).remove(written(t).size - n, n)
  }

  def newSource(dir: File, tables: Int): Source =
    new Source(dir, (0 until tables).map(i => f"t$i%02d").toVector)

  /** Seeded query texts: mostly topic phrases, as a user of the index
    * would type them. */
  def queries(seed: Long, n: Int): Vector[String] = {
    val rng = new java.util.Random(seed ^ 0x5eedL)
    (0 until n).map(_ => text(rng, 3 + rng.nextInt(4))).toVector
  }
}
