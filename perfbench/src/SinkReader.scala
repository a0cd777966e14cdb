package perfbench

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

import java.io.File

/** Reads the vector sink and the IVF index straight from their files with
  * parquet-mr, following the on-disk layout the program documents
  * (manifest pointer → manifest lines `root \t namespace \t bucket` →
  * `root/namespace=/bucket=/simb=/part-*.parquet`; IVF `current` pointer →
  * `vNNNNNN/data/cluster=/part-*.parquet`). No Spark and no program read
  * path is involved, so the checks built on it are independent of the
  * code they check. */
object SinkReader {

  final case class Vec(id: String, embedding: Array[Float], source: String, text: String)

  private def children(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName)

  private def dataFiles(d: File): Seq[File] =
    if (d.isFile) { if (d.getName.endsWith(".parquet") && !d.getName.startsWith(".")) Seq(d) else Nil }
    else children(d).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith(".")).flatMap(dataFiles)

  def manifestPointer(sink: File): String =
    java.nio.file.Files.readString(new File(sink, "vectors_manifest.current").toPath).trim

  /** Live (root, namespace, bucket) entries of the pointed manifest. */
  def manifest(sink: File): Seq[(String, String, Int)] = {
    val lines = java.nio.file.Files.readAllLines(new File(sink, manifestPointer(sink)).toPath)
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(root, ns, b) = l.split("\t", 3)
      (root, ns, b.toInt)
    }
  }

  /** Parquet data files reachable from the live manifest for `namespace`. */
  def liveFiles(sink: File, namespace: String): Seq[File] =
    manifest(sink).filter(_._2 == namespace).flatMap { case (root, ns, b) =>
      dataFiles(new File(sink, s"$root/namespace=$ns/bucket=$b"))
    }

  def liveRoots(sink: File): Int = manifest(sink).map(_._1).distinct.size

  private def readGroups(f: File)(each: Group => Unit): Unit = {
    val r = ParquetReader.builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(f.getPath))
      .withConf(new org.apache.hadoop.conf.Configuration()).build()
    try {
      var g = r.read()
      while (g != null) { each(g); g = r.read() }
    } finally r.close()
  }

  private def floats(g: Group, field: String): Array[Float] =
    if (g.getFieldRepetitionCount(field) == 0) Array.empty
    else {
      val lg = g.getGroup(field, 0)
      val n = lg.getFieldRepetitionCount(0)
      Array.tabulate(n) { i =>
        val e = lg.getGroup(0, i)
        if (e.getFieldRepetitionCount(0) == 0) Float.NaN else e.getFloat(0, 0)
      }
    }

  private def string(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)

  /** Every live vector of the namespace. */
  def vectors(sink: File, namespace: String): Vector[Vec] = {
    val out = Vector.newBuilder[Vec]
    liveFiles(sink, namespace).foreach(f => readGroups(f) { g =>
      out += Vec(string(g, "id"), floats(g, "embedding"), string(g, "source"), string(g, "text"))
    })
    out.result()
  }

  /** Directory of the live IVF version for the namespace, if any. */
  def ivfLive(sink: File, namespace: String): Option[File] = {
    val container = new File(sink, s"_ivf/$namespace")
    val ptr = new File(container, "current")
    if (!ptr.isFile) None
    else Some(new File(container, java.nio.file.Files.readString(ptr.toPath).trim))
  }

  /** Ids held by the live IVF index of the namespace. */
  def ivfIds(sink: File, namespace: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    ivfLive(sink, namespace).foreach(v =>
      dataFiles(new File(v, "data")).foreach(f => readGroups(f)(g => out += string(g, "id"))))
    out.result()
  }

  /** Row count of a parquet tree from footers only. */
  def rowCount(dir: File): Long =
    dataFiles(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration()))
      try r.getRecordCount finally r.close()
    }.sum
}
