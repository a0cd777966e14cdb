package graft

import org.scalatest.funsuite.AnyFunSuite

/** The served engine's session. Without `SPARK_GRAFT_CPUS` it must size
  * itself to the cores the JVM may use, not to a fixed width; that session
  * is built in a child JVM started without the variable — the test JVM's
  * own environment sets it, and one JVM holds one SparkContext. And every
  * harness builds it through `GraftSession.builder`, so none checks a conf
  * the engine does not serve. */
class GraftSessionSpec extends AnyFunSuite {

  test("without SPARK_GRAFT_CPUS the session is as wide as the available cores") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = "target/scala-2.13/test-classes:target/scala-2.13/classes:/opt/spark/jars/*"
    // the module flags Spark needs on this JDK, as the test JVM got them
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case ("--add-opens", i) => jvmArgs.slice(i, i + 2)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val pb = new ProcessBuilder((Seq(javaBin, "-Xmx512m") ++ opens ++
      Seq("-cp", cp, "graft.GraftSessionWidthMain")).asJava)
    pb.environment().remove("SPARK_GRAFT_CPUS")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor() == 0, s"child JVM failed:\n$out")
    val cores = Runtime.getRuntime.availableProcessors
    val lines = out.linesIterator.toSeq
    assert(lines.contains(s"master=local[$cores]"), s"child output:\n$out")
    assert(lines.contains(s"shuffle.partitions=$cores"), s"child output:\n$out")
  }

  test("GraftSession is the only place a Spark session builder is made") {
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = Seq("src/main", "src/test").flatMap(d => scalaFiles(new java.io.File(d)))
    assert(files.exists(_.getName == "GraftSession.scala"), s"no sources under ${new java.io.File(".").getAbsolutePath}")
    val offenders = files.filter { f =>
      f.getName != "GraftSession.scala" &&
        builderCall.findFirstIn(java.nio.file.Files.readString(f.toPath)).isDefined
    }
    assert(offenders.isEmpty, s"build sessions with GraftSession.builder: ${offenders.mkString(", ")}")
  }
}

/** Child-JVM entry point of [[GraftSessionSpec]]. */
object GraftSessionWidthMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    try {
      println(s"master=${spark.sparkContext.master}")
      println(s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    } finally spark.stop()
  }
}
