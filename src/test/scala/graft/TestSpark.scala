package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. Specs that need a conf
  * other than the served one set it around their own plans and restore
  * the prior value after. */
object TestSpark {
  lazy val session: SparkSession = {
    // keep Derby's log and the session warehouse out of the repo root
    System.setProperty("derby.stream.error.file",
      new java.io.File(sys.props("java.io.tmpdir"), "graft_derby.log").getAbsolutePath)
    // the served conf (extensions included) at a fixed 4-core width
    val s = GraftSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** This JVM's scratch root: every spec's temp directory is created
    * under it, and a shutdown hook deletes it when the test JVM exits. */
  lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_test_")
    sys.addShutdownHook(graft.operators.Cdc.deleteRecursively(root.toFile))
    root
  }

  /** A fresh temp directory under [[scratchRoot]]. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)
}
