package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val session: SparkSession = {
    // keep Derby's log and the session warehouse out of the repo root
    System.setProperty("derby.stream.error.file",
      new java.io.File(sys.props("java.io.tmpdir"), "graft_derby.log").getAbsolutePath)
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", GraftSession.warehouseDir)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `f` runs, with the listener bus drained
    * before the count is reset and before it is read. */
  def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    session.sparkContext.addSparkListener(listener)
    try {
      CcProbe.drainListenerBus(session)
      jobs.set(0)
      val a = f
      CcProbe.drainListenerBus(session)
      (a, jobs.get)
    } finally session.sparkContext.removeSparkListener(listener)
  }
}
