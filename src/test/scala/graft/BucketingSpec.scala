package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle elimination via bucketing (SURVEY §4 partitioning / the 100 TB
  * design requirement): two tables bucketed+sorted on the join key join
  * with ZERO shuffle exchanges — the plan Spark picks for co-located
  * storage, which is what a production deployment would use for the
  * fact/fact joins. */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  /** The sort-merge path: broadcast joins off around one test's plans,
    * the shared session's own value restored after. */
  private def withoutBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The shared warehouse outlives this suite's runs: drop tables AND
    * scrub their warehouse directories before creating. */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(loc)
  }

  test("join of two bucketed tables plans no shuffle exchange") { withoutBroadcast {
    resetTable("b_orders"); resetTable("b_items")
    val orders = (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("key", "o")
    val items = (1 to 3000).map(i => ((i % 1000 + 1).toLong, i.toDouble)).toDF("key", "v")
    orders.write.mode("overwrite").bucketBy(4, "key").sortBy("key").saveAsTable("b_orders")
    items.write.mode("overwrite").bucketBy(4, "key").sortBy("key").saveAsTable("b_items")

    val joined = spark.table("b_orders").join(spark.table("b_items"), "key")
    val plan = joined.queryExecution.executedPlan
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"expected shuffle-free bucketed join, got:\n$plan")
    assert(joined.count() == 3000)
    spark.sql("DROP TABLE IF EXISTS b_orders"); spark.sql("DROP TABLE IF EXISTS b_items")
  }}

  test("unbucketed control: the same join DOES shuffle") { withoutBroadcast {
    val a = (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("key", "o")
    val b = (1 to 3000).map(i => ((i % 1000 + 1).toLong, i.toDouble)).toDF("key", "v")
    val plan = a.join(b, "key").queryExecution.executedPlan
    // AQE wraps the plan; force execution to materialize the final plan
    a.join(b, "key").count()
    val shuffles = plan.toString.contains("Exchange") ||
      a.join(b, "key").queryExecution.executedPlan.toString.contains("Exchange")
    assert(shuffles)
  }}
}
