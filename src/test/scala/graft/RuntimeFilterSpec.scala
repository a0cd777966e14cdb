package graft

import graft.operators.RuntimeFilters
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom runtime-filter pruning: exactness vs the plain semi-join (the
  * correctness contract the oracle relies on), no-false-negative law,
  * measured pruning power on disjoint keys, and a plan audit that the
  * membership probe really sits below the join as a Filter. */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  // deterministic keys: big = 0..9999, small = multiples of 7 in [0, 14000).
  // big goes through parquet: over a LocalRelation the optimizer folds the
  // probe Filter away at plan time (ConvertToLocalRelation), which both
  // hides the plan shape and is not the scan-side regime the operator
  // exists for.
  private lazy val big = {
    val d = TestSpark.tempDir("graft_bloom").toString
    (0 until 10000).map(i => (i.toLong, s"row$i")).toDF("k", "payload")
      .write.parquet(s"$d/big.parquet")
    spark.read.parquet(s"$d/big.parquet")
  }
  private lazy val small = (0 until 2000).map(i => Tuple1(i * 7L)).toDF("k")

  test("bloomPrunedSemiJoin equals the plain semi-join (exactness contract)") {
    val plain = big.join(small.distinct(), Seq("k"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bloomed = RuntimeFilters.bloomPrunedSemiJoin(big, small, "k", expectedItems = 4096)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bloomed == plain && plain.nonEmpty)
  }

  test("no false negatives: every build-side key passes the probe") {
    val bytes = RuntimeFilters.bloomBytes(small, "k", expectedItems = 4096)
    val missed = small.where(!RuntimeFilters.mightContain(bytes, col("k"))).count()
    assert(missed == 0L)
  }

  test("pruning is real: disjoint probe keys survive at ~fpp, not wholesale") {
    // small's keys are all ≥ 100000 — zero true matches, so every
    // survivor is a false positive; at fpp=0.03 expect ~3%, assert < 10%
    val disjoint = (0 until 2000).map(i => Tuple1(100000L + i)).toDF("k")
    val bytes = RuntimeFilters.bloomBytes(disjoint, "k", expectedItems = 4096, fpp = 0.03)
    val survivors = big.where(RuntimeFilters.mightContain(bytes, col("k"))).count()
    assert(survivors < 1000, s"bloom passed $survivors of 10000 disjoint keys")
  }

  test("plan audit: the membership probe is a Filter below the join, not above it") {
    val pruned = RuntimeFilters.bloomPrunedSemiJoin(big, small, "k", expectedItems = 4096)
    val plan = pruned.queryExecution.executedPlan.toString
    val filterAt = plan.indexOf("might_contain")
    val joinAt = plan.indexOf("Join")
    assert(filterAt >= 0, s"no bloom probe in plan:\n$plan")
    assert(joinAt >= 0 && filterAt > joinAt, // deeper in the tree = printed after
      s"bloom probe not below the join:\n$plan")
  }
}
