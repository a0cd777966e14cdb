package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the custom expressions (GraftExtensions), on the shared
  * session: it comes from GraftSession, which binds the extensions. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  test("graft_cosine is callable from SQL and matches hand math") {
    val r = spark.sql(
      "SELECT graft_cosine(cast(array(1.0, 0.0) as array<float>), cast(array(0.0, 1.0) as array<float>)) AS c," +
        " graft_cosine(cast(array(1.0, 2.0) as array<float>), cast(array(1.0, 2.0) as array<float>)) AS s").collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("graft_intersect_count over sorted arrays") {
    val r = spark.sql(
      "SELECT graft_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L, 9L)) AS n").collect()(0)
    assert(r.getInt(0) == 2)
  }

  test("graft_minhash_sig returns k mins; empty array gives sentinels") {
    val r = spark.sql(
      "SELECT size(graft_minhash_sig(array(7L, 11L), 16)) AS k," +
        " graft_minhash_sig(array()::array<bigint>, 4)[0] AS sentinel").collect()(0)
    assert(r.getInt(0) == 16)
    assert(r.getLong(1) == 4294967296L)
  }

  test("graft_simhash equals the declarative composition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("spark table scan filter merge").toDF("text")
    val both = df.select(
      graft.plans.ArrayExprs.simhash32Fast(
        transform(graft.functions.TextOps.tokens(col("text")),
          t => graft.functions.PortableHash.hash32(t))).as("fast"),
      graft.functions.TextOps.simhash32(col("text")).as("slow")).collect()(0)
    assert(both.getLong(0) == both.getLong(1))
  }

  test("graft_hash32 from SQL equals the ANSI hex composition") {
    val r = spark.sql(
      "SELECT graft_hash32('shingle text') AS fused, " +
        "cast(conv(substring(md5('shingle text'),1,8),16,10) AS bigint) AS composed").collect()(0)
    assert(r.getLong(0) == r.getLong(1))
  }

  test("graft_int8_codes + graft_byte_dot from SQL: quantize then exact integer dot") {
    val r = spark.sql(
      "SELECT graft_byte_dot(q, q) AS n, q FROM " +
        "(SELECT graft_int8_codes(cast(array(0.5, -1.0, 2.0) AS array<float>)) AS q)").collect()(0)
    // scale = 127/2 = 63.5: floor(0.5·63.5 + 0.5) = 32,
    // floor(-63.5 + 0.5) = -63, floor(2·63.5 + 0.5) = 127
    assert(r.getSeq[Byte](1) == Seq[Byte](32, -63, 127))
    assert(r.getLong(0) == 32L * 32 + 63L * 63 + 127L * 127)
  }

  test("graft_window_hashes from SQL: n-w+1 windows, empty under w tokens") {
    val r = spark.sql(
      "SELECT size(graft_window_hashes(cast(array(1,2,3,4,5) AS array<bigint>), 4)) AS n, " +
        "size(graft_window_hashes(cast(array(1,2) AS array<bigint>), 4)) AS e").collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 0)
  }
}
