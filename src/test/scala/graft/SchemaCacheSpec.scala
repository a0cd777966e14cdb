package graft

import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the file-signature-keyed schema cache (sources/Tables,
  * r18 change 1, hardened r19 per VERDICT r18 #2 / ADVICE r18): an
  * unchanged file set serves the cached schema with no inference job; ANY
  * change — rewrite, drift, even a same-millisecond same-length rewrite —
  * re-infers; entries are replaced per path (bounded memory for
  * long-running CDC services); unsignable paths (non-local URIs, vanished
  * files) bypass the cache entirely instead of caching forever under a
  * degenerate key. */
class SchemaCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def tmpdir(): java.io.File = {
    val d = TestSpark.tempDir("graft_schemacache_").toFile
    d.deleteOnExit()
    d
  }

  test("rewrite re-infers and REPLACES the entry (no per-poll growth)") {
    val p = s"${tmpdir()}/t.parquet"
    spark.range(5).selectExpr("id as a").write.mode("overwrite").parquet(p)
    assert(Tables.cachedParquet(spark, p).schema.fieldNames.toSeq == Seq("a"))
    val size1 = Tables.schemaCacheSize
    val sig1 = Tables.schemaCacheSignature(p)
    assert(sig1.isDefined, "local path must be signable")
    // CDC drift: the poll rewrites the table with a new column — the
    // signature changes, the schema re-infers, and the map REPLACES the
    // path's entry instead of appending a second one
    spark.range(5).selectExpr("id as a", "id * 2 as b").write.mode("overwrite").parquet(p)
    assert(Tables.cachedParquet(spark, p).schema.fieldNames.toSeq == Seq("a", "b"),
      "rewritten directory must re-infer, not serve the stale schema")
    assert(Tables.schemaCacheSignature(p) != sig1, "signature must change on rewrite")
    assert(Tables.schemaCacheSize == size1,
      "per-path entry must be replaced, not appended (unbounded CDC growth)")
  }

  test("same-millisecond same-length rewrite still re-infers (nanos mtime)") {
    import java.nio.file.attribute.FileTime
    val dir = tmpdir()
    val p = s"$dir/t.parquet"
    spark.range(3).selectExpr("id as a").write.mode("overwrite").parquet(p)
    Tables.cachedParquet(spark, p)
    val sig1 = Tables.schemaCacheSignature(p).get
    // pin every file's mtime to a fixed nanosecond instant, then simulate
    // a same-millisecond rewrite: same lengths, mtime +1000 ns (same ms).
    // File.lastModified (the r18 key) is blind to this; the r19 nanos
    // signature must not be.
    val base = java.time.Instant.ofEpochSecond(1700000000L, 123111222L)
    def setAll(t: java.time.Instant): Unit = {
      def walk(f: java.io.File): Unit =
        if (f.isFile) { java.nio.file.Files.setLastModifiedTime(f.toPath, FileTime.from(t)); () }
        else Option(f.listFiles()).toSeq.flatten.foreach(walk)
      walk(new java.io.File(p))
    }
    setAll(base)
    val fs = new java.io.File(p).listFiles().filter(_.isFile).head.toPath
    // some filesystems truncate to coarser granularity — skip there, the
    // harness runs on ns-resolution tmpfs/ext4
    assume(java.nio.file.Files.getLastModifiedTime(fs).to(
      java.util.concurrent.TimeUnit.NANOSECONDS) % 1000000L != 0L,
      "filesystem does not store sub-millisecond mtimes")
    Tables.cachedParquet(spark, p)
    val sigBase = Tables.schemaCacheSignature(p).get
    assert(sigBase != sig1)
    setAll(base.plusNanos(1000L)) // same millisecond, different nanos
    Tables.cachedParquet(spark, p)
    assert(Tables.schemaCacheSignature(p).get != sigBase,
      "a same-millisecond rewrite must change the signature (nanos mtime)")
  }

  test("unsignable path (vanished / non-local) never inserts a cache entry") {
    val before = Tables.schemaCacheSize
    intercept[Exception] {
      Tables.cachedParquet(spark, s"${tmpdir()}/does_not_exist.parquet")
    }
    assert(Tables.schemaCacheSize == before,
      "an unsignable path must bypass the cache, not cache under a bare-path key")
    assert(Tables.schemaCacheSignature(s"${tmpdir()}/does_not_exist.parquet").isEmpty)
  }

  test("a file whose nanosecond mtime cannot be read makes the tree unsignable") {
    // no millisecond fallback: such a tree bypasses the cache rather than
    // reopening the same-millisecond rewrite hole
    val p = s"${tmpdir()}/t.parquet"
    spark.range(3).selectExpr("id as a").write.mode("overwrite").parquet(p)
    val f = new java.io.File(p)
    assert(Tables.fileSignature(f).isDefined)
    assert(Tables.fileSignature(f, _ => throw new java.io.IOException("no mtime")).isEmpty)
  }

  test("a rewrite during inference is not cached under the pre-rewrite signature") {
    val p = s"${tmpdir()}/t.parquet"
    spark.range(3).selectExpr("id as a").write.mode("overwrite").parquet(p)
    val inferred = Tables.cachedSchema(new java.io.File(p), () => {
      val schema = spark.read.parquet(p).schema
      spark.range(3).selectExpr("id as a", "id as b").write.mode("overwrite").parquet(p)
      schema
    })
    assert(inferred.fieldNames.toSeq == Seq("a"))
    assert(Tables.schemaCacheSignature(p).isEmpty,
      "a schema inferred across a rewrite must not be stored")
    assert(Tables.cachedParquet(spark, p).schema.fieldNames.toSeq == Seq("a", "b"),
      "the next read re-infers the rewritten tree")
  }
}
