package graft

import graft.functions.{Embeddings, JsonRows, PortableHash, TextOps, VectorOps}
import graft.multimodal.Multimodal
import graft.operators.{Cdc, Chunker, Dedup, IvfIndex, Materialize, ParquetWatermarkStore, RankStats, SimilaritySearch}
import graft.sources.{DirSource, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Driver contract: the engine's full query surface (SURVEY §2 inventory +
  * north-star LLM-pipeline operators), each oracle-checked against DuckDB
  * where ANSI-expressible.
  *
  * Oracle-parity conventions used throughout (SURVEY §7 hard parts):
  *  - double aggregates run decimal-exact internally and cast to double at
  *    the end, so results are bit-identical across engines regardless of
  *    partial-aggregation order;
  *  - array folds are strict left folds in both engines (`aggregate` here,
  *    `list_reduce` there);
  *  - engine-portable hashes only (md5/sha2-derived), never Spark `hash()`;
  *  - every query carries a total ORDER BY on both sides;
  *  - count-ish outputs are bigint on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Pruned scan of `table`, total-ordered by `key` BEFORE any heavy
    * per-row projection (r18, guide §2.4 "establish the partitioning
    * once"). A trailing global `orderBy` plans as a range exchange whose
    * boundary-sampling pass computes its ENTIRE child once more
    * (RangePartitioner samples the child RDD), so a per-doc scoring query
    * that sorts LAST runs its tokenize/regex/hash projection TWICE per
    * row; sorting the pruned scan FIRST makes the sampling pass read only
    * the scan columns and the heavy projection run exactly once, above
    * the exchange. Rows and final order are identical by construction —
    * per-row projections are order-preserving (measured on q83:
    * 1.20 → 0.81 s at sf0.1; plan: the range exchange's child shrinks
    * from the full scored projection to the 3-column scan). */
  private def sortedScan(s: SparkSession, dir: String, table: String, key: String, cols: String*): DataFrame =
    t(s, dir, table).select((key +: cols).map(col): _*).orderBy(col(key))

  /** Decimal-exact sum of a double column, emitted as double. */
  private def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  // ---------------------------------------------------------------------
  // Flagship (§3.2+§3.3 in one plan): CDC delta → row-JSON → chunk →
  // embed → self-kNN of chunk vectors. Exercises scan, filter pushdown,
  // window, group-agg, scalar funcs, the embed UDF, bucketed vector join,
  // and windowed top-k. Driver smoke-checks rows > 0 on sf0.001.
  // ---------------------------------------------------------------------
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val events = t(spark, dir, "events")
    val delta = Cdc.deltaScan(events, "ts", Some(Timestamp.valueOf("2024-01-10 00:00:00")))
    val chunks = Chunker.chunkRowsAsJson(delta, col("event_id"), "events", 100)
    // cache: the vectors feed both sides of the self-kNN join — uncached,
    // the chunk→embed pipeline would execute twice
    val vectors = chunks.select(col("id"), Embeddings.embedCol(col("text")).as("embedding")).cache()
    // self-kNN: the probe side IS the corpus — never broadcast it (a
    // corpus-sized broadcast OOMs at scale); shuffle-join on the LSH bucket
    SimilaritySearch.knnJoin(vectors, vectors, "id", "embedding", "id", "embedding", k = 3, bits = 4,
      broadcastProbes = false)
  }

  // ---------------------------------------------------------------------
  // M0: relational surface (SURVEY §2.1-2.5 + delegated families §2.4)
  // ---------------------------------------------------------------------

  /** A-family: TPC-H-Q1-style pricing summary (grouped agg, decimal-exact). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)).cast("double")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** S5/P3: strict-`>` CDC delta scan (service_layer/service.py:52-54). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    Cdc.deltaScan(t(s, dir, "events"), "ts", Some(Timestamp.valueOf("2024-01-25 00:00:00")))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** A1: ungrouped MAX watermark (service_layer/service.py:73). */
  private def q03(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").agg(max(col("ts")).as("last_updated"))

  /** S6/P4: watermark-style point lookup (equality predicate + max). */
  private def q04(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_updated"), count(lit(1)).as("n"))

  /** P5-shaped anti join: customers with no orders. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Semi join: suppliers with at least one lineitem. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))

  /** Multi-way equi-join with broadcast dims: revenue per nation. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** Window top-k per group: 3 priciest orders per customer (first 50). */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .where(col("o_custkey") <= 50)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** Running window aggregate: cumulative quantity per supplier (decimal-
    * exact so frame-by-frame summation order can't diverge). */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .where(col("l_suppkey") <= 3)
      .withColumn("running_qty", sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Distinct aggregation (count distinct keys per status). */
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderstatus"))

  /** Set operations: customer vs supplier nations. */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
    val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
    c.intersect(sup).withColumn("op", lit("both"))
      .unionByName(c.except(sup).withColumn("op", lit("customer_only")))
      .orderBy(col("op"), col("nk"))
  }

  /** Rollup with explicit null ordering. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))

  /** F1⁻¹ JSON reading: both path extraction (`get_json_object`) and
    * schema-full parsing (`from_json` — the inverse of the F1 serializer,
    * SURVEY §2.5) over the events JSON column; grouped on the parsed key
    * with a parity check column proving both readers agree. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    // spread past the single-row-group scan: both JSON parses otherwise
    // run serially in the one scan task (Materialize.spreadNarrowScan —
    // no-op at scale; aggregation output is partition-independent)
    operators.Materialize.spreadNarrowScan(t(s, dir, "events"), col("event_id"))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("k_struct",
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value"), 6).as("total_value"),
        sum(when(col("k") === col("k_struct"), 1L).otherwise(0L)).as("n_parse_agree"))
      .orderBy(col("k"))

  /** T4 batch analog: tumbling daily window aggregation. */
  private def q14(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total_value"))
      .orderBy(col("day"), col("event_type"))

  /** F2-F5 scalar sampler: string/math/conditional functions. */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        substring(col("p_name"), 1, 5).as("name5"),
        upper(col("p_brand")).as("brand_u"),
        concat(col("p_type"), lit("/"), col("p_brand")).as("type_brand"),
        (col("p_size") % 7).as("size_mod"),
        sqrt(col("p_retailprice")).as("price_sqrt"),
        when(col("p_size") > 25, lit("big")).when(col("p_size") > 10, lit("mid")).otherwise(lit("small")).as("size_class"),
        coalesce(nullif(col("p_type"), lit("ECONOMY")), lit("CHEAP")).as("type_or_cheap"))
      .orderBy(col("p_partkey"))

  /** Manual (engine-portable) row-JSON for events — shared by q16/q54 so
    * both engines serialize identically. */
  private def eventsJson: Column = concat(
    lit("{\"event_id\":"), col("event_id").cast("string"),
    lit(",\"ts\":\""), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
    lit("\",\"user_id\":"), col("user_id").cast("string"),
    lit(",\"event_type\":\""), col("event_type"),
    lit("\",\"value_cents\":"), round(col("value") * 100).cast("long").cast("string"),
    lit("}"))

  /** A2/F1/F6: deterministic chunk assembly over row-JSON (manual JSON so
    * both engines serialize identically; sha256 content ids per SURVEY §7). */
  private def q16(s: SparkSession, dir: String): DataFrame =
    Chunker.chunkDeterministic(t(s, dir, "events"), col("event_id"), eventsJson, "events", 100)
      .select(col("chunk_no"), col("id"), col("source"), col("text"), col("n_rows"))
      .orderBy(col("chunk_no"))

  /** A2 scalable path, oracle-checked on its INVARIANTS: chunkScalable's
    * boundaries are partition-dependent by design (the reference's own
    * boundaries are arbitrary arrival order), so the oracle verifies what
    * is invariant — every input doc appears in exactly one chunk (row
    * multiset parity), every chunk holds ≤ chunkSize rows, and each
    * chunk's n_rows equals its actual assembled doc count. Chunks are
    * joined on the unit separator (Chunker.UnitSep), which cannot occur
    * inside a JSON doc — splitting the text back into docs is exact even
    * if a doc field ever contains spaces. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events").withColumn("_json", eventsJson)
    val sepRe = java.util.regex.Pattern.quote(Chunker.UnitSep)
    Chunker.chunkScalable(events, col("_json"), "events", 100, sep = Chunker.UnitSep)
      // split each ~20 KB chunk text ONCE; explode and the row-count
      // check both read the same array (sticky blocks CollapseProject
      // from inlining the split back into both consumers)
      .select(graft.plans.ArrayExprs.sticky(split(col("text"), sepRe)).as("parts"), col("n_rows"))
      .select(
        explode(col("parts")).as("doc"),
        (col("n_rows") <= 100 && col("n_rows") === size(col("parts"))).as("chunk_ok"))
      .orderBy(col("doc"))
  }

  /** F3 lossy decimal→double serialization, oracle-checked end-to-end:
    * cast prices to decimal(12,2) in-query, serialize the row through the
    * F1 JSON path (JsonRows casts DecimalType to double first, reproducing
    * the reference's Decimal→float, service_layer/service.py:180-181),
    * parse the doubles back out and compare against the direct cast. The
    * oracle computes the direct decimal→double; hash equality proves the
    * JSON round trip is exactly the lossy-cast semantics. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "lineitem")
      .where(col("l_orderkey") <= 1000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"),
        col("l_discount").cast("decimal(12,2)").as("disc"))
    d.withColumn("_j", JsonRows.toJsonCol(d))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        get_json_object(col("_j"), "$.price").cast("double").as("price_rt"),
        get_json_object(col("_j"), "$.disc").cast("double").as("disc_rt"),
        (get_json_object(col("_j"), "$.price").cast("double") === col("price").cast("double") &&
          get_json_object(col("_j"), "$.disc").cast("double") === col("disc").cast("double")).as("lossy_eq"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Skew-mitigated join on a deliberately hot key: a quarter of all events
    * collapse onto key 0, the dim side is too granular to pre-aggregate —
    * the salted join spreads the hot key over `salts` reducers instead of
    * flooding one (graft.operators.Skew). Output aggregates are
    * salt-invariant, so a plain join+group oracle checks it. */
  private def q56(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val fact = t(s, dir, "events")
      .select(
        when(col("user_id") % 4 =!= 0, pmod(col("user_id"), lit(1000))).otherwise(lit(0L)).as("k"),
        col("value"))
    val dim = t(s, dir, "customer")
      .where(col("c_custkey") < 1000)
      .select(col("c_custkey").cast("long").as("k"), col("c_mktsegment"))
    Skew.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** Train/test decontamination — the step a training-data pipeline runs
    * before any split ships: find training documents that share an n-gram
    * with the held-out set (Brown et al.'s 13-gram overlap check, scaled
    * down to 3-grams for the fixture's short docs). Shape: explode both
    * sides to (doc, shingle-hash), distinct the test side, one hash
    * semi-join — work is O(shingles), never O(train × test). */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(TextOps.wordShingles(col("text"), 3))).as("sh"))
      .select(col("doc_id"), PortableHash.hash32(col("sh")).as("h"))
    val isTest = col("doc_id") % 97 === 0 // stand-in held-out set
    val testShingles = sh.where(isTest).select(col("h")).distinct()
    sh.where(!isTest)
      .join(testShingles, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_contaminated_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Sequence-packing accounting: pack docs (in doc_id order, per source)
    * into fixed 2048-token training sequences by cumulative token count —
    * how many sequences each source yields and how full they are. The
    * window partitions by source, so the prefix sum is many parallel
    * windows, not one global sort. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("tok"))
      .withColumn("seq_id", floor(coalesce(sum(col("tok")).over(w), lit(0L)) / 2048).cast("long"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("seq_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Repetition scoring — the standard degenerate-text signal (a doc whose
    * tokens are mostly repeats of a few types is boilerplate/spam): type-
    * token ratio and the share of the single most frequent token. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    // explode → two-level aggregation (linear, partial-agg map-side) — not
    // a per-row nested fold, which would be O(types × tokens) per doc
    t(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tok"), count(lit(1)).as("n_types"), max(col("n")).as("top_tok_n"))
      .select(
        col("doc_id"), col("n_tok"), col("n_types"),
        TextOps.quantize6(lit(1.0) - col("n_types").cast("double") / col("n_tok").cast("double")).as("repetition"),
        TextOps.quantize6(col("top_tok_n").cast("double") / col("n_tok").cast("double")).as("top_token_share"))
      .orderBy(col("doc_id"))
  }

  /** Proportional quality filtering: keep each source's top-25% documents
    * by quality score. Rank-based (row_number against ceil(n/4)), NOT a
    * quantile threshold — a float cut at the quantile boundary is
    * membership-unstable across engines (one ulp flips a row), while the
    * integer rank comparison is exact everywhere. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy(col("source")).orderBy(desc("q"), col("doc_id"))
    val wSrc = Window.partitionBy(col("source"))
    t(s, dir, "documents")
      .withColumn("q", TextOps.qualityScore(col("text")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wSrc))
      .where(col("rnk") * 4 <= col("n_src") + 3) // rnk <= ceil(n/4), integer-exact
      .select(col("source"), col("rnk"), col("doc_id"), col("q").as("quality"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Deterministic stratified sampling: per-language keep fractions (en
    * 50%, others 20%) decided by a portable hash bucket per doc — never
    * `rand()`, so the sample is reproducible across runs, partitionings,
    * and engines (the property a training-data pipeline needs for
    * sweeps). */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val bucket = PortableHash.hash32(concat(lit("sample:"), col("doc_id").cast("string"))) % 100
    val keepPct = when(col("lang") === "en", 50).otherwise(20)
    t(s, dir, "documents")
      .where(bucket < keepPct)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy(col("lang"))
  }

  /** PII scrubbing: plant deterministic fake emails/phones on a tenth of
    * the docs in-query (the fixture has none), redact with the
    * character-class patterns, and report redaction counts plus the
    * scrubbed text — all codegen'd regexp work, no UDF. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 10 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-0142")))
      .otherwise(col("text"))
    sortedScan(s, dir, "documents", "doc_id", "text")
      .select(col("doc_id"), planted.as("text"))
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(TextOps.EmailRe)).cast("long").as("n_emails"),
        TextOps.redactPii(col("text")).as("clean"))
      .select(
        col("doc_id"), col("n_emails"),
        regexp_count(col("clean"), lit("<PHONE>")).cast("long").as("n_phones"),
        sha2(col("clean"), 256).as("clean_sha256"))
  }

  /** N-gram LM scoring of documents against the corpus's own bigram model
    * (the CCNet-style model-based quality filter, in engine-exact
    * arithmetic): per doc, the rare-bigram rate (count-based — a doc full
    * of bigrams the corpus has rarely seen is likely noise) and the mean
    * conditional probability, each term an exact integer ratio quantized
    * BEFORE the decimal-exact sum so no float reassociation or libm log
    * can diverge across engines. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    // Per-(doc, bigram) multiplicities FIRST: a doc's bigrams sit in one
    // input partition, so map-side partial aggregation collapses within-doc
    // repeats before the shuffle, and every downstream stage (model build,
    // probability join, per-doc agg) carries distinct pairs instead of raw
    // occurrences. Output-identical to the per-occurrence formulation: the
    // per-doc sums are decimal-exact under multiplicity weighting
    // (cnt × p in decimal == p summed cnt times). Materialized once — it
    // feeds both the model build and the scoring join, and column pruning
    // makes the two consumers' subtrees differ, so ReusedExchange cannot
    // share them (measured: without the checkpoint the explode pipeline
    // runs three times). Keys are HASHED to longs at explode time
    // (portable md5 hash, mirrored by the oracle's h32 — a collision
    // merges the same bigrams in both engines, so parity is exact by
    // construction): the materialized relation and the model join carry
    // (long, long, long) rows instead of ~15-char strings, the same
    // feature-hashing trade every at-scale LM pipeline makes. Staged to
    // RELIABLE files (Materialize.truncate), NOT a storage-memory cache:
    // this relation is the query's biggest tenant, and holding it in
    // unified memory contends with the scoring join's own shuffle + hash
    // build — measured bimodal at the 625× fixture (61 s with the cache
    // unchallenged, 225 s when execution pressure forced mid-job
    // evictions; the mid-round serialized-block variant swung 90→180 s
    // the same way). File staging pins NOTHING in memory, so the join
    // gets the whole execution budget and the cost is two deterministic
    // sequential reads — the cluster-scale shape is exactly a staging
    // table. The two model-build consumers share one ReusedExchange
    // (identical subtrees over the staged files).
    // Staged PARTITIONED BY (bh, w1h) — the key every downstream consumer
    // clusters on (r19, guide §2.1/§6.3): Dataset.checkpoint preserves the
    // physical partitioning into the re-read (visible as `ExistingRDD,
    // hashpartitioning(bh, w1h, …)` in the plan), so the probe-side
    // exchange, the model-build exchange, and the totals-path exchange all
    // vanish (plans/r19/q63 before: 3 full exchanges of this relation
    // after the stage; after: 0) for the price of ONE extra exchange of
    // the already-deduped (long,long,long,cnt) rows inside the staging
    // job. At 100 TB that is 3 corpus-derived shuffles → 1.
    val bigrCounts = operators.Materialize.truncate(t(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.wordShingles(col("text"), 2)).as("bigram"))
      .select(col("doc_id"),
        PortableHash.hash32(col("bigram")).as("bh"),
        PortableHash.hash32(split(col("bigram"), " ").getItem(0)).as("w1h"))
      .groupBy(col("doc_id"), col("bh"), col("w1h")).agg(count(lit(1)).as("cnt"))
      .repartition(col("bh"), col("w1h")))
    val model = bigrCounts.groupBy(col("bh"), col("w1h")).agg(sum(col("cnt")).as("n12"))
    val totals = model.groupBy(col("w1h")).agg(sum(col("n12")).as("n1"))
    val probs = model.join(totals, "w1h")
      .select(col("bh"), col("w1h"), col("n12"),
        TextOps.quantize6(col("n12").cast("double") / col("n1").cast("double")).as("p"))
    // The model side is CORPUS-DERIVED (rows grow with the vocabulary),
    // so it must never ride a driver broadcast: Catalyst's post-agg size
    // estimate undershoots, and at 125× fixture scale the chosen
    // BroadcastHashJoin OOMed the driver building the hash relation. The
    // shuffle_hash hint keeps the probability join distributed with
    // bounded per-task memory at every scale (partition-local hash build),
    // which is the plan a 100 TB run needs anyway.
    bigrCounts.join(probs.hint("shuffle_hash"), Seq("bh", "w1h"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_bigrams"),
        sum(when(col("n12") < 5, col("cnt")).otherwise(0L)).as("n_rare"),
        TextOps.quantize6(
          sum(col("cnt").cast("decimal(18,0)") * col("p").cast("decimal(18,6)")).cast("double") /
            sum(col("cnt")).cast("double")).as("mean_p"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget packing of documents into 512-token training sequences
    * (the ACTION q58's accounting models), oracle-checked on invariants
    * like q54: every doc lands in exactly one pack (multiset parity
    * through the unit separator), and no pack overshoots the budget by
    * more than its own largest doc. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), TextOps.tokenCount(col("text")).cast("long").as("tok"))
    val sepRe = java.util.regex.Pattern.quote(Chunker.UnitSep)
    val packed = Chunker.packByTokenBudget(
      docs, col("doc_id").cast("string"), col("tok"), "documents", budget = 512, sep = Chunker.UnitSep)
    val tokOf = docs.select(col("doc_id").cast("string").as("doc"), col("tok"))
    val wPack = Window.partitionBy(col("pack_id"))
    packed
      .select(col("id").as("pack_id"), explode(split(col("text"), sepRe)).as("doc"), col("n_rows"))
      .join(tokOf, "doc")
      .withColumn("n_exploded", count(lit(1)).over(wPack))
      .withColumn("pack_tokens", sum(col("tok")).over(wPack))
      .withColumn("max_doc_tok", max(col("tok")).over(wPack))
      .select(col("doc"),
        // n_rows == exploded doc count: the separator split reconstructs
        // exactly the docs the pack recorded (parity against collisions)
        (col("n_rows") === col("n_exploded") &&
          col("pack_tokens") - col("max_doc_tok") < 512).as("pack_ok"))
      .orderBy(col("doc"))
  }

  /** The capstone curation pipeline, composed end-to-end in ONE plan and
    * oracle-checked: exact dedup → held-out decontamination → per-source
    * quality filter (keep top 3/4, integer-rank) → deterministic
    * train/val split → per-split token and 512-token-pack accounting.
    * Every stage is an operator proven individually (q17, q57, q60, q46,
    * q58); this proves they COMPOSE — the form a real corpus build takes. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // 1. exact dedup: keep the min doc_id per distinct text
    val kept = Dedup.exactByText(docs, "doc_id", "text").select(col("doc_id"))
    val deduped = docs.join(kept, Seq("doc_id"), "left_semi")
    // 2. decontamination: the held-out set (doc_id % 97 == 0) leaves the
    //    corpus, and so does any doc sharing a 3-shingle with it
    //    The shingle relation feeds BOTH decontamination consumers (the
    //    held-out shingle set and the contamination semi-join), and
    //    neither had an exchange above the explode, so the tokenize+
    //    3-shingle+hash Generate ran TWICE — both inside the broadcast
    //    build's subtree (plans/r19/q65 before: Generate at (18) and
    //    (30); JobTrace: the contaminated broadcast build alone was
    //    0.97 s). Repartitioning by `h` — the key both consumers cluster
    //    on — creates the one exchange they share (ReusedExchange), so
    //    the explode runs ONCE; the held-out flag is computed BELOW the
    //    exchange behind a sticky barrier, because a deterministic
    //    doc_id-filter would be pushed below the repartition and split
    //    the two subtrees apart again (guide §2.1: shuffle once, read
    //    twice). Cost: one shuffle of (long, long, bool) rows; saving:
    //    a full corpus tokenize+shingle pass — at 100 TB the narrow
    //    shuffle is orders of magnitude cheaper than re-deriving
    //    shingles from text.
    val sh = deduped
      .select(col("doc_id"), explode(array_distinct(TextOps.wordShingles(col("text"), 3))).as("sh"))
      .select(col("doc_id"), PortableHash.hash32(col("sh")).as("h"),
        graft.plans.ArrayExprs.sticky(col("doc_id") % 97 === 0).as("is_test"))
      .repartition(col("h"))
    val testShingles = sh.where(col("is_test")).select(col("h")).distinct()
    val contaminated = sh.where(!col("is_test"))
      .join(testShingles, Seq("h"), "left_semi").select(col("doc_id")).distinct()
    val clean = deduped
      .where(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 3. quality: keep each source's top 3/4 by integer rank
    val wRank = Window.partitionBy(col("source")).orderBy(desc("q"), col("doc_id"))
    val wSrc = Window.partitionBy(col("source"))
    val filtered = clean
      .withColumn("q", TextOps.qualityScore(col("text")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wSrc))
      .where(col("rnk") * 4 <= col("n_src") * 3 + 3) // rnk <= ceil(3n/4)
    // 4. deterministic split; 5. per-split corpus + packing accounting
    val bucket = PortableHash.hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    val wCum = Window.partitionBy(col("split")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    filtered
      .withColumn("split", when(bucket < 90, "train").otherwise("val"))
      .withColumn("tok", TextOps.tokenCount(col("text")).cast("long"))
      .withColumn("pack", floor(coalesce(sum(col("tok")).over(wCum), lit(0L)) / 512))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        countDistinct(col("pack")).as("n_packs"))
      .orderBy(col("split"))
  }

  /** Exact dedup by content hash over a duplicated corpus. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val doubled = d.unionByName(d)
    Dedup.exactByText(doubled, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** MinHash + LSH near-dup candidate pairs (shingle→minhash→band→bucket
    * join→Jaccard refine) over documents ∪ shifted copy. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    Dedup.minhashLshPairs(doubled, "doc_id", "text", shingleN = 3, k = 16, bands = 4, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash per document (32-bit word-feature simhash; fused codegen
    * expression — value-identical to the TextOps.simhash32 composition). */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayExprs
    sortedScan(s, dir, "documents", "doc_id", "text")
      .select(col("doc_id"), ArrayExprs.simhash32Fast(
        PortableHash.hash32Array(TextOps.tokens(col("text")))).as("simhash"))
  }

  /** Blocked n-gram (unigram) Jaccard near-dup pairs. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 1, threshold = 0.9, lengthBucket = 16)
      .orderBy(col("id_a"), col("id_b"))

  /** Language ID (marker-term heuristic) vs the labeled lang. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    sortedScan(s, dir, "documents", "doc_id", "lang", "text")
      // tokenize once behind the sticky barrier; langId alone walks the
      // token array five times (one markerCount per language)
      .select(col("doc_id"), col("lang"),
        graft.plans.ArrayExprs.sticky(TextOps.tokens(col("text"))).as("_toks"))
      .select(col("doc_id"), col("lang"), TextOps.langIdOf(col("_toks")).as("pred_lang"))

  /** Quality scoring: length/punct/stopword signals + composite score.
    * The document is tokenized ONCE (sticky barrier) and four of the five
    * signals read the shared array — the text-based forms re-run the
    * regex split + interpreted filter per signal. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    sortedScan(s, dir, "documents", "doc_id", "text")
      .select(col("doc_id"), col("text"),
        graft.plans.ArrayExprs.sticky(TextOps.tokens(col("text"))).as("_toks"))
      .select(
        col("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        TextOps.quantize6(TextOps.punctRatio(col("text"))).as("punct_ratio"),
        TextOps.quantize6(TextOps.stopwordRatioOf(col("_toks"))).as("stopword_ratio"),
        TextOps.quantize6(TextOps.meanTokenLenOf(col("_toks"))).as("mean_token_len"),
        TextOps.qualityScoreOf(col("text"), col("_toks")).as("quality"))

  /** Rolling-hash document fingerprint (order-sensitive polynomial hash). */
  private def q23(s: SparkSession, dir: String): DataFrame =
    sortedScan(s, dir, "documents", "doc_id", "text")
      .select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("fingerprint"))

  /** Brute-force cosine top-k against the vec_id=0 probe (§3.3 read path). */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("probe_emb"))
    e.crossJoin(broadcast(probe))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"), round(VectorOps.cosineFast(col("embedding"), col("probe_emb")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
  }

  /** ANN top-k: sign-bucket LSH restricts candidates to the probe bucket
    * (4 bits → ~n/16 candidates; fewer bits = higher recall). */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", VectorOps.signBucket(col("embedding"), 4))
    val probe = e.where(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb"), col("bucket"))
    e.join(broadcast(probe), Seq("bucket"))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"), round(VectorOps.cosineFast(col("embedding"), col("probe_emb")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
  }

  /** Vector-column aggregation: per-label count + mean L2 norm. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), round(VectorOps.norm(col("embedding")), 6).as("nrm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("nrm").cast("decimal(18,6)")).cast("double") / count(lit(1)).cast("double")).as("avg_norm"))
      .orderBy(col("label"))

  /** Embedding near-dup pairs via sign-bucket blocking + cosine threshold
    * over embeddings ∪ shifted copy (copies land in their own bucket). */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val doubled = e.unionByName(e.withColumn("vec_id", col("vec_id") + 100000))
    Dedup.embeddingNearDupPairs(doubled, "vec_id", "embedding", threshold = 0.25, bits = 8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Grouping sets over events (type / day / grand total). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("graft_events")
    s.sql("""
      SELECT event_type, date_trunc('day', ts) AS day,
             count(1) AS n,
             cast(sum(cast(value AS decimal(18,6))) AS double) AS total_value
      FROM graft_events
      GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
      ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""")
  }

  /** Global sort + limit (top-k orders). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(20)

  /** As-of-style watermark join: per-type watermark table joined to events,
    * strict-`>` cut (the reference's watermark⋈table pattern, §2.4). */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wm = Seq(
      ("click", Timestamp.valueOf("2024-01-20 00:00:00")),
      ("purchase", Timestamp.valueOf("2024-01-10 00:00:00")),
      ("signup", Timestamp.valueOf("2024-01-25 00:00:00"))).toDF("event_type", "last_updated")
    t(s, dir, "events")
      .join(broadcast(wm), Seq("event_type"))
      .where(col("ts") > col("last_updated"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("new_watermark"))
      .orderBy(col("event_type"))
  }

  /** Left outer join preserving empty groups. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    broadcast(t(s, dir, "nation"))
      .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"), "left_outer")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(col("c_custkey")).as("n_customers"), dsum(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("n_nationkey"))

  /** Grouped agg + HAVING. */
  private def q32(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("qty"))
      .where(col("n") >= 35)
      .orderBy(col("l_partkey"))

  /** Scalar subquery pattern: customers above mean balance. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val mean = c.agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") / count(lit(1)).cast("double")).as("avg_bal"))
    c.crossJoin(broadcast(mean))
      .where(col("c_acctbal") > col("avg_bal"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** LIKE / regexp predicates + conditional aggregation. */
  private def q34(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .where(col("p_name").like("%red%") || col("p_name").rlike("^blue "))
      .groupBy(col("p_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("p_size") > 20, 1L).otherwise(0L)).as("n_large"),
        dsum(col("p_retailprice"), 2).as("price_sum"))
      .orderBy(col("p_type"))

  /** Approximate BPE-ish token counting (per-word merge-piece estimate). */
  private def q35(s: SparkSession, dir: String): DataFrame =
    sortedScan(s, dir, "documents", "doc_id", "text")
      .select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("ws_tokens"),
        TextOps.approxBpeCount(col("text")).cast("long").as("bpe_tokens"))

  /** MinHash signatures themselves (universal-hash family) — spot-checks
    * three permutation lanes per document. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayExprs
    sortedScan(s, dir, "documents", "doc_id", "text")
      .withColumn("hs", array_sort(array_distinct(
        graft.plans.ArrayExprs.shingleHash32(TextOps.tokens(col("text")), 3))))
      .withColumn("sig", ArrayExprs.minhashSignatureFast(col("hs"), 16))
      .select(
        col("doc_id"),
        element_at(col("sig"), 1).as("sig_1"),
        element_at(col("sig"), 8).as("sig_8"),
        element_at(col("sig"), 16).as("sig_16"))
  }

  /** SimHash near-dup pairs via byte blocking over documents ∪ copy. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    Dedup.simhashPairs(doubled, "doc_id", "text", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Batch kNN join: top-3 bucket-local neighbors for the first 20 probes. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    SimilaritySearch.knnJoin(
      e, e.where(col("vec_id") < 20), "vec_id", "embedding", "vec_id", "embedding", k = 3, bits = 4)
      .select(col("probe_id"), col("rank").cast("long").as("rnk"), col("index_id"), col("score"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Pivot (wide conditional aggregation) — segment balances per nation. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("c_mktsegment", Seq("MACHINERY", "AUTOMOBILE", "BUILDING"))
      .agg(dsum(col("c_acctbal"), 2))
      .orderBy(col("n_name"))

  /** Generator/UDTF family: posexplode of the token array (first 30 docs). */
  private def q40(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .where(col("doc_id") < 30)
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .orderBy(col("doc_id"), col("pos"))

  /** Exact interpolated percentiles (quantize6 absorbs the one-ulp
    * interpolation-association difference between engines). */
  private def q41(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_type"))
      .agg(
        TextOps.quantize6(expr("percentile(p_size, 0.25)")).as("q1"),
        TextOps.quantize6(expr("percentile(p_size, 0.5)")).as("med"),
        TextOps.quantize6(expr("percentile(p_size, 0.75)")).as("q3"),
        count(lit(1)).as("n"))
      .orderBy(col("p_type"))

  /** Edit distance between consecutive documents (dedup-adjacent metric;
    * integer DP — bit-identical across engines). */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 40).as("head40"))
    val b = d.select((col("doc_id") - 1).as("doc_id"), col("head40").as("head40_next"))
    d.join(b, Seq("doc_id"))
      .select(col("doc_id"), levenshtein(col("head40"), col("head40_next")).cast("long").as("edit_dist"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Non-SQL-expressible operators (rows-only driver check): the embed UDF
  // (F7/F8), the full CDC cycle (stateful), multimodal plumbing.
  // ---------------------------------------------------------------------

  /** F7: hashed-feature embedding of documents, ORACLE-HASH-CHECKED via the
    * integer pre-normalization accumulator ([[Embeddings.embedRaw]]): the
    * murmur3 token hashing is mirrored bit-exactly in DuckDB SQL, and the
    * emitted fingerprint — nonzero count, integer sum of squares, and an
    * index-weighted checksum — determines the vector content exactly (the
    * float stage is this, scaled by 1/√l2sq; its unit-norm invariant is
    * the `nrm` column, and the scale curve keeps q90 measured). */
  private def q90(s: SparkSession, dir: String): DataFrame =
    sortedScan(s, dir, "documents", "doc_id", "text")
      .select(col("doc_id"),
        graft.plans.ArrayExprs.sticky(Embeddings.embedAuditCol(col("text"))).as("_a"))
      .select(
        col("doc_id"),
        lit(Embeddings.Dim.toLong).as("dim"),
        col("_a._1").as("nnz"),
        col("_a._2").as("l2sq"),
        col("_a._3").as("chk"),
        round(col("_a._4").cast("double"), 4).as("nrm"))

  /** F8+§3.3: text-query similarity search, ORACLE-HASH-CHECKED: top-10 by
    * cosine computed EXACTLY from the integer accumulators (dot and norms
    * are exact longs; the one double division + sqrt runs in the same IEEE
    * op order on both engines, so ranking and score are bit-identical).
    * Mathematically the same cosine as the float production path
    * (Engine.searchSimilar / SimilaritySearch.topKText, e2e-tested in
    * ServeSpec), which differs only by float32 normalization rounding. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val qAcc = Embeddings.embedRaw("table scan merge join spark")
    val qL2 = qAcc.map(a => a.toLong * a).sum
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), Embeddings.embedRawCol(col("text")).as("acc"))
    val dot = aggregate(
      zip_with(col("acc"), lit(qAcc), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), _ + _)
    val l2d = aggregate(transform(col("acc"), a => a.cast("long") * a.cast("long")), lit(0L), _ + _)
    docs.select(col("doc_id"), dot.as("dot"), l2d.as("_l2d"))
      .where(col("_l2d") > 0)
      .withColumn("score",
        TextOps.quantize6(col("dot").cast("double") / sqrt((col("_l2d") * lit(qL2)).cast("double"))))
      .orderBy(desc("score"), col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("dot"), col("score"))
  }

  /** Multimodal decode/featurize/resize: image rows decode REAL PNGs and
    * audio rows REAL WAVs through the JDK codecs (ImageIO, javax.sound);
    * video rows parse REAL MP4 container metadata (dims/duration/tracks
    * via the ISO-BMFF box walk), with a corrupt slice exercising the
    * labeled stub fallback. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    // SCALE-PROPORTIONAL slice: the whole corpus up to 500 docs (= all of
    // it at the sf0.001/sf0.01 verify fixtures), else a deterministic 10%
    // residue sample (doc_id % 10 = 2 — NOT a prefix bound: ScaleGen
    // replica ids are striped by +10M offsets, and the offset ≡ 0 mod 10,
    // so every replica contributes its exact share and the decode cost
    // tracks the corpus on the ladder instead of being flat by fiat). The
    // cost exercised is decode/featurize/resize, not the synthetic
    // PNG/WAV ENCODING that fabricates the fixture.
    // The <=500 gate rides the PLAN as a broadcast 1-row aggregate (the
    // q33/q52 scalar-subquery pattern; the oracle states it identically as
    // `WHERE (SELECT count(*) FROM documents) <= 500 OR doc_id % 10 = 2`)
    // instead of an eager `all.count()` at plan-construction time (r19,
    // VERDICT r18 #1): no job runs until the query executes, and the
    // count branch prunes to ZERO columns — parquet serves it from
    // row-group metadata, not a corpus scan.
    val all = t(s, dir, "documents")
    val nAll = all.agg(count(lit(1)).as("_nall"))
    val sliced = all.crossJoin(broadcast(nAll))
      .where(col("_nall") <= 500L || col("doc_id") % 10 === 2)
      .drop("_nall")
    // total order established on the PRUNED SCAN, below the encode/decode
    // maps (media_id = doc_id; Dataset.map/mapPartitions are
    // order-preserving) — a trailing orderBy's range-exchange sampling
    // pass would run the whole synthetic-encode + codec-decode chain a
    // second time per row (see sortedScan)
    val sorted = sliced.select(col("doc_id"), col("text"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
    val media = Multimodal.syntheticMedia(s, sorted)
    Multimodal.resizePlan(Multimodal.decodeAndFeaturize(media), maxSide = 512)
  }

  /** The full CDC sync cycle (§3.2) against a scratch state/sink dir:
    * delta → chunk → embed → idempotent upsert → watermark commit. Runs
    * two cycles to exercise the incremental path, returns the sink.
    * `deterministicChunks = true` gives cycle 1 a DEFINED chunk order
    * (global numbering on the primary key), so the sink content —
    * whole-row JSON chunks under content-hash ids — is fully
    * oracle-expressible in SQL (the reference's main query,
    * `service_layer/service.py:48-80`, hash-checked end-to-end; cycle 2
    * remains the idempotency check: a no-op delta must leave the
    * hash unchanged). */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    // each invocation's sink can reach GBs on the ladder fixtures — a
    // bench JVM running repeats must not leak one per call (204 leaked
    // dirs found on the r12 box). One STATIC hook drains a registry
    // (never one hook per call: a many-repeat bench JVM would grow the
    // hook list unboundedly), and each new invocation eagerly deletes
    // its predecessors, so the JVM holds at most one scratch at a time.
    var prev = cdcScratchDirs.poll()
    while (prev != null) {
      Cdc.deleteRecursively(new java.io.File(prev)); prev = cdcScratchDirs.poll()
    }
    cdcScratchDirs.add(scratch)
    // layout tuned to the delta volume (~1k chunks/cycle at sf0.1): 8
    // id-buckets × 2^4 simb ≈ 128 directories — enough rewrite granularity
    // and read pruning without fragmenting into one-row parquet files (the
    // default 64-bucket layout is sized for a far larger sink)
    val layout = Cdc.SinkLayout(buckets = 8, simBits = Cdc.SimBits)
    // SAME layout in both cycles: cycle 2 is a no-op delta today, but a
    // call that CAN write must never write under a mismatched bucket layout
    def cycle(): Unit = Cdc.requireSynced(Cdc.syncCycleOutcomesOn(s, DirSource(dir),
      ParquetWatermarkStore(s"$scratch/state"), s"$scratch/sink",
      deterministicChunks = true, layout = layout))
    cycle()
    cycle()
    Cdc.readVectorSink(s, s"$scratch/sink").select(col("id"), col("source"), col("text"))
      .orderBy(col("id"))
  }

  /** Deterministic train/val/test split — hash-based (never `rand()`:
    * reproducible across runs, partitionings, and engines; the property a
    * training-data pipeline actually needs). 80/10/10 by doc_id hash. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val bucket = PortableHash.hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    t(s, dir, "documents")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy(col("split"))
  }

  /** Per-source quota sampling: keep the top-5 quality docs per source
    * (domain caps — the anti-overrepresentation step in corpus curation). */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(desc("quality"), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("doc_id"), col("quality"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Corpus accounting rollup: per language — docs, whitespace tokens,
    * BPE-ish tokens, mean quality (the numbers a training run budgets on). */
  private def q48(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("ws"),
        TextOps.approxBpeCount(col("text")).cast("long").as("bpe"),
        TextOps.qualityScore(col("text")).as("q"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        (sum(col("q").cast("decimal(18,6)")).cast("double") / count(lit(1)).cast("double")).as("mean_quality"))
      .orderBy(col("lang"))

  /** Dedup clustering: connected components over unigram-Jaccard near-dup
    * pairs; every doc maps to its canonical (minimal) representative. */
  private def q45(s: SparkSession, dir: String): DataFrame = {
    // bounded subset: the fixture vocab is tiny, so the 0.9-Jaccard graph
    // over the FULL corpus degenerates into one giant near-clique (a data
    // artifact, not a scale property — real crawl dedup graphs are sparse;
    // at true scale the giant-component hazard is handled by star
    // contraction). 500 docs keeps components meaningful.
    val bounded = t(s, dir, "documents").where(col("doc_id") < 500)
    // the doc_id cap bounds the WHOLE query's input, so the query runs at
    // the width its measured input justifies (width follows data, capped
    // at the session width — identical plan shape at scale). The width is
    // applied via an isolated SESSION CLONE, never by mutating the shared
    // conf: docs is rebuilt FROM the clone so everything downstream —
    // pair generation, dedupClusters' edge materialization, and its
    // nested loop narrowing — plans on the clone, and a concurrent main
    // on `s` can never observe the narrowed width. At scale the clone
    // branch is never taken (loopWidthSession returns `s` itself).
    val s2 = Materialize.loopWidthSession(s, bounded.count())
    val docs = if (s2 eq s) bounded else t(s2, dir, "documents").where(col("doc_id") < 500)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 1, threshold = 0.9, lengthBucket = 16)
    Dedup.dedupClusters(docs, "doc_id", pairs)
      .orderBy(col("doc_id"))
  }

  /** Dedup clustering over the FULL corpus via star contraction — the
    * giant-component-safe CC (alternating large-star/small-star), fed from
    * the SCALE-PATH pair generator (minhash-LSH band blocking): band keys
    * hash the whole signature row, so bucket sizes track true similarity
    * rather than corpus size, and candidate volume stays linear as the
    * corpus grows. (q45 keeps the ngram length-bucket generator on a
    * bounded subset — that blocker's fixed ~50-bucket key space makes its
    * candidates quadratic in corpus size, measured 19× time at 25× data
    * when this query used it; same canonical-representative contract,
    * mirrored oracle.) */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // NOT width-narrowed like q45/q74: this is the full-corpus scale path,
    // and its minhash pair generation carries real CPU work that the
    // session width parallelizes (A/B: whole-query narrowing regressed
    // this query 1.9s -> 2.9s at sf0.1); only the star-contraction loop
    // inside dedupClustersStar narrows, from its own measured edge count
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.9)
    Dedup.dedupClustersStar(docs, "doc_id", pairs)
      .orderBy(col("doc_id"))
  }

  /** As-of join: latest order at-or-before each event's timestamp per
    * customer (the scalable union+window formulation — no pair explosion). */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val events = t(s, dir, "events")
      .where(col("event_id") < 2000)
      .select(col("event_id"), col("ts"), col("user_id"))
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    AsOfJoin.asof(events, orders, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey")
      .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Sessionization: 30-minute-gap sessions per user (lag + running sum of
    * break flags), with per-session aggregates. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("_pts", lag(col("ts"), 1).over(wOrd))
      .withColumn("_brk",
        when(col("_pts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("_pts"))) > 1800000000L, 1).otherwise(0))
      .withColumn("session_no", sum(col("_brk")).over(wRun).cast("long"))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        dsum(col("value"), 6).as("total_value"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Heavy hitters: top-20 corpus terms by document frequency (explode →
    * two-level aggregation; the word-count shape every corpus report runs). */
  private def q50(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("term"))
      .limit(20)

  /** Bigram language-model statistics: count(w1,w2) and the conditional
    * p(w2|w1) as an exact ratio of identical integers in both engines. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bigrams = docs
      .select(explode(TextOps.wordShingles(col("text"), 2)).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .groupBy(col("w1"), col("bigram")).agg(count(lit(1)).as("n12"))
    val unigramTotals = bigrams.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    bigrams.join(unigramTotals, "w1")
      .where(col("n12") >= 10)
      .select(col("bigram"), col("n12"), col("n1"),
        TextOps.quantize6(col("n12").cast("double") / col("n1").cast("double")).as("p_cond"))
      .orderBy(desc("n12"), col("bigram"))
      .limit(50)
  }

  /** TF-IDF-style top term per document. Ranked on the INTEGER triple
    * (tf desc, df asc, term) — engine-exact — with the tf·idf score as a
    * quantized display column (ln differs by ulps across libm
    * implementations, so it must not decide ordering). */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // corpus size as an in-plan 1-row aggregate broadcast-crossJoined onto
    // the (already top-1-filtered) result — not a separate driver-side
    // count() job over the corpus (the q33 scalar-subquery pattern)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("_ndocs"))
    // RANGE-partitioned by doc_id right after the tf aggregation (r19,
    // guide §2.4/§2.1): RangePartitioning(doc_id) satisfies BOTH the
    // window's clustering requirement AND the final orderBy's ordered
    // distribution, so the trailing range exchange — whose boundary-
    // sampling pass recomputed the entire window pipeline — vanishes
    // (plans/r19/q52 before: Exchange (21) hash + Exchange (35) range;
    // after: one range exchange, sampled once, below the window).
    val terms = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .repartitionByRange(col("doc_id"))
    // `tf >= 1` is a tautology (count over existing rows), kept behind a
    // sticky barrier for PLAN SHAPE only: it stops column pruning from
    // dropping the tf partial-count out of this branch's aggregate, so
    // both consumers share ONE exchange subtree (ReusedExchange) and the
    // corpus explode runs once, not twice (plans/r19/q52 before: scans
    // (1) and (7) each re-run the Generate).
    val dfreq = terms.where(graft.plans.ArrayExprs.sticky(col("tf") >= 1))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("tf"), col("df"), col("term"))
    terms.join(dfreq, "term")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        TextOps.quantize6(col("tf").cast("double") * log(col("_ndocs") / col("df").cast("double"))).as("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** The SAME as-of join as q43 but through the custom
    * LogicalPlan+Strategy+physical operator (graft.plans.AsOfJoinPlan) —
    * the whole-operator Catalyst tier, verified against the identical
    * DuckDB oracle. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
      .where(col("event_id") < 2000)
      .select(col("event_id"), col("ts"), col("user_id"))
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    graft.plans.AsOfJoinPlan.asofExec(events, orders, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey")
      .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("event_id"))
  }

  /** T2 lateness variant (Cdc.deltaScanWithLateness): `>=` re-read of the
    * lateness window with dedup-by-id absorbing the re-emitted rows. The
    * same window is read TWICE (simulating a re-delivered micro-batch) and
    * the id-dedup collapses it — proving the documented absorption
    * property, not just the predicate. Oracle: a plain `>=` range scan. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val wm = Some(Timestamp.valueOf("2024-01-25 00:00:00"))
    def window = Cdc.deltaScanWithLateness(t(s, dir, "events"), "ts", wm, latenessSeconds = 3600)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    window.unionByName(window)
      .dropDuplicates(Seq("event_id"))
      .orderBy(col("event_id"))
  }

  /** Incremental near-dup (CDC × dedup): the incoming batch (a re-keyed
    * copy of the corpus — every batch doc has a known corpus match) is
    * checked against the existing corpus with the asymmetric band join —
    * no corpus-side self-pairs are ever generated, so the work tracks the
    * BATCH size, the shape a per-delta dedup step needs. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val batch = d.withColumn("doc_id", col("doc_id") + 100000)
    Dedup.minhashLshPairsAgainst(d, batch, "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, threshold = 0.5)
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** Exact substring-window duplicates (Lee et al. 2022-style): document
    * pairs sharing at least one exact 8-token window, with the count of
    * distinct shared windows. Doubled corpus guarantees hits; the window-
    * hash blocking key is an unbounded key space (scale-linear). */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    Dedup.exactWindowPairs(doubled, "doc_id", "text", windowTokens = 8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Token-budget source mixing (the data-mixing step of a training-data
    * pipeline): every source gets an equal share of the total token
    * budget; over-represented sources are down-sampled to their share by
    * a deterministic hash gate, under-represented ones are kept whole.
    * The per-source rates are DATA-DEPENDENT (computed from the corpus,
    * broadcast back) — integer ppm math end to end, so the oracle mirrors
    * exactly. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), TextOps.tokenCount(col("text")).cast("long").as("tok"))
    val bySrc = docs.groupBy(col("source")).agg(sum(col("tok")).as("src_tokens"))
    val total = bySrc.agg(sum(col("src_tokens")).as("total_tokens"), count(lit(1)).as("n_sources"))
    val rates = bySrc.crossJoin(broadcast(total))
      .select(col("source"), col("src_tokens"),
        least(lit(1000000L),
          expr("total_tokens * 1000000 DIV (n_sources * src_tokens)")).as("keep_ppm"))
    val gate = pmod(
      PortableHash.hash32(concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L))
    docs.join(broadcast(rates), "source")
      .where(gate < col("keep_ppm"))
      .groupBy(col("source"), col("keep_ppm"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .select(col("source"), col("keep_ppm"), col("n_docs"), col("n_tokens"))
      .orderBy(col("source"))
  }

  /** Decontamination with the 100 TB plan (q57's semantics on a different
    * held-out cut): the held-out shingle set is compiled into a broadcast
    * Bloom filter and the training side is pruned BEFORE the semi-join's
    * exchange (RuntimeFilters.bloomPrunedSemiJoin) — shuffle volume drops
    * from O(corpus shingles) to O(matches + fpp·corpus). Exact by
    * construction: Bloom filters have no false negatives and the exact
    * semi-join removes the false positives, so the oracle is the plain
    * ANSI semi-join. q57 (broadcast semi-join) is the small-test-set
    * regime; this is the plan for a held-out set too big to broadcast as
    * a hash relation but whose membership fits in megabits. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(TextOps.wordShingles(col("text"), 3))).as("shingle"))
      .select(col("doc_id"), PortableHash.hash32(col("shingle")).as("h"))
    val isTest = col("doc_id") % 89 === 0
    val testShingles = sh.where(isTest).select(col("h")).distinct()
    graft.operators.RuntimeFilters
      .bloomPrunedSemiJoin(sh.where(!isTest), testShingles, "h", expectedItems = 1L << 20)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_contaminated_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Incremental vector near-dup (the CDC-cycle vector analog of q68):
    * a new BATCH of embeddings is checked against the existing CORPUS via
    * shared nearest-centroid blocking — cross-side pairs only, never
    * corpus×corpus, so per-cycle work tracks the batch's cluster
    * footprint. At scale the centroids are the persisted IVF index's own
    * and the corpus side reads cluster-pruned from the index layout;
    * here the deterministic seed matrix keeps the assignment
    * oracle-expressible (same convention as q73). Batch = shifted copy
    * of the corpus, so every batch vector must rediscover its original
    * (cosine 1) plus any true near-dups. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val seeds = e.orderBy(col("vec_id")).limit(16)
      .select(col("embedding")).as[Array[Float]].collect()
    val batch = e.withColumn("vec_id", col("vec_id") + 100000)
    Dedup.clusterNearDupPairsAgainst(e, batch, "vec_id", "embedding", seeds, threshold = 0.25)
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** Curation filter funnel — the accounting report every production
    * pipeline keeps next to its filters: each document is assigned the
    * FIRST rule that rejects it (fixed priority: too_short →
    * non_english → low_quality → kept) and the report counts docs and
    * integer-ppm shares per (source, verdict). One scan + one grouped
    * agg + one partitioned window; all signals reuse the oracle-mirrored
    * TextOps formulas, tokenizing once per doc. The quality cut runs on
    * [[TextOps.qualityMicroOf]] — exact bigint arithmetic, so the verdict
    * can never flip with an engine's double rounding or regex `\s`
    * semantics (the round-6 env-sensitive hash mismatch class). */
  /** Shared scoring stage of the curation funnel: per-doc raw signals
    * (n_chars, n_toks, punct_hits, stop_hits, per-language marker scores)
    * plus the derived pred_lang / quality_micro / verdict. q78 aggregates
    * it; q83 traces it row-by-row — the SAME plan prefix by construction,
    * so a q78 mismatch with q83 green localizes the bug to the
    * aggregation/window. */
  private def funnelScored(s: SparkSession, dir: String, sorted: Boolean = false): DataFrame = {
    // `sorted=true` (q83, the per-doc trace): establish the output's total
    // order BEFORE the scoring projection. A global sort plans as a range
    // exchange whose boundary-sampling pass computes its ENTIRE child once
    // more (RangePartitioner samples the child RDD), so sorting AFTER the
    // scoring runs the regex/tokenize/marker pipeline TWICE per row; with
    // the sort below it, the sampling pass reads only the pruned parquet
    // scan and the heavy projection runs exactly once, above the exchange
    // (guide §2.4: establish partitioning once, then compute). Same rows,
    // same order by construction — projections are order-preserving.
    val base0 = t(s, dir, "documents")
    val base = if (sorted) base0.select(col("doc_id"), col("source"), col("text")).orderBy(col("doc_id")) else base0
    val scored = base
      .select(col("doc_id"), col("source"), col("text"),
        graft.plans.ArrayExprs.sticky(TextOps.tokens(col("text"))).as("_toks"))
      .select(Seq(
        col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("_toks")).cast("long").as("n_toks"),
        TextOps.punctHits(col("text")).cast("long").as("punct_hits"),
        TextOps.markerCount(col("_toks"), TextOps.stopwords).cast("long").as("stop_hits"),
        TextOps.langIdOf(col("_toks")).as("pred_lang"),
        TextOps.qualityMicroOf(col("text"), col("_toks")).as("quality_micro")) ++
        TextOps.langMarkers.map { case (l, ms) =>
          TextOps.markerCount(col("_toks"), ms).cast("long").as(s"s_$l")
        }: _*)
    val verdict = when(col("n_chars") < 100, lit("too_short"))
      .when(col("pred_lang") =!= "en", lit("non_english"))
      .when(col("quality_micro") < lit(500000L), lit("low_quality"))
      .otherwise(lit("kept"))
    scored.withColumn("verdict", verdict)
  }

  private def q78(s: SparkSession, dir: String): DataFrame =
    funnelScored(s, dir)
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_ppm",
        expr("n_docs * 1000000 DIV sum(n_docs) OVER (PARTITION BY source)"))
      .orderBy(col("source"), col("verdict"))

  /** Funnel trace (q78's per-doc debugging surface): EVERY raw signal and
    * intermediate the verdict depends on, over the FULL corpus — a driver
    * mismatch names the diverging column and doc in the correctness row
    * itself. With this green, any residual q78 divergence is pinned to
    * the grouped agg / share window alone. */
  private def q83(s: SparkSession, dir: String): DataFrame =
    // total order established INSIDE funnelScored(sorted=true), below the
    // scoring projection — see the sampling-pass note there; the output is
    // doc_id-ordered exactly as the trailing orderBy produced
    funnelScored(s, dir, sorted = true)
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_toks"),
        col("punct_hits"), col("stop_hits"),
        col("s_en"), col("s_es"), col("s_de"), col("s_fr"), col("s_zh"),
        col("pred_lang"), col("quality_micro"), col("verdict"))

  /** q78 minus the share window: the grouped (source, verdict) counts
    * alone. Bisect surface — with q83 green per-doc and q84 green, any
    * residual q78 red is pinned to the share_ppm window division. */
  private def q84(s: SparkSession, dir: String): DataFrame =
    funnelScored(s, dir)
      .groupBy(col("source"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("verdict"))

  /** Deterministic epoch shuffle — training-order randomization without
    * rand(): order = portable hash of (epoch salt, doc id). Reproducible
    * across runs/partitionings/engines (the property rand() lacks), a new
    * salt reshuffles the next epoch, and at scale the hash column is a
    * RANGE partition key whose uniformity guarantees balanced output
    * files — the standard way a 100 TB corpus is shuffled for training
    * (a global sort by random-looking key, planned as one range
    * exchange). Emits each doc's shuffle position per two epoch salts;
    * the positions must be a permutation (oracle checks both orders). */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.EpochShuffle
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val e1 = EpochShuffle.globalOrderIndex(docs,
      EpochShuffle.shuffleKey("epoch1", col("doc_id")), col("doc_id"), "pos_epoch1")
    val e2 = EpochShuffle.globalOrderIndex(docs,
      EpochShuffle.shuffleKey("epoch2", col("doc_id")), col("doc_id"), "pos_epoch2")
    e1.join(e2, Seq("doc_id"))
      .select(col("doc_id"), col("pos_epoch1"), col("pos_epoch2"))
      .orderBy(col("doc_id"))
  }

  /** Quantized ANN with exact re-rank — the vector-I/O scale path: score
    * the corpus on int8 codes (1/4 the bytes of float32, exact integer
    * dot products via the codegen ByteDotProduct kernel) to pick top-C
    * candidates, then re-rank only those C on the full-precision floats.
    * At 100 TB the quantized column is the one the candidate scan reads;
    * full vectors are fetched per survivor. Quantization, integer
    * scoring, and the re-rank are all deterministic integer/IEEE math
    * with a fixed op order, so DuckDB mirrors the whole pipeline —
    * candidate cut included — exactly. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayExprs
    // fused codegen quantizer — value-identical to
    // int8Quantize(v, int8Scale(v)) (ExprParitySpec), but one generated
    // loop instead of two interpreted CodegenFallback `transform`s
    val e = t(s, dir, "embeddings")
      .withColumn("qv", ArrayExprs.int8Codes(col("embedding")))
      .withColumn("nq", ArrayExprs.byteDotProduct(col("qv"), col("qv")))
    val probe = e.where(col("vec_id") === 0)
      .select(col("qv").as("pq"), col("nq").as("np"), col("embedding").as("pe"))
    e.crossJoin(broadcast(probe))
      .where(col("vec_id") =!= 0 && col("nq") > 0 && col("np") > 0)
      .withColumn("dq", ArrayExprs.byteDotProduct(col("qv"), col("pq")))
      .withColumn("score_q", col("dq").cast("double") / sqrt(col("nq").cast("double") * col("np").cast("double")))
      .orderBy(desc("score_q"), col("vec_id"))
      .limit(50)
      .select(col("vec_id"), round(col("score_q"), 6).as("score_q8"),
        round(VectorOps.cosineFast(col("embedding"), col("pe")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
  }

  /** SemDeDup-style cluster-blocked embedding near-dup (Abbas et al.
    * 2023): vectors are assigned to their nearest coarse centroid and
    * pairs are generated only within a cluster — the DATA-ADAPTIVE
    * blocking that replaces q27's fixed 2^bits sign-bucket space at
    * scale (pick k ≈ n/targetClusterSize and candidate volume stays
    * linear in n; the cluster id is the IVF partition key, so at 100 TB
    * the pair join is partition-local over the persisted index layout).
    * Centroids here are the deterministic seed set (first 16 vectors by
    * id) so DuckDB can mirror the assignment argmax exactly; production
    * passes `SimilaritySearch.ivfTrain` output — same operator, same
    * plan. Doubled corpus guarantees exact-dup pairs (identical vectors
    * always share a cluster). */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val seeds = e.orderBy(col("vec_id")).limit(16)
      .select(col("embedding")).as[Array[Float]].collect()
    val doubled = e.unionByName(e.withColumn("vec_id", col("vec_id") + 100000))
    Dedup.clusterNearDupPairs(doubled, "vec_id", "embedding", seeds, threshold = 0.25)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Quality-aware canonical selection — the keep-rule of a real curation
    * pipeline: inside each near-dup cluster keep the HIGHEST-quality
    * member (tie → lowest id), not the arbitrary first-seen. One window
    * over the cluster label after CC — no shuffle beyond the clustering
    * itself (the window partitions by the key the labels already
    * hash-partition on). */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val bounded = t(s, dir, "documents").where(col("doc_id") < 500)
    // width follows the doc_id-bounded input via an isolated session
    // clone, as in q45 (see there)
    val s2 = Materialize.loopWidthSession(s, bounded.count())
    val docs = if (s2 eq s) bounded else t(s2, dir, "documents").where(col("doc_id") < 500)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 1, threshold = 0.9, lengthBucket = 16)
    val clusters = Dedup.dedupClusters(docs, "doc_id", pairs)
    val scored = docs.select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy(col("canonical")).orderBy(desc("quality"), col("doc_id"))
    clusters.join(scored, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("canonical"), col("quality"), (col("rk") === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-adaptive boilerplate pruning (the token-level analog of
    * RefinedWeb/CCNet line dedup, which this fixture's newline-free text
    * can't express): token document-frequencies are computed over the
    * corpus, tokens appearing in more than half of all documents become
    * a drop list, and each document's text is reassembled from its
    * surviving tokens in original order. The drop list is bounded by
    * construction (at most totalOccurrences/(N/2) tokens can each appear
    * in > N/2 docs), so it broadcasts; the corpus-side plan is one
    * explode + one broadcast anti-join + one reassembly groupBy —
    * integer df math end to end, no second corpus scan. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = docs.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val dfreq = toks.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val dropList = dfreq.crossJoin(broadcast(total))
      .where(col("df") * 2 > col("n_docs"))
      .select(col("tok"))
    val kept = toks.join(broadcast(dropList), Seq("tok"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("filtered_text"))
    docs.select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("filtered_text"), lit("")).as("filtered_text"))
      .orderBy(col("doc_id"))
  }

  /** S1 as a bench-visible read path: the fixture's `nation` table is
    * seeded once per JVM into an embedded in-memory Derby database, then
    * read back through the PARTITIONED JDBC source (4 bounded
    * per-partition queries, not one fetchall) with the region predicate
    * pushed into the database, broadcast-joined to the parquet `region`
    * dim. JdbcSpec proves parity/pushdown mechanics; this keeps the live
    * S1 path from bit-rotting as the engine evolves, oracle-checked
    * against the same relational result over parquet. */
  private val jdbcSeeded = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val db = "graftq67_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val url = s"jdbc:derby:memory:$db;create=true"
    // Derby writes derby.log into the JVM's cwd (the repo root under sbt)
    // unless told otherwise; must be set before the engine first loads
    System.setProperty("derby.stream.error.file",
      new java.io.File(sys.props("java.io.tmpdir"), "graft_derby.log").getAbsolutePath)
    jdbcSeeded.computeIfAbsent(db, _ => {
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .collect() // 25-row dimension seed — driver-side by design
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.createStatement().executeUpdate(
          "CREATE TABLE nation_src (n_nationkey BIGINT NOT NULL, n_name VARCHAR(64), n_regionkey BIGINT)")
        val ps = conn.prepareStatement("INSERT INTO nation_src VALUES (?, ?, ?)")
        rows.foreach { r =>
          ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1)); ps.setLong(3, r.getLong(2))
          ps.addBatch()
        }
        ps.executeBatch()
      } finally conn.close()
      db
    })
    val nations = graft.sources.Tables.jdbc(s, url, "nation_src", user = "", password = "",
      partitionColumn = Some("n_nationkey"), lowerBound = Some("0"), upperBound = Some("25"),
      numPartitions = 4)
      .where(col("n_regionkey") < 3) // pushed into Derby (PushedFilters)
    nations
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
      .orderBy(col("r_name"))
  }

  /** Exact twin of q95's ANSI-expressible half: the sketch query's
    * `exact_parts`/`n` sanity columns, split out so they get a full
    * hash-checked oracle row — only the `approx_*` columns remain
    * rows-only (engine-specific sketch internals).
    *
    * Plan shape (r13, third iteration of the sx625 decade chase):
    * ONE scan, two chained aggregates, no join —
    *
    *   pairs = groupBy(flag, partkey).count()          // the only big shuffle
    *   out   = pairs.groupBy(flag)
    *             .agg(count(partkey non-null) AS exact_parts,  // distinct pairs
    *                  sum(pair count)         AS n)            // total rows
    *
    * `n` as the sum of per-pair counts is arithmetically the plain row
    * count, so the r12 two-pass shape (distinct pass + count pass joined
    * on 3 rows) collapses into one linear pipeline: the 375M-row fact
    * scan runs ONCE instead of twice — at sx625 the two concurrent scan
    * stages were 78 s + 80 s of the 105 s total (StageProbe r13) — and
    * the second aggregate's input is the deduped pairs, map-side-combined
    * to 3 rows per task before its shuffle. NULL partkeys count toward
    * `n` but not `exact_parts` (countDistinct semantics), via the
    * conditional count instead of a pre-filter. The r12 no-Expand
    * property is preserved: neither aggregate mixes distinct with plain
    * over the same input (PlanAuditSpec pins it). */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_partkey"))
    li.repartition(distinctWidth(s, dir, "lineitem"), col("l_returnflag"), col("l_partkey"))
      .groupBy(col("l_returnflag"), col("l_partkey")).agg(count(lit(1)).as("_c"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("l_partkey").isNotNull, lit(1))).as("exact_parts"),
        sum(col("_c")).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Reduce-side width for an exact-distinct shuffle over nearly-unique
    * keys, scaled to the fact table's on-disk bytes (~24 MB of scan per
    * partition, clamped to [session shuffle width, 1024]).
    *
    * Why explicit: a nearly-unique key space defeats BOTH halves of the
    * default aggregate plan. The map-side partial agg builds a
    * millions-of-entries hash map that eliminates ~8% of rows (measured,
    * sx625) — pure CPU+GC; and AQE coalesces the reduce side by
    * COMPRESSED shuffle bytes (~10 B/pair), so each reduce task gets
    * multi-million-key hash maps whose probe cost grows super-linearly
    * with fixture scale (the r12 "spill knee" that never actually
    * spilled — StageProbe r13 showed it is hash-map CPU, not disk). An
    * explicit `repartition(P, keys)` before the groupBy skips the
    * useless partial (the exchange forwards raw rows) and pins the
    * aggregate at width P — per-task key count stays ~constant as data
    * grows, which is exactly what a cluster operator does by adding
    * executors. */
  private def distinctWidth(s: SparkSession, dir: String, table: String): Int = {
    def size(x: java.io.File): Long =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(size).sum else x.length()
    val bytes = size(new java.io.File(dir, table + ".parquet"))
    // the RAW conf, not numShufflePartitions: under AQE the latter
    // reports coalescePartitions.initialPartitionNum (256 on the
    // ladder), which would floor the width at 256 even at sf0.1
    val base = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.max(base, math.min(1024, (bytes / (24L << 20)).toInt))
  }

  /** Cross-source corpus overlap matrix — the corpus-analytics view a
    * mixture designer reads before setting source weights: exact Jaccard
    * of the DISTINCT 3-gram shingle-hash sets of every source pair.
    * Plan: one distinct over (source, shingle_hash) — bounded by
    * sources × shingle vocabulary, NOT corpus size — then a self-join on
    * the hash (each hash yields at most sources² pair rows, so candidate
    * volume is linear in vocabulary) and a count per pair; set sizes are
    * a sources-row relation, broadcast. The two self-join sides are the
    * identical subplan, so ReuseExchange scans and shuffles once. */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayExprs
    val sh = t(s, dir, "documents")
      .select(col("source"),
        explode(array_distinct(ArrayExprs.shingleHash32(TextOps.tokens(col("text")), 3))).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        TextOps.quantize6(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Frequent n-gram mining — the memorization-risk list: the 20 most
    * frequent 3-grams with total occurrence count and document
    * frequency. Two-phase: per-(ngram, doc) multiplicities first (the
    * partial agg collapses within-doc repeats map-side, so the second
    * shuffle carries one row per distinct pair — the same pre-aggregation
    * that fixed q63's occurrence blow-up), then one agg per ngram; the
    * top-20 runs as TakeOrdered (per-partition heaps + a 20-row driver
    * merge), never a global sort. Fully deterministic: the ngram string
    * is a unique final tie-break. */
  private def q81(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.wordShingles(col("text"), 3)).as("ngram"))
      .groupBy(col("ngram"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("ngram"))
      .agg(sum(col("c")).as("occurrences"), count(lit(1)).as("doc_freq"))
      .orderBy(desc("occurrences"), desc("doc_freq"), col("ngram"))
      .limit(20)

  /** Fuzzy-overlap contamination scoring (the 13-gram-style containment
    * check of GPT-3/PaLM data decontamination, at fixture scale 3-grams):
    * for every candidate document, the fraction of its DISTINCT shingle
    * hashes that appear anywhere in the benchmark corpus (here: source
    * `src0`). Complements q57/q71, which drop on EXACT chunk matches —
    * containment catches partial copies. The benchmark set is a DISTINCT
    * hash relation joined shuffle-hash on the shingle hash (never
    * broadcast: a benchmark suite can be arbitrarily large), then one
    * groupBy per doc; the verdict compares integers (n_hit*2 >= n_ngrams)
    * so the 0.5 cut is engine-exact, q78-style. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.ArrayExprs
    val docs = t(s, dir, "documents")
    def shingles(d: DataFrame, cols: Column*) = d.select(
      cols :+ explode(array_distinct(
        ArrayExprs.shingleHash32(TextOps.tokens(col("text")), 3))).as("h"): _*)
    val bench = shingles(docs.where(col("source") === "src0")).distinct()
      .withColumn("hit", lit(1L))
    shingles(docs.where(col("source") =!= "src0"), col("doc_id"))
      .join(bench.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        TextOps.quantize6(col("n_hit").cast("double") / col("n_ngrams").cast("double")).as("containment"),
        (col("n_hit") * 2 >= col("n_ngrams")).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Sketch family (no cross-engine oracle EXISTS: HLL/KLL internals are
    * engine-specific; q79 hash-checks the exact twin) — but the result is
    * still CHECKED, inside the query itself: every row carries its
    * error-bound verdicts, and a violated bound does not render `false`,
    * it raise_error()s — so the rows-only Verify/Bench run IS a gate, not
    * just numbers. Bounds are the documented guarantees with slack:
    *  - `ok_distinct`: approx_count_distinct's default rsd is 5%
    *    (HyperLogLog++); the check allows 3×rsd = 15% relative error.
    *  - `ok_median`: percentile_approx(accuracy=1000) guarantees rank
    *    error ≤ n/accuracy; the check brackets the estimate between the
    *    EXACT order statistics at ranks n·(0.5 ± 2/accuracy) (2× slack
    *    for the ±1-row boundary). The bracket is [[RankStats.atRanks]] —
    *    value-blocked two-phase rank: the only sorts are tiny per-block
    *    windows over the ≤2 blocks that contain a target rank, so the
    *    verification half scales with the data instead of running
    *    #groups single-task full sorts (the pre-r12 `row_number` window
    *    at parallelism 3). Not `percentile()` either: that buffers every
    *    group value in a per-group hash map that is neither spillable
    *    nor codegen'd. Both estimators are deterministic for a fixed
    *    input, so a bound that passes cannot flake. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val eps = 2.0 / 1000 // 2× percentile_approx's 1/accuracy rank bound
    def checked(ok: Column, msg: Column): Column =
      when(ok, lit(true)).otherwise(raise_error(msg))
    val li = t(s, dir, "lineitem")
    // exact_parts runs as its own distinct pass and joins the sketch agg
    // (3 rows each side): one aggregate mixing countDistinct with plain
    // aggs would Expand every row ×2 through the partial map and the
    // shuffle — the measured super-linear term of the sx625 decade
    // (BASELINE.md r12; same split as q79, where the mechanism is
    // documented). approx_count_distinct is an HLL agg, not a planner
    // "distinct", so the sketch side stays Expand-free.
    val sketchAgg = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx_median_price"),
        count(lit(1)).as("n"))
    val exact = li.select(col("l_returnflag"), col("l_partkey"))
      .where(col("l_partkey").isNotNull) // countDistinct ignores NULL; so must the split
      .repartition(distinctWidth(s, dir, "lineitem"), col("l_returnflag"), col("l_partkey"))
      .distinct() // width pinned as in q79: no map-side partial, constant per-task keys
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    val sketches = sketchAgg.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("approx_parts"), col("exact_parts"),
        col("approx_median_price"), col("n"))
    // exact rank bracket — the verification half; same order statistics
    // as a global per-group sort, computed block-distributed
    val bracket = RankStats.atRanks(
        li.select(col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice",
        n => Seq(
          greatest(lit(1L), floor(n * (0.5 - eps))),
          least(n, ceil(n * (0.5 + eps)))))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("_med_lo"), max(col("l_extendedprice")).as("_med_hi"))
    sketches.join(broadcast(bracket), Seq("l_returnflag"))
      .withColumn("ok_distinct", checked(
        abs(col("approx_parts") - col("exact_parts")).cast("double") <=
          col("exact_parts").cast("double") * 0.15,
        concat(lit("q95 sketch bound violated: approx_count_distinct "),
          col("approx_parts"), lit(" vs exact "), col("exact_parts"))))
      .withColumn("ok_median", checked(
        col("approx_median_price").between(col("_med_lo"), col("_med_hi")),
        concat(lit("q95 sketch bound violated: approx median "),
          col("approx_median_price"), lit(" outside ["),
          col("_med_lo"), lit(", "), col("_med_hi"), lit("]"))))
      .drop("_med_lo", "_med_hi")
      .orderBy(col("l_returnflag"))
  }

  /** IVF ANN through the PERSISTED index (rows-only: trained centroids
    * aren't ANSI-SQL-expressible): build the cluster-partitioned index in
    * a scratch dir, then `IvfIndex.search` it — the scan is pruned to the
    * nprobe nearest cluster DIRECTORIES (partition pruning is what makes
    * IVF an index; plan-asserted in SimilaritySpec). The in-memory
    * `ivfTopK` full-scan variant stays for tests — it is not the scale
    * read path. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = ivfScratchIndex(e, dir)
    ivfOracleCents.computeIfAbsent("q94_ivf_ann", _ => IvfIndex.centroids(s, idx))
    val probe = e.where(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    IvfIndex.search(s, idx, probe, k = 10, nprobe = 2)
  }

  /** Trained centroid matrices captured when q94/q96 run (k×dim floats —
    * the same driver-size state the search itself loads), consumed by
    * [[oracleSql]] to instantiate the DuckDB read-path mirrors
    * ([[OracleSql.ivfSearchMirror]]). Verify runs every query before
    * dumping oracle_sql.json, so the entries are always populated there;
    * an oracleSql call before the queries ran simply omits the two rows
    * (→ the pre-r11 rows-only check, never a wrong hash). */
  private val ivfOracleCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  /** q94's scratch IVF index: built ONCE per (JVM, fixture dir) into a
    * deterministic temp path and reused by every repeat, so the benched
    * time is the partition-pruned SEARCH — the read path the query name
    * claims — not a rebuild; index build cost is a separate one-time
    * write, exactly as it is at cluster scale. A complete prior index at
    * the same path (both parquet `_SUCCESS` markers) is reused across
    * JVMs; a shutdown hook removes the directory on exit so repeated
    * Verify/Bench runs leave no temp litter. */
  private val ivfScratchBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfScratchIndex(e: DataFrame, dir: String): String = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_ivf_q94_" + dir.replaceAll("[^A-Za-z0-9.-]", "_")).getAbsolutePath
    ivfScratchBuilt.computeIfAbsent(path, p => {
      val complete = new java.io.File(p, "data/_SUCCESS").isFile &&
        new java.io.File(p, "centroids/_SUCCESS").isFile
      if (!complete) IvfIndex.build(e, "vec_id", "embedding", p, k = 8, iters = 2)
      Runtime.getRuntime.addShutdownHook(new Thread(() => Cdc.deleteRecursively(new java.io.File(p))))
      p
    })
  }

  /** q93 scratch dirs pending deletion: drained eagerly by the next q93
    * call and, for the last survivor, by one static JVM shutdown hook. */
  private val cdcScratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var d = cdcScratchDirs.poll()
    while (d != null) { Cdc.deleteRecursively(new java.io.File(d)); d = cdcScratchDirs.poll() }
  }))

  /** ANN search through a persisted IVF index AFTER incremental append
    * (rows-only, like q94) — the CDC × ANN maintenance path, kept
    * bench-visible so it can't bit-rot: the index is built from the
    * lower half of the corpus, the upper half arrives later as a batch
    * with offset ids routed to the EXISTING centroids
    * ([[IvfIndex.append]]: new files inside routed cluster directories
    * only, no retrain, no rewrite), and the search reads base and
    * appended files through the same pruned nprobe-cluster scan. The
    * probe is an upper-half vector, absent from the base index — its
    * cosine-1.0 top hit (id `vec_id + 1000000`) can only come from the
    * appended files, so a non-empty exact match proves the append is
    * actually being read (PlanAuditSpec asserts the pruned scan + the
    * appended top hit). */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = ivfAppendScratchIndex(e, dir)
    ivfOracleCents.computeIfAbsent("q96_ivf_append", _ => IvfIndex.centroids(s, idx))
    val probe = e.orderBy(desc("vec_id")).limit(1).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    IvfIndex.search(s, idx, probe, k = 10, nprobe = 2)
  }

  /** q96's scratch index: built + appended ONCE per (JVM, fixture dir)
    * — same lifecycle as [[ivfScratchIndex]], with an extra `APPENDED`
    * marker so a complete build+append survives across JVMs and a
    * partial one is rebuilt from scratch. Repeats therefore bench the
    * pruned SEARCH over the appended layout, and the append itself runs
    * exactly once (appending per repeat would violate append's new-ids
    * contract and grow the index between repeats). */
  private val ivfAppendBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfAppendScratchIndex(e: DataFrame, dir: String): String = {
    val path = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_ivf_q96_" + dir.replaceAll("[^A-Za-z0-9.-]", "_")).getAbsolutePath
    ivfAppendBuilt.computeIfAbsent(path, p => {
      val marker = new java.io.File(p, "APPENDED")
      if (!marker.isFile) {
        Cdc.deleteRecursively(new java.io.File(p))
        val maxId = e.agg(max(col("vec_id"))).collect()(0).getLong(0)
        IvfIndex.build(e.where(col("vec_id") <= maxId / 2), "vec_id", "embedding",
          p, k = 8, iters = 2)
        IvfIndex.append(
          e.where(col("vec_id") > maxId / 2)
            .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")),
          "vec_id", "embedding", p)
        marker.createNewFile()
      }
      Runtime.getRuntime.addShutdownHook(new Thread(() => Cdc.deleteRecursively(new java.io.File(p))))
      p
    })
  }

  /** Wrap a documents-only query with the small-input session policy
    * ([[Materialize.inputSizedSession]]): the corpus' on-disk bytes — a
    * driver-side listing, no job — pick between the session as-is (at
    * scale: full width, AQE on) and an AQE-free width-4 clone (small
    * fixtures, where AQE's per-stage jobs are most of the query's wall
    * time). Applied in the registry, not the bodies, so every body stays
    * width-agnostic; only queries whose sole input is `documents` wrap
    * (a join against a big second table must never downsize). The
    * loop-bearing dedup/CC queries are deliberately NOT wrapped — their
    * pair generation carries real CPU the session width parallelizes
    * (q53 A/B, r12), and their loops already narrow from measured rows. */
  private def onDocSized(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    onSized("documents")(f)

  /** [[onDocSized]] generalized to any input-table set: the policy reads
    * the SUM of the named tables' on-disk bytes, so a query joining a
    * small dim against a big fact never downsizes (lineitem alone clears
    * the threshold at sf0.1). Every wrap below was CcProbe-A/B'd at
    * sf0.1 (width 4 + AQE off vs session): all wrapped queries improved
    * 15–50%, including the pair-generator family (q18 1.72→0.91 s — the
    * r12 "don't narrow pair gen" finding was about width 1, not 4).
    * Excluded by design: the chunkers (q16/q54 — scalable chunk
    * boundaries are partition-local, so the session's width is part of
    * their contract), the persisted-IVF pair (q94/q96 — index layout
    * owns the read shape), the skew-showcase join (q56 — its plan
    * exists to exercise full-width salting), the embed-UDF pair
    * (q90/q91 — the UDF's CPU wants the session's cores), the
    * self-narrowing CC loops (q45/q53/q74), and q50 (A/B flat).
    *
    * WRAP POLICY FOR A NEW QUERY (the registry is hand-curated; this is
    * the default so the curation doesn't drift, VERDICT r13 #6):
    * DEFAULT-WRAP a one-shot scan/agg/join whose inputs are the doc
    * family or the dims — anything summing under [[Materialize.SmallQueryBytes]]
    * at sf0.1 — naming EVERY table the body reads (PlanAuditSpec asserts
    * declared == scanned, so a forgotten table fails the build, ADVICE
    * r13). NEVER wrap: chunkers (partition-local boundaries are part of
    * the contract), iterative loops (they self-narrow from measured rows
    * via loopWidthSession), persisted-index readers (the index layout
    * owns the read shape), embed-UDF queries (per-row UDF CPU wants the
    * session's cores), skew showcases, or anything reading a
    * lineitem-class fact — the fact clears the byte threshold anyway,
    * and the REJECTED width-8 lineitem tier (BASELINE.md r13) showed a
    * byte threshold cannot distinguish cheap numeric rows from CPU-heavy
    * text, so there is no middle tier: wrap fully or not at all. When in
    * doubt, leave unwrapped and A/B with graft.Profile before wrapping. */
  private def onSized(tables: String*)(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame = {
    val wrapped: (SparkSession, String) => DataFrame = (s, dir) =>
      f(Materialize.inputSizedSession(
        s, tables.map(graft.sources.Tables.tableBytes(dir, _)).sum), dir)
    sizedDeclarations.put(wrapped, tables)
    wrapped
  }

  /** Declared input tables of every [[onSized]]-wrapped query, keyed by
    * the wrapped closure itself (identity — the registry maps names to
    * these exact function values). Exists so PlanAuditSpec can assert,
    * per wrapped query, declared tables == tables the plan actually
    * scans: the lists are hand-maintained duplicates of each body's
    * reads, and an un-updated wrap would silently under-count bytes and
    * downsize a large join at scale (ADVICE r13). */
  private[graft] val sizedDeclarations =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[AnyRef, Seq[String]]())

  // lazy val (not def): the registry is immutable, and a stable map keeps
  // the [[sizedDeclarations]] identity keys valid for the life of the JVM
  // instead of re-wrapping ~50 closures per access
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01 _),
    "q02_delta_scan" -> onSized("events")(q02 _),
    "q03_watermark_max" -> onSized("events")(q03 _),
    "q04_point_lookup" -> onSized("events")(q04 _),
    "q05_anti_join" -> onSized("customer", "orders")(q05 _),
    "q06_semi_join" -> (q06 _),
    "q07_join_revenue" -> (q07 _),
    "q08_window_topk" -> onSized("orders")(q08 _),
    "q09_running_sum" -> (q09 _),
    "q10_distinct_agg" -> onSized("orders")(q10 _),
    "q11_setops" -> onSized("customer", "supplier")(q11 _),
    "q12_rollup" -> onSized("customer", "nation")(q12 _),
    "q13_json_extract" -> onSized("events")(q13 _),
    "q14_window_day" -> onSized("events")(q14 _),
    "q15_scalar_funcs" -> onSized("part")(q15 _),
    "q16_chunk_docs" -> (q16 _),
    "q17_exact_dedup" -> onDocSized(q17 _),
    "q18_minhash_lsh" -> onSized("documents")(q18 _),
    "q19_simhash" -> onDocSized(q19 _),
    "q20_ngram_jaccard" -> onDocSized(q20 _),
    "q21_langid" -> onDocSized(q21 _),
    "q22_quality_score" -> onDocSized(q22 _),
    "q23_fingerprint" -> onDocSized(q23 _),
    "q24_knn_bruteforce" -> onSized("embeddings")(q24 _),
    "q25_knn_lsh" -> onSized("embeddings")(q25 _),
    "q26_embedding_stats" -> onSized("embeddings")(q26 _),
    "q27_embedding_neardup" -> onSized("embeddings")(q27 _),
    "q28_grouping_sets" -> onSized("events")(q28 _),
    "q29_topk_orders" -> onSized("orders")(q29 _),
    "q30_asof_watermark" -> onSized("events")(q30 _),
    "q31_outer_join" -> onSized("customer", "nation")(q31 _),
    "q32_having" -> (q32 _),
    "q33_scalar_subquery" -> onSized("customer")(q33 _),
    "q34_like_filter" -> onSized("part")(q34 _),
    "q35_bpe_tokens" -> onDocSized(q35 _),
    "q36_minhash_sigs" -> onDocSized(q36 _),
    "q37_simhash_pairs" -> onDocSized(q37 _),
    "q38_knn_join_batch" -> onSized("embeddings")(q38 _),
    "q39_pivot" -> onSized("customer", "nation")(q39 _),
    "q40_posexplode" -> onSized("documents")(q40 _),
    "q41_percentiles" -> onSized("part")(q41 _),
    "q42_edit_distance" -> onSized("documents")(q42 _),
    "q43_asof_join" -> onSized("events", "orders")(q43 _),
    "q44_sessionize" -> onSized("events")(q44 _),
    "q45_dedup_clusters" -> (q45 _),
    "q46_split" -> onDocSized(q46 _),
    "q47_source_quota" -> onDocSized(q47 _),
    "q48_corpus_stats" -> onDocSized(q48 _),
    "q49_asof_custom_exec" -> onSized("events", "orders")(q49 _),
    "q50_heavy_hitters" -> (q50 _),
    "q51_bigram_lm" -> onDocSized(q51 _),
    "q52_tfidf" -> onDocSized(q52 _),
    "q53_dedup_clusters_star" -> (q53 _),
    "q54_chunk_scalable" -> (q54 _),
    "q55_decimal_roundtrip" -> (q55 _),
    "q56_salted_join" -> (q56 _),
    "q57_decontamination" -> onSized("documents")(q57 _),
    "q58_seq_packing" -> onSized("documents")(q58 _),
    "q59_repetition" -> onDocSized(q59 _),
    "q60_quality_topp" -> onDocSized(q60 _),
    "q61_stratified_sample" -> onDocSized(q61 _),
    "q62_pii_redaction" -> onDocSized(q62 _),
    "q63_ngram_lm_score" -> onDocSized(q63 _),
    "q64_token_packing" -> onDocSized(q64 _),
    "q65_curation_pipeline" -> onDocSized(q65 _),
    "q66_lateness_scan" -> onSized("events")(q66 _),
    "q67_jdbc_dim_join" -> (q67 _),
    "q68_incremental_neardup" -> onSized("documents")(q68 _),
    "q69_substring_dup" -> (q69 _),
    "q70_token_mix" -> onDocSized(q70 _),
    "q71_bloom_decontamination" -> onDocSized(q71 _),
    "q72_quantized_knn" -> onSized("embeddings")(q72 _),
    "q73_cluster_neardup" -> onSized("embeddings")(q73 _),
    "q74_keep_best" -> (q74 _),
    "q75_df_prune" -> onSized("documents")(q75 _),
    "q76_epoch_shuffle" -> onSized("documents")(q76 _),
    "q77_incremental_vector_neardup" -> onSized("embeddings")(q77 _),
    "q78_filter_funnel" -> onDocSized(q78 _),
    "q83_funnel_trace" -> onDocSized(q83 _),
    "q84_funnel_counts" -> onDocSized(q84 _),
    "q79_sketch_exact" -> (q79 _),
    "q80_source_overlap" -> onDocSized(q80 _),
    "q81_ngram_mining" -> onDocSized(q81 _),
    "q82_ngram_containment" -> onDocSized(q82 _),
    "q90_embed_documents" -> (q90 _),
    "q91_text_query_knn" -> (q91 _),
    "q92_multimodal" -> onSized("documents")(q92 _),
    "q93_cdc_cycle" -> (q93 _),
    "q94_ivf_ann" -> (q94 _),
    "q95_sketches" -> (q95 _),
    "q96_ivf_append" -> (q96 _))

  def oracleSql: Map[String, String] = OracleSql.all ++ ivfOracleEntries

  /** The IVF mirrors, instantiated with the centroids the engine queries
    * captured this JVM (see [[ivfOracleCents]]). Corpus/probe SQL restates
    * what the engine queries DERIVE from the fixture — q94 indexes the
    * whole embeddings table and probes vec_id 0; q96 indexes the lower
    * half, appends the upper half at id+1000000, and probes the max-id
    * vector (whose appended twin must surface at cosine 1.0, proving the
    * pruned scan reads appended files). */
  private def ivfOracleEntries: Map[String, String] = {
    val out = Map.newBuilder[String, String]
    Option(ivfOracleCents.get("q94_ivf_ann")).foreach { c =>
      out += "q94_ivf_ann" -> OracleSql.ivfSearchMirror(
        c,
        corpus = "SELECT vec_id AS id, embedding FROM embeddings",
        probe = "SELECT embedding AS pe FROM embeddings WHERE vec_id = 0",
        nprobe = 2, k = 10)
    }
    Option(ivfOracleCents.get("q96_ivf_append")).foreach { c =>
      out += "q96_ivf_append" -> OracleSql.ivfSearchMirror(
        c,
        corpus = """SELECT vec_id AS id, embedding FROM embeddings
          WHERE vec_id <= (SELECT max(vec_id) FROM embeddings) // 2
          UNION ALL
          SELECT vec_id + 1000000 AS id, embedding FROM embeddings
          WHERE vec_id > (SELECT max(vec_id) FROM embeddings) // 2""",
        probe = """SELECT embedding AS pe FROM embeddings
          WHERE vec_id = (SELECT max(vec_id) FROM embeddings)""",
        nprobe = 2, k = 10)
    }
    out.result()
  }
}
