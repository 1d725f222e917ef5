package graft

import graft.core.Tables
import graft.multimodal.Binary
import graft.operators.{AsOfJoin, Bucketing, Checks, Classifier, Curation, Dedup, Funnel, GlobalIndex, Graph, Importance, IntervalJoin, LanguageModel, Layout, Merge, MinHashLSH, Packing, Paths, ProductQuantizer, Retention, Sampling, Sessionize, SimHash, Similarity, SkewJoin, Sketches, TextAnalysis, Urls, VectorIndex}
import graft.sinks.{CsvSink, ParquetSink}
import graft.sources.{Catalog, SasCsvReader, SasOptions, SasTypes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** §2.2–§2.3 — relational core: aggregates, joins, windows, pivots,
  * subqueries, sampling, intervals, as-of family. */
private[graft] trait QueriesCore extends QueryHelpers {

  // ---------------------------------------------------------------- §2.2

  /** TPC-H Q1-shaped pricing summary (map-side partial agg → one shuffle). */
  def q10AggPricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** 4-way star join; dims broadcast explicitly (nation always; customer is a
    * dim at this shape — broadcast locally, shuffle-join at 100 TB where it
    * no longer fits; AQE re-plans either way). */
  def q11JoinBroadcast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")

  /** Fact-fact shuffle join + agg; AQE handles runtime partition sizing. */
  def q12JoinShuffle(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Global top-N: orderBy+limit → TakeOrderedAndProject (no full sort). */
  def q13TopN(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** Per-key window rank, keep top 3 (deterministic tiebreak on key). */
  def q14WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
      .orderBy("c_mktsegment", "rn")
  }

  /** Distinct projection (hash-agg, map-side partial). */
  def q15Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** Left-anti join: customers with no orders. */
  def q16AntiSemi(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Union of labeled subqueries. */
  def q17UnionLabel(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(lit("customer").as("kind"), col("c_name").as("name"))
      .unionByName(
        t(spark, dir, "supplier").select(lit("supplier").as("kind"), col("s_name").as("name")))
      .orderBy("kind", "name")

  /** Manual pivot via sum(case when) — single pass, no pivot shuffle. */
  def q18Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(sum(when(col("l_linestatus") === "F", col("l_quantity")).otherwise(lit(0.0))), 2).as("qty_f"),
        round(sum(when(col("l_linestatus") === "O", col("l_quantity")).otherwise(lit(0.0))), 2).as("qty_o"))
      .orderBy("l_returnflag")

  /** ROLLUP grouping sets. */
  def q19Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** As-of join: each event → the user's most recent signup at-or-before it
    * (operators.AsOfJoin union+window plan; DuckDB ASOF LEFT JOIN oracle). */
  def q20AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val signups = events.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    AsOfJoin.leftAsOf(
      events.select("event_id", "user_id", "ts", "event_type"),
      signups,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      valueCols = Seq("signup_ts"))
      .orderBy("event_id")
  }

  /** Same as-of join as [[q20AsofJoin]], planned natively: graft's custom
    * `AsOfJoinPlan` logical node → `AsOfMergeJoinExec` streaming merge
    * (strategy injected by `GraftExtensions`). One co-partitioned shuffle per
    * side, O(1) per-partition state, columns pruned through the node by
    * `PruneAsOfJoinColumns`. */
  def q49AsofNative(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val signups = events.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    AsOfJoin.leftAsOfNative(
      events.select("event_id", "user_id", "ts", "event_type"),
      signups,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      valueCols = Seq("signup_ts"))
      .orderBy("event_id")
  }

  /** Inner as-of join (DuckDB `ASOF JOIN` default semantics): only events
    * with a prior signup survive. Same custom merge operator as
    * [[q49AsofNative]] with unmatched left rows dropped in the merge —
    * no post-join filter, no null-padding ever materialized. */
  def q48AsofInner(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val signups = events.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    AsOfJoin.innerAsOfNative(
      events.select("event_id", "user_id", "ts", "event_type"),
      signups,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      valueCols = Seq("signup_ts"))
      .orderBy("event_id")
  }

  /** As-of enrichment with a broadcast right side: `broadcast(signups)`
    * selects `AsOfBroadcastJoinExec` — the events fact table is never
    * shuffled or sorted; each partition resolves matches against the
    * broadcast index (hash + binary search). The zero-shuffle path a
    * 100 TB fact × small-reference enrichment should take. */
  def q53AsofBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val signups = events.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    AsOfJoin.leftAsOfNative(
      events.select("event_id", "user_id", "ts", "event_type"),
      broadcast(signups),
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "ts",
      valueCols = Seq("signup_ts"))
      .orderBy("event_id")
  }

  /** Deterministic 80/10/10 train/val/test split by portable integer-hash
    * arithmetic — partitioning-independent (a row keeps its split across
    * repartition/scale-up, unlike rand(seed) sampling) and reproducible in
    * any 64-bit-SQL engine, which is what the DuckDB oracle checks. */
  def q54SplitSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.deterministicSplit(
      t(spark, dir, "documents").select("doc_id"), "doc_id", trainPct = 80, valPct = 10)
      .orderBy("doc_id")

  /** Latest row per key as a partial-aggregatable argmax: max over a
    * (ts, event_id, event_type) struct is a lexicographic max, so the
    * "current version per entity" question is ONE hash aggregate with
    * map-side combine — no per-key window sort, no skew cliff (a hot key
    * reduces to one struct per map task before the shuffle). The oracle is
    * the equivalent window row_number()=1 form. */
  def q55LatestPerKey(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("m.ts").as("last_ts"),
        col("m.event_id").as("last_event_id"), col("m.event_type").as("last_event_type"))
      .orderBy("user_id")

  /** SCD-2-style validity intervals: each per-key event becomes a
    * [valid_from, valid_to) version row via lead() — the point-in-time
    * dimension-history shape the reference's research tables feed (one
    * shuffle on the key; open intervals keep NULL valid_to). */
  def q56ScdIntervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from").asc, col("event_id").asc)
    t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Point-in-interval (range) join expressed as the native as-of: each
    * event finds its containing signup "era" ([valid_from, next signup)).
    * A literal range join `ON t >= from AND t < to` explodes
    * O(rows-per-key²) candidates and falls back to broadcast-nested-loop;
    * for non-overlapping intervals the containing interval IS the
    * latest-start-at-or-before one, so one as-of merge replaces the range
    * join outright. The oracle is DuckDB's explicit range-predicate join —
    * proving the rewrite, not just the operator. */
  def q57IntervalLookup(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events").select("event_id", "user_id", "ts")
    val w = Window.partitionBy("user_id").orderBy(col("valid_from").asc, col("sid").asc)
    val eras = t(spark, dir, "events").where(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("valid_from"), col("event_id").as("sid"))
      .withColumn("era", row_number().over(w))
      .select(col("user_id"), col("valid_from"), col("era"),
        col("valid_from").as("era_start"))
    AsOfJoin.leftAsOfNative(
      events, eras,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "ts", rightTime = "valid_from",
      valueCols = Seq("era", "era_start"))
      .orderBy("event_id")
  }

  /** Deflate compression ratio as a repetitiveness/quality signal — fused
    * per-partition pass, text dropped before any shuffle. Oracle: a
    * content-addressed python-zlib fixture (independent implementation,
    * tools/make_oracle_fixtures.py) joined by md5(text); exact values also
    * spec-pinned against a direct Deflater fold. */
  def q58CompressRatio(spark: SparkSession, dir: String): DataFrame =
    // tiny-output sort: materialize before the range sampler (see
    // QueryHelpers.ckptOrderBy) — the un-checkpointed form deflated the
    // whole corpus twice
    ckptOrderBy(
      TextAnalysis.compressionRatio(t(spark, dir, "documents"), "doc_id", "text"),
      "doc_id")

  /** Global row numbering without the single-partition window: range
    * shuffle + per-partition offsets (see `operators.GlobalIndex`). The
    * DuckDB oracle is the plain global ROW_NUMBER() — bit-identical. */
  def q59GlobalRownum(spark: SparkSession, dir: String): DataFrame =
    GlobalIndex.withRowNumbers(
      t(spark, dir, "events").select("event_id", "user_id", "ts"),
      order = Seq("ts", "event_id"), rnCol = "rn")
      .orderBy("rn")

  /** Deterministic stratified sample: exactly 20 events per event_type,
    * chosen by smallest id-hash — stable under repartitioning (unlike
    * sampleBy) and pre-pruned map-side by WindowGroupLimit. */
  def q60StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
      t(spark, dir, "events").select("event_type", "event_id"),
      stratumCol = "event_type", idCol = "event_id", perStratum = 20)
      .orderBy("event_type", "event_id")

  /** Exact NTILE(7) over a total order, computed distributed (GlobalIndex
    * rank + closed-form bucket arithmetic) — no single-partition window. */
  def q61Ntile(spark: SparkSession, dir: String): DataFrame =
    GlobalIndex.withNtile(
      t(spark, dir, "events").select("event_id", "ts"),
      order = Seq("ts", "event_id"), k = 7, bucketCol = "bucket")
      .select("event_id", "bucket")
      .orderBy("event_id")

  /** Data-quality constraint report over lineitem: not-null + range checks
    * in ONE aggregate pass, uniqueness as one surplus-copy count — the
    * table-level guardrail run before shipping a corpus snapshot. */
  def q62QualityChecks(spark: SparkSession, dir: String): DataFrame =
    Checks.report(
      t(spark, dir, "lineitem"),
      notNull = Seq("l_orderkey", "l_shipdate"),
      ranges = Seq(("l_quantity", 1.0, 50.0), ("l_discount", 0.0, 0.08)),
      unique = Seq(Seq("l_orderkey", "l_linenumber")))

  /** Gap sessionization (30-min gap): lag + running sum, one shuffle. */
  def q21Sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.summarize(
      t(spark, dir, "events"),
      key = "user_id", time = "ts", gapSeconds = 1800, tiebreak = "event_id")
      .orderBy("user_id", "session_id")

  /** Left-semi join: customers that DO have orders (EXISTS oracle). */
  def q23ExistsSemi(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Scalar-subquery shape: orders above the global midrange price. The
    * scalar aggregate is a 1-row broadcast joined under every row — midrange
    * (min+max)/2 is used instead of avg so the threshold is bit-exact
    * regardless of partition-order float association. */
  def q24ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val mid = orders.agg(((min("o_totalprice") + max("o_totalprice")) / 2.0).as("_mid"))
    orders.crossJoin(broadcast(mid))
      .where(col("o_totalprice") > col("_mid"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** CUBE grouping sets over two dims. */
  def q25Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Tumbling-window time aggregation (built-in window(), 1 hour). */
  def q22TimeWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))
      .orderBy("window_start")

  /** JSON property extraction from the events props column + aggregate
    * (training pipelines parse JSON metadata constantly; get_json_object
    * is codegen'd, no UDF). */
  def q26JsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"))
      .orderBy("event_type")

  /** Per-customer running revenue: in-order window accumulation (bit-exact
    * across engines because the fold order is fixed by the total ordering). */
  def q27RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** Exact distinct-count aggregate (expand + two-phase agg under the hood). */
  def q28CountDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** Salted skew join: same aggregate as q12 through operators.SkewJoin —
    * the oracle is the PLAIN join, proving salt-replication preserves
    * results exactly. */
  def q29SaltedJoin(spark: SparkSession, dir: String): DataFrame =
    SkewJoin.saltedJoin(
        t(spark, dir, "lineitem"), t(spark, dir, "orders"),
        "l_orderkey", "o_orderkey", buckets = 8, saltBy = col("l_linenumber"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Exact interpolated percentiles per group (two-phase: sort-based
    * percentile agg after partial collection per key). */
  def q46Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** TFRecord shard export (sinks.TfRecordSink — the delivery format
    * training jobs mount): the corpus shuffle-shards deterministically
    * (q132's portable mix), payloads stream into one CRC32C-framed file
    * per shard, and the MANIFEST is the query surface — per-shard row
    * counts and exact on-disk bytes (16 framing bytes + payload per
    * record), which the oracle recomputes from pure SQL arithmetic. The
    * spec pins the byte-level format against an independent table-driven
    * CRC32C, disk-size equality, and loud corruption refusal. */
  def q141TfrecordExport(spark: SparkSession, dir: String): DataFrame = {
    val sharded = Sampling.shuffleShards(
      t(spark, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", shards = 8, seed = 42L)
      .withColumn("payload", col("text").cast("binary"))
    graft.sinks.TfRecordSink.writeSharded(
      sharded, tempDir("tfr"), "payload", "shard", Seq("pos"))
      .orderBy("shard")
  }

  /** Mergeable quantile SKETCH (deterministic KLL/MRL compactors with a
    * self-certified rank bound — functions.QuantileSketchAgg): per-group
    * distribution profile where q46's exact percentile would shuffle
    * every value at 100 TB; state is ≤ k·log2(n/k) doubles per partial,
    * merged map-side. k exceeds every tested SF's row count → the
    * certificate reads is_exact and the answers are the plain
    * nearest-rank quantiles (exact-regime SQL oracle, the KMV q131
    * pattern); the estimator regime is spec-pinned against its own
    * certificate. */
  def q138QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.1, 0.5, 0.9, 0.99)
    t(spark, dir, "events")
      .where(col("value").isNotNull)
      .groupBy("event_type")
      .agg(graft.functions.QuantileSketch.sketch(
        col("value").cast("double"), k = 1 << 17, probs).as("s"))
      .select(col("event_type"), col("s.n").as("n"),
        col("s.max_rank_err").as("max_rank_err"),
        col("s.is_exact").as("is_exact"),
        round(col("s.qs").getItem(0), 6).as("q10"),
        round(col("s.qs").getItem(1), 6).as("q50"),
        round(col("s.qs").getItem(2), 6).as("q90"),
        round(col("s.qs").getItem(3), 6).as("q99"))
      .orderBy("event_type")
  }

  /** Tail-exact quantiles (SURVEY §12.b's REQ item, certify-or-refuse
    * style): the deterministic KLL core runs in its ESTIMATOR regime
    * (k=64 — q138's exact-regime escape hatch deliberately closed) while
    * bounded exact min-t/max-t buffers serve the extreme quantiles with
    * certified rank error 0 — the regime a pipeline thresholding on
    * p99.9 latencies/lengths actually needs. Only the tail columns are
    * emitted (layout-independent by construction: global top-t is
    * well-defined under any merge order), so the oracle is full SQL
    * nearest-rank; the estimator middle + its certificate are spec-pinned
    * instead (QuantileSketchSpec). */
  def q146TailQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.001, 0.999, 0.9999)
    t(spark, dir, "events")
      .where(col("value").isNotNull)
      .groupBy("event_type")
      .agg(graft.functions.QuantileSketch.tailSketch(
        col("value").cast("double"), k = 64, t = 4096, probs).as("s"))
      .select(col("event_type"), col("s.n").as("n"),
        round(col("s.qs").getItem(0), 6).as("q001"),
        col("s.q_exact").getItem(0).as("q001_exact"),
        round(col("s.qs").getItem(1), 6).as("q999"),
        col("s.q_exact").getItem(1).as("q999_exact"),
        round(col("s.qs").getItem(2), 6).as("q9999"),
        col("s.q_exact").getItem(2).as("q9999_exact"))
      .orderBy("event_type")
  }

  /** Fixed-width histogram over a value column: bin ids + counts are pure
    * integer/deterministic arithmetic off a broadcast (min, max) scalar. */
  def q47Histogram(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val mm = orders.agg(min("o_totalprice").as("_mn"), max("o_totalprice").as("_mx"))
    orders.crossJoin(broadcast(mm))
      .select(least(
        floor((col("o_totalprice") - col("_mn")) / ((col("_mx") - col("_mn")) / 10.0)),
        lit(9L)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_orders"))
      .orderBy("bin")
  }

  // ---------------------------------------------------------------- §2.3

  /** Exact dedup over a corpus with planted duplicates (documents doubled
    * with offset ids): min-id survivor per text, one hash-agg shuffle. */
  def q30DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select("doc_id", "text")
    val doubled = docs.unionByName(
      docs.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Dedup.exact(doubled, "doc_id", "text").orderBy("doc_id")
  }

  /** Word-3-gram Jaccard near-dup pairs at tau=0.6 (shingle equi-join). */
  def q31DedupNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(spark, dir, "documents"), "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("a", "b")

  /** q31's exact output through the prefix-filtered candidate path
    * (Chaudhuri et al. ICDE'06): candidates from a prefix×prefix join over
    * each doc's (1−τ)-fraction rarest shingle hashes, each verified by an
    * exact intersection of the two docs' shingle sets (the per-doc table
    * the shingling pass builds). Same oracle as q31 — the filter is
    * provably lossless. */
  def q129JaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, tau = 0.6)
      .orderBy("a", "b")

  /** Directed word-3-gram CONTAINMENT pairs at tau=0.8 (Broder 1997's
    * containment next to q31's resemblance — quoted-in-full /
    * extracted-chunk detection, where Jaccard goes blind as the
    * container grows). One-sided prefix filter under the frequency-aware
    * order (a-prefix × full-b), vocab-aggregate routing to the dense
    * single-shuffle fallback, each candidate verified by an exact
    * intersection of the two docs' shingle sets, divided by |Sa|. Full
    * oracle: DuckDB recomputes every shingle set and brute-forces all
    * directed pairs. */
  def q149NgramContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, tau = 0.8)
      .orderBy("a", "b")

  /** Containment pairs CONSUMED into a curation disposition (round 10 —
    * q149's pair list finally feeds a verb): every doc gets one row;
    * docs whose shingle set is (≥ 0.8) contained in another doc's are
    * `embedded` and labeled with their minimum qualifying container
    * (mutual containment keeps the min id — the q66 convention). Oracle
    * recomposed from q149's proven pair SQL + the audit's LEFT JOIN
    * assembly. */
  def q155DedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val emb = Dedup.embeddedDocs(docs, "doc_id", "text", n = 3, tau = 0.8)
    docs.select(col("doc_id"))
      .join(emb, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        when(col("embedded_in").isNotNull, lit("embedded"))
          .otherwise(lit("kept")).as("disposition"),
        col("embedded_in"))
      .orderBy("doc_id")
  }

  /** Weighted stratified sample (Efraimidis–Spirakis A-ES, q150): 10
    * docs per language with inclusion odds ∝ text length, reproducible
    * across engines via the portable modular mix — the quality-weighted
    * corpus draw. Oracle recomputes −ln(u)/w and the per-stratum rank in
    * SQL. */
  def q150WeightedSample(spark: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedSample(
      t(spark, dir, "documents").select("doc_id", "lang", "text"),
      "lang", "doc_id", length(col("text")), k = 10, seed = 7L)
      .select(col("lang"), col("doc_id"), round(col("es_key"), 6).as("es_key"))
      .orderBy("lang", "doc_id")

  /** Connected components over an EXPLICIT edge list, forced down the
    * distributed min-label-propagation path (`driverEdgeLimit = 0`) —
    * the 100 TB shape where the edge list itself outgrows the driver,
    * complementing q35 (which rides the driver union-find on its
    * edge-bounded near-dup graph). The deterministic chain+bridge graph
    * (chains of 10 consecutive ids, a bridge every 50 merging adjacent
    * chains) has diameter ~21, so the board run proves real multi-round
    * convergence, not a one-hop star. Full oracle: DuckDB recursive-CTE
    * min-label closure over the same edges. */
  def q151GraphComponents(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"))
    val chain = d.where(pmod(col("doc_id"), lit(10)) =!= 9)
      .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
    val bridge = d.where(pmod(col("doc_id"), lit(50)) === 0 && col("doc_id") >= 10)
      .select(col("doc_id").as("src"), (col("doc_id") - 10).as("dst"))
    val edges = chain.unionByName(bridge)
      .join(d.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    Dedup.connectedComponents(edges, "src", "dst", maxIter = 50, driverEdgeLimit = 0)
      .orderBy("id")
  }

  /** Embedding cosine near-dup pairs at tau=0.45 (exact; oracle-checked). */
  def q34DedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(spark, dir, "embeddings"), "vec_id", "embedding", tau = 0.45)
      .orderBy("a", "b")

  /** Near-dup clusters: connected components over the q31 pair graph; every
    * doc labeled with its cluster's min doc_id (DuckDB recursive-CTE oracle). */
  def q35DedupCluster(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(t(spark, dir, "documents"), "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("doc_id")

  /** Embedding near-dup pairs via multi-table sign-LSH blocking — the
    * bucketed scale path to q34's exact quadratic scan (exact precision,
    * approximate recall). Rows-only oracle; spec checks precision exactly
    * and recall against the exact pairs. Every 25th vector is doubled at
    * −(id+1) (round 10 — the r9 verdict's vacuous-gate-row fix: the raw
    * corpus has no cosine ≥ 0.9 pair at gate SF, so the driver's
    * rows-only check proved only that the query doesn't throw): an exact
    * copy has identical signs under EVERY hyperplane, so sign-LSH
    * recovers it in all tables by construction — the gate row now
    * asserts ≥ N/25 real recovered pairs at every SF, not ≥ 0. The
    * planted ids are NEGATED, not offset (r10 ADVICE): a fixed +1e6
    * offset collides with real vec_ids once the corpus passes 1M rows
    * (sf≈50, inside the decade-audit range), corrupting pair identity;
    * vec_id ≥ 0 by generation, so −(id+1) is disjoint at EVERY scale. */
  def q74DedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.where(pmod(col("vec_id"), lit(25)) === 0)
      .select((-col("vec_id") - 1L).as("vec_id"), col("embedding"))
    Dedup.embeddingCosinePairsLsh(emb.unionByName(planted), "vec_id", "embedding",
      tau = 0.9, bitsPerTable = 8, tables = 4, seed = 42L)
      .orderBy("a", "b")
  }

  /** End-to-end corpus dedup: the q35 clusters APPLIED — every non-canonical
    * near-duplicate dropped via a broadcast anti-join (losers are
    * edge-bounded, the corpus never shuffles), survivors keep their columns.
    * Exact recursive-CTE oracle. */
  def q66DedupCorpus(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpus(t(spark, dir, "documents"), "doc_id", "text", n = 3, tau = 0.6)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Quality-aware corpus dedup: q66's clusters, but each cluster keeps
    * its LONGEST member (token count, ties min id) — the curation-grade
    * keeper (drop the truncated mirror, keep the full copy). Exact
    * recursive-CTE oracle with a per-cluster argmax window. */
  def q133DedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpusBy(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, tau = 0.6,
      score = size(TextAnalysis.tokens(col("text"))))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** MinHash (k=64) + LSH banding (b=16, r=4) candidates, Jaccard-verified
    * at tau=0.6. Rows-only oracle (LSH is sampling-free but approximate in
    * recall); spec checks it finds the planted >=0.9 pairs exactly. */
  def q32DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDupPairs(t(spark, dir, "documents"), "doc_id", "text",
      n = 3, k = 64, bands = 16, tau = 0.6)
      .orderBy("a", "b")

  /** q32's band/verify machinery under a FULL oracle (round 12 — the
    * q156-q160 planted-fixture discipline extended to MinHash): the
    * per-permutation mixes are PLANTED md5 orders over the raw shingle
    * strings (`min(md5(sh || ':' || i))`, [[MinHashLSH.nearDupPairsMd5]])
    * and band buckets the '|'-join of each slice, so signature,
    * banding, candidate OR and the exact-Jaccard verify are all
    * byte-replicable SQL — DuckDB replays every stage term for term.
    * k=8, b=4, r=2 at tau=0.6; the xxhash64-seeded production key (q32)
    * stays rows-only + spec recall floors by nature. */
  def q162MinhashMd5Grid(spark: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDupPairsMd5(
      Dedup.shinglesFused(t(spark, dir, "documents"), "doc_id", "text", n = 3)
        .withColumnRenamed("shingle", "sh"),
      k = 8, bands = 4, tau = 0.6)
      // output sort sized by the pair count (massOrderBy): the sf10 board's
      // only spill (3.6 GB) was this orderBy sorting the pair list in
      // AQE-byte-sized partitions; row order unchanged
      .transform(d => massOrderBy(d, "a", "b"))

  /** 64-bit SimHash, Hamming <= 3 pairs via 4x16 pigeonhole block join.
    * Rows-only oracle; spec cross-checks against n-gram Jaccard pairs. */
  def q33DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    SimHash.nearDupPairs(t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("a", "b")

}
