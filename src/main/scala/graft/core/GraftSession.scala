package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Session + table-loading helpers.
  *
  * Defaults are chosen for the 100 TB design point, scaled to local[32]:
  * AQE on (runtime skew-join splitting + shuffle-partition coalescing),
  * shuffle.partitions matched to cores locally (on a real cluster this is
  * sized to ~2-3x total executor cores / managed by AQE).
  */
object GraftSession {

  /** Capacity of Spark's generated-class cache. Spark's default of 100
    * is split over 4 LRU segments of 25, and one pass of the perfbench
    * `corpus_dedup` pipeline over both of its sources needs ~200 distinct
    * classes: a whole run (seed 4, local[4]) compiles 205 at this
    * capacity. At 100 it compiled 343, because the second source
    * recompiled what the first had compiled: 9, 11, 35 and 34 classes in
    * its quality, exact, MinHash and JSONL stages, 0 at this capacity.
    * 1000 holds five such passes, so repeated plan shapes stay compiled
    * across the calls of one session. */
  private val CodegenCacheEntries = 1000

  def builder(
      master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Shuffles START wide and AQE coalesces them down to the advisory
      // size: at board SFs the executed partition count is unchanged
      // (coalesced), while a 10×-the-tuning-point corpus keeps 8×-finer
      // partitions instead of spilling — the round-10 sf10 audit measured
      // 41 GB of sort spill per dense-join query with shuffles pinned at
      // 32 partitions (~1.5 GB/partition). This is the AQE-era sizing
      // lever: fixed shuffle.partitions states the coalesce floor, the
      // initial count scales the ceiling. ×32 per round-11 A/B/A/B probes
      // (3 arms each, calib-stamped against this host's multi-minute
      // steal windows): the sf10 span profile (10 GB window shuffle) ran
      // {346, 411, 512} s at ×16 = 512 vs {214, 222, 340} s at ×32 —
      // ×32 won every pairing, by 1.0-2.0× — and the round-10 claim that
      // ×32 regressed the sf1 dense family ~2× did NOT reproduce
      // post-demotion-fix (paired sf1 probe: parity or faster under ×32;
      // the original reading was a steal-window artifact). The ceiling
      // wants to SCALE with data — on a cluster pass a higher
      // shufflePartitions (or set initialPartitionNum through
      // SPARK_GRAFT_EXTRA_CONF, as paired sizing probes do) for >10×
      // corpora.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * 32).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE coalesce shuffles INSIDE cached/persisted subtrees (off by
      // default since 3.2 — SPARK-38697 family — because a cache's output
      // partitioning becomes run-dependent; nothing here keys on it, every
      // query orders its output). Without it, any .cache()/.persist()
      // whose subtree contains an exchange materializes at the FULL AQE
      // initial ceiling: q119's candidate cache ran 4 stages × 1024 tasks
      // at sf0.1 (32 cores × the ×32 ceiling) for a few MB of rows —
      // pure task-scheduling overhead, and the poisoned cache layout then
      // feeds every downstream map side at 1024 tasks too (round-14
      // ProbeStages). Pinned scopes (withPinnedShuffle) and user-numbered
      // repartitions are unaffected — AQE never touches either.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Spark's generated-class cache: a static conf that CodeGenerator
      // reads once per JVM, when it first compiles.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The one A/B instrument (tools/paired_probe.sh): ';'-separated
      // k=v pairs applied last, so paired probes can flip any Spark or
      // graft.* conf (e.g.
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false)
      // without recompiling between arms — recompilation shifts the
      // host-steal window under the measurement. Unset = exactly the
      // shipped confs.
      .applyExtraConf()

  private implicit class BuilderOps(val b: SparkSession.Builder) extends AnyVal {
    def applyExtraConf(): SparkSession.Builder =
      extraConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
        .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** The `k=v` pairs of a `SPARK_GRAFT_EXTRA_CONF` value, in order. An
    * entry that is not `k=v` is a typo in the invocation: it is refused by
    * name, since dropping it would run an arm without the conf it names. */
  private[graft] def extraConf(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v")
      }
    }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Explicit shuffle sizing for ITERATIVE loops (PageRank, label
    * propagation): clamp(bigSideRows / rowsPerPartition, cores, global
    * initialPartitionNum). The wide-start-then-coalesce AQE story above
    * does not reach per-iteration shuffles — each round's aggregate is the
    * FINAL stage of a `localCheckpoint` (materialized through `.rdd`), and
    * Spark deliberately never coalesces a final stage consumed as an RDD
    * (output partitioning is user-visible there). Round 10's flat ×16
    * initialPartitionNum therefore ran every PageRank round as ~512
    * near-empty tasks (q127 5.8 → 16.4 s at sf0.1, judge-probed; shuffle
    * bytes inflated 34 → 124 MB from tiny-block overhead). The loop's scale
    * driver is the EDGE side scanned per round, so the count is sized from
    * it and pinned for the loop's duration via [[withShufflePartitions]];
    * corpus-scale one-off shuffles outside the loop keep the AQE ceiling. */
  def iterPartitions(
      spark: SparkSession, bigSideRows: Long,
      rowsPerPartition: Long = 2L * 1000 * 1000): Int = {
    val cores = spark.sparkContext.defaultParallelism
    val ipn = spark.conf
      .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(_.toInt).getOrElse(cores)
    val want = ((bigSideRows + rowsPerPartition - 1) / rowsPerPartition).toInt
    math.min(math.max(want, cores), math.max(ipn, cores))
  }

  /** Meet mass Σ C(df, 2) over a column of group sizes: the exact pair
    * count a self-join of those groups generates, and the quantity
    * [[iterPartitions]] sizes pair-exploding stages from. Integral `div`,
    * never `/`: Divide detours through double and loses exactness for df
    * beyond ~9.5e7. 0 over no rows. */
  def meetMass(df: Column): Column = {
    import org.apache.spark.sql.functions.{call_function, coalesce, lit, sum}
    coalesce(sum(call_function("div", df * (df - lit(1L)), lit(2L))), lit(0L))
  }

  /** Run `body` with both the shuffle-partition floor and the AQE initial
    * ceiling pinned to `p`, restoring the session's previous values on every
    * exit path. Session-conf scoped (single-threaded query execution is the
    * repo's contract — Bench/Verify run queries sequentially). */
  def withShufflePartitions[T](spark: SparkSession, p: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, p.toString))
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[withShufflePartitions]] with AQE partition COALESCING disabled for
    * the scope — every shuffle inside executes at exactly `p` reduce
    * tasks. Needed when a stage's OUTPUT is orders of magnitude larger
    * than its input (pair generation from postings, any explosive
    * generate): AQE coalesces a stage by its map-output BYTES, so a
    * 0.5 GB postings exchange feeding a billion-row generate gets
    * coalesced to ~cores tasks and each task's aggregation state spills
    * (the round-12 sf10 probe measured 426 GB of spill in exactly that
    * shape — the floor conf does not bind AQE). The caller sizes `p`
    * from the KNOWN output mass instead. */
  def withPinnedShuffle[T](spark: SparkSession, p: Int)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try withShufflePartitions(spark, p)(body) finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Plan-evidence hook: when `graft.debug.planDir` is set, write `df`'s
    * formatted plan to `<dir>/<tag>.txt` and return `df` unchanged. Exists
    * because eager operators (densePairCounts, the span gate) checkpoint
    * their interesting subplans away before a query-level explain can see
    * them — evidence runs set the conf, production never does (one conf
    * lookup when unset). */
  def dumpPlanIfAsked(df: org.apache.spark.sql.DataFrame, tag: String): org.apache.spark.sql.DataFrame = {
    df.sparkSession.conf.getOption("graft.debug.planDir").foreach { d =>
      try {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$tag.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
      } catch {
        case e: Throwable => System.err.println(s"[graft] plan dump $tag failed: $e")
      }
    }
    df
  }

  /** Bounded wait on an Observation metric (r14 ADVICE): `Observation.get`
    * blocks until the observed action's SQLExecutionEnd event arrives, and
    * a dropped event (listener-bus pressure) would hang an iterative loop
    * forever — the count()/agg jobs the Observations replaced had no hang
    * mode. The caller's action is already complete when this is called
    * (localCheckpoint is eager), so the metric normally arrives within
    * milliseconds; past `timeoutSec` we log and run `fallback` — a one-row
    * job over the already-materialized frame with the identical value. */
  def observedOrElse[T](
      obs: org.apache.spark.sql.Observation, key: String,
      timeoutSec: Long = 60L)(fallback: => T): T = {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    try Await.result(Future(obs.get(key).asInstanceOf[T]), timeoutSec.seconds)
    catch {
      case _: TimeoutException =>
        System.err.println(s"[graft] Observation '$key' not delivered after " +
          s"${timeoutSec}s (dropped SQLExecutionEnd?) - falling back to a " +
          "one-row job over the materialized frame")
        fallback
    }
  }
}

/** Loads the benchmark tables (one parquet per table under a scale-factor dir). */
object Tables {
  import org.apache.spark.sql.functions.{expr, timestamp_micros}
  import org.apache.spark.sql.types.LongType

  /** Columns written as parquet TIMESTAMP(NANOS), which Spark only reads via
    * nanosAsLong (the session must set that conf). Converted losslessly to
    * microsecond timestamps on load (`div` keeps integer math — a double
    * division would corrupt epoch-nano magnitudes past 2^53). */
  private val nanoTsCols = Map("events" -> Seq("ts"))

  /** Inferred parquet schemas by path — METADATA only, the catalog role a
    * metastore plays in production. Every `spark.read.parquet` without an
    * explicit schema runs a footer-inference job first; a 158-query board
    * re-infers the same handful of files 316 times (round-14 ProbeStages:
    * 0.3-1.0 s of "parquet at GraftSession" stage per query). The DATA is
    * still scanned from parquet by every query — only the StructType is
    * reused. Keyed by (path, root mtime, root length) — r14 ADVICE: a
    * fixture path rewritten with a DIFFERENT schema in the same JVM (test
    * regeneration) would otherwise silently read nulls through the stale
    * cached schema; the mtime/length key makes a rewrite a cache miss.
    * On stores where java.io.File cannot stat the path (object stores)
    * both fields are 0 and the key degrades to path-only — the original
    * immutable-inputs contract. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val schema = schemaCache.computeIfAbsent((path, f.lastModified, f.length),
      k => spark.read.parquet(k._1).schema)
    val df = spark.read.schema(schema).parquet(path)
    nanoTsCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType == LongType)
        d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      else d
    }
  }
}
