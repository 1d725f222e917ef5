package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.BroadcastGuard.{hintIfSmall, withinLimit}
import graft.core.GraftSession.meetMass

/** Deduplication operators for document/embedding corpora.
  *
  * Scale design (SURVEY §4): every variant avoids the O(N²) cross join —
  * exact dedup is a single hash aggregation; n-gram near-dup generates
  * candidates through an equi-join on shared shingles (only docs that share
  * at least one shingle ever meet); embedding near-dup is the one
  * intentionally exact/quadratic variant (the approximate scale path is
  * MinHashLSH / SimHash / Similarity IVF).
  */
/** Open-addressing long→long counter for [[Dedup.densePairCounts]]' fused
  * pair generator: packed-pair keys (a<<32|b, a<b, both in [0,2^31)) are
  * never 0 (b > a ≥ 0 forces a nonzero low word or a nonzero high word),
  * so 0 marks an empty slot. Linear probing over byteswap64-spread
  * hashes, load factor ≤ ½, grow-by-doubling until `maxEntries` — past
  * it [[add]] returns false and the caller drains (the partial
  * aggregate's spill-to-shuffle analogue: per-task memory stays bounded
  * regardless of posting skew, and the downstream sum over fragments is
  * exact). Instantiated per task inside mapPartitions — never serialized. */
private[operators] final class PairCountMap(initialCap: Int, maxEntries: Int) {
  private var cap = Integer.highestOneBit(math.max(initialCap, 64))
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var n = 0

  def add(k: Long): Boolean = {
    var i = (scala.util.hashing.byteswap64(k) & mask).toInt
    while (true) {
      val kk = keys(i)
      if (kk == k) { vals(i) += 1; return true }
      if (kk == 0L) {
        if (n >= maxEntries) return false
        keys(i) = k; vals(i) = 1L; n += 1
        // stop doubling at 2×maxEntries slots (≤ ~0.5 load at the flush
        // cap): the last grow would double peak task memory for probe
        // chains the flush makes unnecessary
        if (n.toLong * 2 >= cap && cap < 2L * maxEntries) grow()
        return true
      }
      i = (i + 1) & mask
    }
    true
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    cap *= 2; mask = cap - 1
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != 0L) {
        var j = (scala.util.hashing.byteswap64(k) & mask).toInt
        while (keys(j) != 0L) j = (j + 1) & mask
        keys(j) = k; vals(j) = ov(i)
      }
      i += 1
    }
  }

  /** Snapshot every entry, then reset to empty (capacity kept). */
  def drainAndReset(): Iterator[(Long, Long)] = {
    val out = new Array[(Long, Long)](n)
    var i = 0; var o = 0
    while (i < cap) {
      if (keys(i) != 0L) { out(o) = (keys(i), vals(i)); o += 1 }
      i += 1
    }
    java.util.Arrays.fill(keys, 0L)
    n = 0
    out.iterator
  }

  /** Live view of the remaining entries — the caller's FINAL drain. */
  def iterator: Iterator[(Long, Long)] = new Iterator[(Long, Long)] {
    private var i = 0
    private def seek(): Unit = { while (i < cap && keys(i) == 0L) i += 1 }
    seek()
    def hasNext: Boolean = i < cap
    def next(): (Long, Long) = {
      val r = (keys(i), vals(i)); i += 1; seek(); r
    }
  }
}

object Dedup {

  /** Exact dedup: keep the minimum id per identical text. One hash-agg
    * shuffle, map-side partial aggregation, no sort. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** Incremental ingest dedup: rows of `batch` whose normalized-text
    * fingerprint ([[TextAnalysis.fingerprint]]) does not already occur in
    * `corpus` — the "don't re-add what we have" gate every recurring crawl
    * ingest runs before appending.
    *
    * Scale shape: the corpus side reduces to DISTINCT 32-hex fingerprints
    * before the anti-join (text never leaves its scan), so the shuffle
    * moves fixed-width keys off the corpus regardless of document size;
    * the batch — tiny relative to the corpus in steady state — rides
    * through one anti-join. With the corpus fingerprint set maintained as
    * a bucketed table ([[Bucketing]]) the corpus-side shuffle also
    * disappears from the recurring run. */
  def incrementalDedup(
      batch: DataFrame, corpus: DataFrame, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val seen = corpus.select(fp.as("_fp")).distinct()
    batch.withColumn("_fp", fp)
      .join(seen, Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  /** Serialized Bloom filter over the corpus' normalized-text fingerprints
    * (xxhash64 of [[TextAnalysis.fingerprint]]), built by Spark's own
    * runtime-filter aggregate (`BloomFilterAggregate` — the machinery
    * behind `spark.sql.optimizer.runtimeFilter.bloomFilter`): partials
    * merge map-side, so the one-partition final merge moves one bloom per
    * mapper, never a per-row shuffle. No DISTINCT is needed — inserting a
    * fingerprint twice is idempotent.
    *
    * Sizing: `expectedItems` may overestimate (fpp only improves); bits
    * follow the textbook optimum for (n, fpp). At 10⁹ distinct docs and
    * 1% fpp the filter is ~1.2 GB — broadcastable; beyond that, shard the
    * corpus and keep one bloom per shard, or fall back to the bucketed
    * anti-join ([[incrementalDedup]] + [[Bucketing]]). The aggregate
    * clamps silently at `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems`/`.maxNumBits`, which would quietly raise the measured
    * fpp — so this `require`s the request fits and names the confs. */
  def corpusBloom(
      corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.ColumnShim
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val conf = corpus.sparkSession.conf
    val maxItems = conf.getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
      .map(_.toLong).getOrElse(4000000L)
    val maxBits = conf.getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"bloom of $expectedItems items @ fpp=$fpp needs $numBits bits, over the session caps " +
        "(spark.sql.optimizer.runtime.bloomFilter.maxNumItems/.maxNumBits) — raise them, or " +
        "the aggregate would clamp silently and the real fpp would exceed the requested one")
    val key = ColumnShim.expression(xxhash64(TextAnalysis.fingerprint(col(textCol))))
    val agg = ColumnShim.column(
      new BloomFilterAggregate(key, Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
    corpus.select(agg).head.getAs[Array[Byte]](0)
  }

  /** [[incrementalDedup]] semantics (batch rows whose fingerprint is not
    * in the corpus) gated by a prebuilt corpus bloom — the steady-state
    * recurring-ingest shape, and the plan is shuffle-FREE:
    *
    *   1. probe: every batch row tests the broadcast-literal bloom
    *      (`BloomFilterMightContain`, codegen). No false negatives, so
    *      `might = false` rows are DEFINITELY new — emitted untouched.
    *      In steady state (most of a recrawl batch is dupes, the rest
    *      misses) the maybe set is |dupes| + fpp·|new|.
    *   2. confirm: one corpus SCAN probes the broadcast maybe-set
    *      fingerprints (semi join) — the corpus never shuffles, never
    *      sorts; duplicates collapse inside the broadcast hash relation,
    *      so no DISTINCT shuffle either. Bloom false positives die here:
    *      the final result is EXACT, identical to [[incrementalDedup]].
    *
    * Versus [[incrementalDedup]], which shuffles the corpus' distinct
    * fingerprints every batch: here the recurring cost is one corpus scan
    * + broadcast-sized joins, and the bloom itself amortizes across
    * batches (build once with [[corpusBloom]], then add each appended
    * batch's keys — or rebuild on the compaction cadence). */
  def bloomIncrementalDedup(
      batch: DataFrame, corpus: DataFrame, textCol: String,
      bloom: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.types.BinaryType
    val fp = TextAnalysis.fingerprint(col(textCol))
    def might(fpCol: Column): Column = ColumnShim.column(
      BloomFilterMightContain(
        Literal(bloom, BinaryType), ColumnShim.expression(xxhash64(fpCol))))
    val tagged = batch.withColumn("_fp", fp)
    val definiteNew = tagged.where(!might(col("_fp")))
    val maybe = tagged.where(might(col("_fp")))
    val confirmedDup = corpus.select(fp.as("_fp"))
      .join(broadcast(maybe.select("_fp")), Seq("_fp"), "left_semi")
    definiteNew
      .unionByName(maybe.join(broadcast(confirmedDup), Seq("_fp"), "left_anti"))
      .drop("_fp")
  }

  /** Distinct word n-gram shingles, exploded to (id, shingle) rows.
    * Docs shorter than n tokens produce no rows. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val sh = array_distinct(
      transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
    df.where(size(toks) >= n)
      .select(col(idCol).as("_id"), explode(sh).as("shingle"))
  }

  /** [[shingles]] as one fused per-document pass ([[perDocShingles]]) —
    * the [[shingleHashes]] treatment for the STRING-keyed path. The
    * declarative chain's higher-order functions are interpreted and
    * allocate per shingle, and a local corpus arrives as a handful of
    * parquet splits, so q162's shingle pass ran ~45 s on 2 tasks at sf1
    * (ProbeStages r14) — the cost the round-13 board misattributed to
    * md5. Output rows are identical to [[shingles]] (same tokenizer
    * regex, same per-doc distinct-string set, `_id` cast to long);
    * DedupSpec pins fused == declarative on fuzzed text. */
  def shinglesFused(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    perDocShingles(df, idCol, textCol, n) { (id, ws) =>
      val seen = new java.util.HashSet[String]()
      ws.filter(s => seen.add(s)).map(s => (id, s))
    }.toDF("_id", "shingle")
  }

  /** Distinct shingles reduced to 64-bit xxhash64 tokens: (_id, sh) rows,
    * the row form of [[shingleSets]]. The dedup operators read the
    * per-document set table and explode it where they need rows; these
    * rows serve callers that aggregate shingle rows themselves (the
    * column-form MinHash reference, the meet-mass probe). Tokens are
    * fixed-width longs, so a shuffle carries 8-byte keys instead of full
    * shingle strings. Cross-doc hash collisions are possible in
    * principle (~1e-6 expected over 10M shingles) but never observed at
    * test scale; the string-keyed `shingles` path remains available.
    *
    * Computed in the fused per-document pass ([[perDocShingles]]) instead
    * of the declarative explode(array_distinct(transform(...))) chain:
    * the higher-order functions are interpreted and allocate a string per
    * shingle, which made this the dominant cost (and GC load) of every
    * shingle-based operator. Hashes are identical to SQL
    * `xxhash64(shingle)` (seed 42), so results are unchanged. */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    perDocShingles(df, idCol, textCol, n) { (id, ws) =>
      val seen = new java.util.HashSet[Long]()
      ws.map(xxh64).filter(h => seen.add(h)).map(h => (id, h))
    }.toDF("_id", "sh")
  }

  /** [[shingleHashes]] kept per document, from the same pass with no
    * shuffle: (_id, _set) with `_set` the doc's distinct hashes as a sorted
    * array<long>. Docs shorter than n tokens get no row. This table is the
    * one intermediate of every shingle-based dedup operator: sizes are
    * `size(_set)`, prefixes are slices of `_set`, candidates verify by
    * `_set` intersection, and shingle rows are its explode ([[setRows]]). */
  private[graft] def shingleSets(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    perDocShingles(df, idCol, textCol, n) { (id, ws) =>
      Iterator.single((id, ws.map(xxh64).toArray.distinct.sorted))
    }.toDF("_id", "_set")
  }

  /** The [[shingleSets]] table of distinct (_id, sh) rows: (_id, _set,
    * aggs…) in one groupBy(_id), for callers that hold rows or whose own
    * per-document aggregate `aggs` rides the same regroup. */
  private[graft] def setsOf(sh: DataFrame, aggs: Column*): DataFrame =
    sh.groupBy("_id").agg(sort_array(collect_list(col("sh"))).as("_set"), aggs: _*)

  /** The (_id, sh) rows of a per-doc (_id, _set) table. */
  private def setRows(sets: DataFrame): DataFrame =
    sets.select(col("_id"), explode(col("_set")).as("sh"))

  /** The fused per-document pass behind [[shinglesFused]], [[shingleHashes]]
    * and [[shingleSets]]: `rows` gets each doc's id and [[windows]] (docs
    * with none produce nothing). The input fans out through
    * [[graft.core.Par.fanOut]]: a local corpus that arrives as one split
    * would serialize this CPU-bound pass on one core, and an input already
    * split at least that wide is not shuffled. */
  private def perDocShingles[T: org.apache.spark.sql.Encoder](
      df: DataFrame, idCol: String, textCol: String, n: Int)(
      rows: (Long, Iterator[String]) => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Par.fanOut(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val ws = windows(text, n)
        if (ws.hasNext) rows(id, ws) else Iterator.empty
      })
  }

  /** The one tokenize → window loop: `text` split on whitespace runs
    * (after a trim), then its n-token windows, space-joined, in order and
    * with repeats. Null text and texts shorter than n tokens have none. */
  private def windows(text: String, n: Int): Iterator[String] = {
    val toks = if (text == null) Array.empty[String] else text.trim.split("\\s+")
    val sb = new java.lang.StringBuilder()
    (0 to toks.length - n).iterator.map { i =>
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }
  }

  /** Per-doc PPJoin prefixes under the FREQUENCY-AWARE global order
    * (cold-by-hash, then hot-by-hash): the prefix theorem holds for ANY
    * fixed total order of the shingle universe, and ordering frequent
    * shingles LAST keeps them out of prefixes — the classic refinement
    * (Chaudhuri et al. ICDE'06 order by ascending df). Under plain hash
    * order a corpus whose documents share stock phrases degenerates: the
    * round-8 sf1 audit measured 57M candidate pairs on 50k docs (near
    * all-pairs) because common 3-grams land in prefixes as often as rare
    * ones. With hot shingles (df > hotMinDf, broadcast InSet) pushed to
    * the back of the order, prefixes hold the rarest shingles and
    * candidates collapse to near-dups plus rare coincidences. Reads the
    * per-doc (_id, _set) table: `_set` is sorted and `filter` keeps its
    * order, so the order needs no sort and no regroup. Emits (_id, sh)
    * prefix rows. */
  private def freqOrderedPrefix(
      sets: DataFrame, tau: Double, hot: Array[Long]): DataFrame = {
    val sz = size(col("_set"))
    val plen = (sz - ceil(lit(tau) * sz - lit(1e-9)) + lit(1)).cast("int")
    val ord =
      if (hot.isEmpty) col("_set")
      else {
        val isHot = (h: Column) => h.isin(hot.toSeq: _*)
        concat(filter(col("_set"), h => !isHot(h)), filter(col("_set"), isHot))
      }
    sets.select(col("_id"), explode(slice(ord, lit(1), plen)).as("sh"))
  }

  /** xxhash64 (seed 42) of a string — identical to SQL `xxhash64(s)`;
    * the shingle token of [[shingleHashes]] and [[shingleSets]]. */
  private def xxh64(s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** Corpus-wide top-k word n-grams by document frequency, two-phase
    * hashed so shingle TEXT never enters a corpus-wide shuffle (SURVEY §9):
    *
    * Phase 1 aggregates per-doc-distinct 8-byte xxhash64 shingle tokens
    * (the exploded rows of [[shingleSets]]' fused pass — the wide shuffle
    * carries longs); the k-th document-frequency threshold comes from one
    * TakeOrdered over the counts, and every hash at-or-above it (winners
    * plus boundary ties) is collected — bounded by `tieCap`, and a tie
    * width beyond the cap FAILS
    * with a clear error rather than silently truncating a boundary whose
    * order needs strings. Phase 2 re-scans the corpus resolving ONLY
    * winner strings through a broadcast hash map (emit-once per
    * partition), so the final exact (n_docs DESC, shingle ASC) top-k sort
    * runs over at most winners × partitions short rows. Equal to the
    * single-phase string aggregate modulo xxhash64 collisions (the same
    * contract as the q31/q78 hashed paths). Returns (shingle, n_docs). */
  def topNgrams(
      df: DataFrame, idCol: String, textCol: String, n: Int, k: Int,
      tieCap: Int = 10000): DataFrame =
    topNgramsOf(df, textCol, shingleSets(df, idCol, textCol, n), n, k, tieCap)

  /** [[topNgrams]] over a per-doc (_id, _set) table of `df` — the shape
    * [[graft.Graft.dedupSuite]] shares one shingle pass through. `df` /
    * `textCol` are still needed for the phase-2 winner-string resolution
    * scan. */
  private[graft] def topNgramsOf(
      df: DataFrame, textCol: String, sets: DataFrame, n: Int, k: Int,
      tieCap: Int = 10000): DataFrame = {
    require(k > 0, "need k > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = setRows(sets)
      .groupBy("sh").agg(count(lit(1)).as("n_docs"))
    val kth = counts.orderBy(col("n_docs").desc, col("sh").asc).limit(k)
      .agg(min(col("n_docs")).as("_kth"))
    // one plan → the counts aggregate's exchange is built once and reused
    // by both the threshold and the filter side
    val winners = counts.crossJoin(broadcast(kth))
      .where(col("n_docs") >= col("_kth"))
      .limit(k + tieCap + 1)
      .collect()
    require(winners.length <= k + tieCap,
      s"tie width at the k-th n-gram count exceeds tieCap=$tieCap — " +
        "raise it (or use the string-aggregate path) for this corpus")
    val winMap = winners.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = spark.sparkContext.broadcast(winMap)
    df.select(col(textCol)).as[String]
      .mapPartitions { it =>
        val m = bc.value
        val emitted = new java.util.HashSet[Long]()
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        it.foreach { text =>
          if (emitted.size < m.size) windows(text, n).foreach { s =>
            val h = xxh64(s)
            if (m.contains(h) && emitted.add(h)) out += ((s, m(h)))
          }
        }
        out.iterator
      }
      .toDF("shingle", "n_docs")
      .distinct()
      .orderBy(col("n_docs").desc, col("shingle").asc)
      .limit(k)
  }

  /** Word n-gram Jaccard near-duplicate pairs (similarity >= tau).
    *
    * Routed through the prefix-filtered candidate generator
    * ([[ngramJaccardPairsPrefix]]) — provably the same output (the prefix
    * theorem, plus the q129 spec's per-τ identity check against the dense
    * equi-join) at a fraction of the candidate volume: the dense
    * shared-shingle join meets every near-dup pair once per COMMON
    * shingle, which is exactly where a near-dup corpus is densest. The
    * dense generator survives as [[denseJaccard]], the router's dense
    * tiers and the spec's reference implementation.
    *
    * EAGER (r12): the result is materialized (localCheckpoint) at call
    * time — the candidate-volume stages run inside a mass-pinned shuffle
    * scope that must close before returning, so composition over the
    * returned pair list is NOT lazy, and the rows live in non-reliable
    * executor storage (recomputed-from-nothing on executor loss; on a
    * real cluster, persist the result before long downstream pipelines
    * if executors may decommission). */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double): DataFrame =
    ngramJaccardPairsPrefix(df, idCol, textCol, n, tau)

  /** Disk budget for the dense generator's pair-stream shuffle (bytes).
    * Knob `graft.dedup.maxPairShuffleBytes` (-1 = unlimited); default on a
    * `local[*]` master is HALF the usable space of the first shuffle
    * local dir — every shuffle byte lands on this one host's disk, and
    * the r12 sf30 attempt showed what ignoring that costs (ENOSPC ~70 GB
    * into a ~150 GB pair shuffle, three dead queries and a poisoned
    * board). On a real cluster the default is unlimited: the same bytes
    * distribute across the executors' disks and the driver cannot see
    * that aggregate, so a budget there is the operator's to declare. */
  private def pairShuffleBudget(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.dedup.maxPairShuffleBytes").map(_.toLong)
      .filter(_ != -1L)
      .getOrElse {
        if (spark.sparkContext.isLocal) {
          val dir = spark.conf.getOption("spark.local.dir")
            .map(_.split(",").head)
            .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
          new java.io.File(dir).getUsableSpace / 2
        } else Long.MaxValue
      }

  /** On-disk bytes the budget charges per generated pair. The pair stream
    * is near-unique (candidates are mostly singleton meets), so the
    * partial aggregate writes ~mass rows to the shuffle, as lz4-compressed
    * blocks: the r12 sf10 board measured 2.75e9 pairs (MassProbe) → ~17 GB
    * per query ≈ 6.2 B/pair, and 8 leaves margin for less-compressible
    * id distributions. */
  private val PairShuffleBytesPerPair = 8L

  /** Exact meeting-pair intersection counts for every pair of docs
    * sharing ≥ 1 shingle — the PRE-AGGREGATED POSTINGS dense generator
    * shared by the Jaccard and containment fallbacks.
    *
    * `finish` receives one row per unordered pair, (a, b, sa, sb,
    * common): a and b are dense int RANKS, sa/sb their set sizes. It
    * filters and shapes those rows inside the mass-pinned scope; its `a`
    * and `b` columns are then mapped back to the original ids, so only
    * filtered rows ever meet the id table. Each pair is oriented by rank
    * — smaller set first, ties by smaller id — which is NOT id order: a
    * caller that wants a < b in id space reorients after the call.
    *
    * Shape:
    *  - Ranks. Each doc's set size is `size(_set)`, a projection of the
    *    per-doc (_id, _set) table with no aggregate; a distributed sort
    *    on (size, id), materialized once, numbers the docs 0..n−1. The
    *    key names one document, so the numbering is deterministic. A
    *    document repeated whole (a replayed batch) sorts next to its twin
    *    and takes one rank, and each posting holds a rank once. Ranks fit an int
    *    for any corpus under 2^31 docs and ANY long ids; a larger corpus
    *    is refused before the postings are built.
    *  - Postings. The ranks join the set table, one row per doc
    *    (broadcast up to `rankBroadcastLimit` docs, so the sets are not
    *    shuffled for it), before its sets explode into (shingle, rank)
    *    rows; those regroup by shingle into sorted int arrays.
    *  - Generation fused with the partial count. One mapPartitions pass
    *    enumerates i < j off each primitive posting array, packs the pair
    *    into one long key (a<<32|b) and counts it in a bounded
    *    [[PairCountMap]]. The exchange carries (packed pair, partial
    *    count) — one word of identity per pair — and the downstream sum is
    *    exact over flush fragments. (A declarative posexplode ×
    *    slice-explode chain measured ~4 µs/pair of codegen+GC at sf10: it
    *    carries the full posting array on every outer row and allocates a
    *    tail slice per position.)
    *  - Set sizes. Ranks are size-ordered, so a rank's set size is its
    *    size class's: sa/sb are a binary search over the start rank of
    *    each distinct size. That array has one entry per distinct set
    *    size, so it does not grow with the corpus.
    *
    * Sizing: a stage whose output is 1000× its input must be sized by its
    * output. AQE coalesces a stage by its INPUT bytes — the round-12 sf10
    * probe on q31 saw the join+partial-count stage run as 33 tasks of
    * ~30M pairs each and spill 350 GB. The meet mass Σ C(df, 2) is known
    * EXACTLY (from the routing aggregate, or one vocab aggregate here), so
    * the whole plan runs under [[graft.core.GraftSession
    * .withPinnedShuffle]] at mass / `pairsPerPartition` tasks (clamped to
    * [cores, AQE ceiling] by [[graft.core.GraftSession.iterPartitions]] —
    * on a cluster the ceiling scales with the session's
    * initialPartitionNum). PINNED, not just sized: the postings exchange
    * is ~1000× smaller than the pair volume its consumer generates, and
    * the sized-but-coalescible variant collapsed back to ~cores tasks
    * with 426 GB of aggregation spill. `finish` runs INSIDE the pinned
    * scope so the materialization never checkpoints unfiltered pairs.
    *
    * Per-shingle skew bound: one shingle's posting array is ONE row, so
    * its C(df, 2) pairs cannot split across tasks — `pairsPerPartition`
    * is an AVERAGE, and the true per-task bound is
    * max(pairsPerPartition, max_sh C(df_sh, 2)). The routed callers keep
    * that bound tight structurally: the prefix path demotes every
    * shingle with df > hotMinDf=64 (≤ 2016 pairs per posting), and the
    * dense route is taken exactly when sharing is UNIFORM (no dominant
    * shingle) or template-saturated via the hot-overflow exit — in the
    * overflow case a single hot shingle CAN still concentrate C(df, 2)
    * pairs in one task (AQE skew-split cannot help: pinned scope, single
    * row). If that corpus shape ever shows up in a board, split
    * oversized postings into chunked sub-arrays before the pair
    * enumeration (chunking the OUTER index preserves the i < j
    * enumeration). */
  private[graft] def densePairCounts(
      sets: DataFrame, massHint: Long,
      pairsPerPartition: Long = 2L * 1000 * 1000,
      rankBroadcastLimit: Int = 16 * 1000 * 1000)(
      finish: DataFrame => DataFrame): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val mass =
      if (massHint >= 0L) massHint
      else setRows(sets).groupBy("sh").agg(count(lit(1)).as("_df"))
        .agg(meetMass(col("_df")))
        .head().getLong(0)
    // Certify-or-refuse pre-flight (round 14, r12 VERDICT item 6): when
    // the estimated pair shuffle cannot fit the budget, refuse LOUDLY
    // naming the bytes instead of dying with ENOSPC mid-shuffle an hour
    // in — the r12 sf30 attempt wrote ~70 GB of a ~150 GB trio shuffle
    // into 69 GB of free disk (the q113/q115 certify-or-refuse style).
    val estBytes =
      if (mass > Long.MaxValue / PairShuffleBytesPerPair) Long.MaxValue
      else mass * PairShuffleBytesPerPair
    val budget = pairShuffleBudget(spark)
    if (estBytes > budget) throw new IllegalStateException(
      s"dense pair generation refused: estimated pair-stream shuffle " +
        s"$estBytes bytes ($mass pairs x $PairShuffleBytesPerPair B/pair) exceeds " +
        s"the shuffle-disk budget $budget bytes. Raise " +
        s"graft.dedup.maxPairShuffleBytes (or set -1 to disable), free " +
        s"local-dir disk, or cut the meet mass (higher tau / hotter " +
        s"hot-shingle cutoff).")
    // docs in (set size, id) order, materialized ONCE: a re-run sort may
    // cut its range partitions elsewhere, which would move ranks between
    // the counting pass and the numbering pass below
    val bySize = sets.select(col("_id"), size(col("_set")).as("sz"))
      .orderBy("sz", "_id").as[(Long, Long)].localCheckpoint()
    // one counting pass: docs per set size in each sorted partition. A
    // partition holds a contiguous size range, so this is about
    // partitions + distinct sizes entries; collect keeps partition order.
    val parts = bySize.rdd.mapPartitions { it =>
      val h = scala.collection.mutable.LongMap.empty[Long]
      once(it).foreach { case (_, sz) => h(sz) = h.getOrElse(sz, 0L) + 1L }
      Iterator(h.toArray)
    }.collect()
    val nDocs = parts.iterator.flatMap(_.iterator.map(_._2)).sum
    if (nDocs > Int.MaxValue) throw new IllegalStateException(
      s"dense pair generation refused: $nDocs documents exceed the " +
        s"${Int.MaxValue} int ranks a packed pair can hold. Dedup the " +
        s"corpus in shards below that count.")
    val partStart = parts.map(_.iterator.map(_._2).sum).scanLeft(0L)(_ + _)
    val classes = parts.flatten.groupMapReduce(_._1)(_._2)(_ + _).toArray.sortBy(_._1)
    val classStart = classes.map(_._2).scanLeft(0L)(_ + _).init.map(_.toInt)
    val classSize = classes.map(_._1)
    val numbered = bySize.rdd.mapPartitionsWithIndex { (i, it) =>
      var r = partStart(i).toInt
      once(it).map { case (id, _) => r += 1; (id, r - 1) }
    }.toDF("_id", "_r")
    // the doc count is exact here, so no limit probe is needed
    val ranks = if (nDocs <= rankBroadcastLimit) broadcast(numbered) else numbered
    val p = graft.core.GraftSession.iterPartitions(spark, mass, pairsPerPartition)
    graft.core.GraftSession.withPinnedShuffle(spark, p) {
      val postings = sets.join(ranks, "_id")
        .select(explode(col("_set")).as("sh"), col("_r"))
        .groupBy("sh")
        .agg(sort_array(collect_set(col("_r"))).as("ps"))
      val counts = postings
        .select(col("ps")).as[Array[Int]]
        .mapPartitions { it =>
          val m = new PairCountMap(1 << 16, 4 << 20)
          it.flatMap { a =>
            var flushed: Iterator[(Long, Long)] = Iterator.empty
            var i = 0
            val n = a.length
            while (i < n - 1) {
              val hi = a(i).toLong << 32
              var j = i + 1
              while (j < n) {
                val pk = hi | a(j)
                if (!m.add(pk)) { // at cap: drain, then the add retries
                  flushed = flushed ++ m.drainAndReset()
                  m.add(pk)
                }
                j += 1
              }
              i += 1
            }
            flushed
          } ++ m.iterator
        }
        .toDF("pk", "_pc")
        .groupBy("pk").agg(sum(col("_pc")).as("common"))
        .as[(Long, Long)]
        .map { case (pk, common) =>
          val a = (pk >>> 32).toInt
          val b = pk.toInt
          (a, b, rankSize(classStart, classSize, a),
            rankSize(classStart, classSize, b), common)
        }
        .toDF("a", "b", "sa", "sb", "common")
      val out = finish(counts)
      // both sides join the same rank relation, so they share one broadcast
      val withIds = out
        .join(ranks.as("ra"), col("a") === col("ra._r"))
        .join(ranks.as("rb"), col("b") === col("rb._r"))
        .select(col("ra._id").as("a") +: col("rb._id").as("b") +:
          out.columns.filterNot(Set("a", "b")).map(out(_)): _*)
      graft.core.GraftSession.dumpPlanIfAsked(withIds, "densePairCounts")
        .localCheckpoint()
    }
  }

  /** The rows of a sorted partition without repeats: a row repeated whole
    * (a replayed batch) sorts next to its twin. */
  private def once(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var last: (Long, Long) = null
    it.filter { row => val fresh = row != last; last = row; fresh }
  }

  /** Set size of rank `r` under a (size, id) rank order: the size of the
    * last class whose start rank is ≤ r. */
  private def rankSize(classStart: Array[Int], classSize: Array[Long], r: Int): Long = {
    val i = java.util.Arrays.binarySearch(classStart, r)
    classSize(if (i >= 0) i else -i - 2)
  }

  /** Dense Jaccard pairs of a per-doc (_id, _set) table (the router's
    * dense tiers and the spec's reference implementation): the postings
    * generator ([[densePairCounts]]) with the Jaccard threshold
    * ([[jaccardScores]]) applied inside the mass-pinned scope. The result
    * is materialized (localCheckpoint), so the caller may release `sets`
    * immediately. `massHint` lets the router pass the meet mass it
    * already computed instead of re-aggregating the vocabulary. Pairs
    * come back as a < b in id space. */
  private[graft] def denseJaccard(
      sets: DataFrame, tau: Double, massHint: Long = -1L): DataFrame =
    densePairCounts(sets, massHint)(jaccardScores(_, tau))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"),
        col("jaccard"))

  /** The one candidate verifier: (a, b, sa, sb, common) for each candidate
    * pair (a, b) of a per-doc (_id, _set) table, with sa = |S_a|, sb =
    * |S_b| and common = |S_a ∩ S_b| — the row shape [[densePairCounts]]
    * hands its `finish`. A pair's two end rows (a, b, _id) look up their
    * `_set`s in one join and meet in one groupBy(a, b). Only pair rows are
    * ever broadcast, never a `_set`: the end rows when `broadcastPairs`
    * (the caller knows the list is small), nothing otherwise (a shuffle
    * join, identical rows). Lazy. */
  private[graft] def setPairCounts(
      sets: DataFrame, cands: DataFrame, broadcastPairs: Boolean): DataFrame = {
    val ends = cands.select(col("a"), col("b"), explode(array(col("a"), col("b"))).as("_id"))
    def setOf(end: Column): Column = collect_list(when(col("_id") === end, col("_set")))(0)
    sets.select("_id", "_set").join(if (broadcastPairs) broadcast(ends) else ends, "_id")
      .groupBy("a", "b").agg(setOf(col("a")).as("_sa"), setOf(col("b")).as("_sb"))
      .select(col("a"), col("b"), size(col("_sa")).as("sa"), size(col("_sb")).as("sb"),
        size(array_intersect(col("_sa"), col("_sb"))).as("common"))
  }

  /** (a, b, jaccard) for the pair counts (a, b, sa, sb, common) whose
    * Jaccard |A∩B| / (|A| + |B| − |A∩B|) is at least tau, rounded to 6 dp:
    * the one Jaccard score, shared by the dense generator, the prefix tier
    * and MinHash. */
  private[graft] def jaccardScores(counts: DataFrame, tau: Double): DataFrame =
    scored(counts, "jaccard",
      col("common").cast("double") / (col("sa") + col("sb") - col("common")), tau)

  /** (a, b, containment) for the directed pair counts whose containment
    * |A∩B| / |A| is at least tau, rounded to 6 dp. */
  private[graft] def containmentScores(counts: DataFrame, tau: Double): DataFrame =
    scored(counts, "containment", col("common").cast("double") / col("sa"), tau)

  /** (a, b, `name`) rows whose `score` is at least tau, rounded to 6 dp.
    * The threshold is a typed filter, so no predicate is pushed below it:
    * a column filter inlines the [[setPairCounts]] intersection into its
    * condition once per use in the score, on top of the projection's own. */
  private def scored(counts: DataFrame, name: String, score: Column, tau: Double): DataFrame =
    counts.select(col("a"), col("b"), score.as(name))
      .filter((r: Row) => r.getDouble(2) >= tau)
      .select(col("a"), col("b"), round(col(name), 6).as(name))

  /** Prefix-filtered exact Jaccard pairs — same output as
    * [[denseJaccard]], far fewer candidate pairs at corpus scale.
    *
    * The shared-shingle equi-join generates one candidate row per COMMON
    * shingle of every meeting pair; near-duplicate pairs (the very pairs
    * we're hunting) share most of their shingles, so the candidate volume
    * is ~Σ common(a,b) — quadratic in similarity density. The prefix
    * filter (Chaudhuri/Ganti/Kaushik, ICDE 2006; Xiao et al.'s PPJoin
    * family builds on it) cuts that to at most one meeting per pair and
    * joins only a (1−τ)-fraction of each document's shingles:
    *
    * Under ANY fixed global order of the shingle universe, if J(A,B) ≥ τ
    * then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and by pigeonhole the smallest
    * common shingle must lie within the first |A| − ⌈τ·|A|⌉ + 1 shingles
    * of A AND the first |B| − ⌈τ·|B|⌉ + 1 of B — so joining
    * prefix×prefix loses no qualifying pair. The order is
    * FREQUENCY-AWARE ([[freqOrderedPrefix]]): hot shingles
    * (df > hotMinDf, one vocab aggregate + broadcast InSet) sort LAST so
    * prefixes hold the rarest shingles — without it a corpus of
    * stock-phrase-sharing documents degenerates toward all-pairs
    * candidates (57M pairs on 50k docs in the round-8 sf1 audit; ~2k
    * with the ordering).
    *
    * Everything works off ONE per-document (_id, _set) table, built in
    * the shingling pass ([[shingleSets]], no shuffle) and cached for the
    * call: the vocab aggregate and the dense postings read its exploded
    * (_id, sh) rows, the prefixes are slices of its sorted sets, and each
    * candidate pair is verified by an exact intersection of its two sets
    * ([[setPairCounts]], the verifier MinHash uses). Exact completeness
    * AND exact precision; the corpus-wide shuffles carry 8-byte hashes.
    *
    * τ·|A| is computed with a 1e-9 downward guard before ⌈⌉ so a binary
    * rounding error can only LENGTHEN a prefix (safe), never shorten it. */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double,
      broadcastPairLimit: Int = 1 << 20): DataFrame =
    withSets(shingleSets(df, idCol, textCol, n))(prefixJaccard(_, tau, broadcastPairLimit))

  /** `f` over `sets` cached, released once `f`'s materialized result is
    * back. */
  private def withSets(sets: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    val cached = sets.cache()
    try f(cached) finally cached.unpersist()
  }

  /** Distinct pairs (a < b) of docs whose (_id, sh) prefix rows share a
    * shingle: the prefix tier's candidates, exposed so the spec and the
    * Bench regime probe count the very pairs the routed path verifies. */
  private[graft] def prefixPairs(prefix: DataFrame): DataFrame =
    prefix.as("x").join(prefix.as("y"), col("x.sh") === col("y.sh"))
      .where(col("x._id") < col("y._id"))
      .select(col("x._id").as("a"), col("y._id").as("b"))
      .distinct()

  /** One vocab-sized df aggregate over the exploded rows of a per-doc
    * (_id, _set) table, feeding BOTH routing tiers: the hot
    * set (df > `hotMinDf`, worst offenders first, capped) and the DENSE
    * meet mass Σ C(df, 2) — the exact row count of the dense equi-join's
    * shared-shingle meets. Returns (hot, tier0Dense): tier0Dense is true
    * when the hot set is EMPTY yet the dense mass already exceeds the
    * candidate limit — a corpus whose sharing is both pervasive and
    * UNIFORM (no shingle frequent enough to demote; the round-8 sf1
    * audit's 40-word-vocab synthetic, max df 25, candidates ≈ meets at
    * 57M on 50k docs). With nothing for the frequency order to push out
    * of prefixes, the filter provably has no lever, so the router goes
    * dense WITHOUT paying the prefix build it would only throw away.
    * Routing is performance-only — every path emits identical pairs
    * (spec-pinned per τ).
    *
    * Also returns the dense meet mass itself (third element): it is the
    * EXACT pair-row count of the dense generator, so the dense path
    * sizes its explosive stage from it ([[densePairCounts]]) instead of
    * letting AQE coalesce by input bytes — a stage whose output is
    * 1000× its input must be sized by its output. */
  private[graft] def jaccardDfRouting(
      sets: DataFrame, broadcastPairLimit: Int,
      hotMinDf: Int = 64, maxHot: Int = 1 << 16): (Array[Long], Boolean, Long) = {
    // ONE scan, ZERO storage: the dense mass rides the hot-set collect as
    // an Observation (the TakeOrdered child evaluates every vocab row, so
    // the metric sees them all). Persisting the vocab aggregate instead
    // measurably starved the dense join of execution memory — a marker-
    // heavy sf1 corpus has a ~100M-row shingle vocabulary, and its cache
    // forced 1.6 GB of aggregate spill per query.
    val obs = org.apache.spark.sql.Observation()
    // exact to the pair: a 100M-row vocabulary puts routing decisions near
    // the threshold (r8 ADVICE)
    val hot = setRows(sets).groupBy("sh").agg(count(lit(1)).as("_df"))
      .observe(obs, meetMass(col("_df")).as("mass"))
      .where(col("_df") > hotMinDf)
      .orderBy(col("_df").desc, col("sh").asc).limit(maxHot + 1)
      .select("sh").collect().map(_.getLong(0))
    val denseMass = obs.get("mass").asInstanceOf[Long]
    // MORE hot shingles than the demotion list holds → take the dense
    // exit outright (round-10 sf10 audit: the cap used to TRUNCATE
    // silently, leaving every overflow hot shingle inside the prefixes —
    // the prefix join then meets their C(df, 2) pairs each, the exact
    // blowup demotion exists to prevent; q129 measured 25× linear with
    // ~200k hot shingles against the 65k cap. A corpus with > maxHot
    // demotable shingles is template-saturated: the filter provably has
    // no lever left, and dense meets stay Σ df² — linear in copies.)
    if (hot.length > maxHot) (Array.empty[Long], true, denseMass)
    else (hot, hot.isEmpty && denseMass > broadcastPairLimit.toLong, denseMass)
  }

  /** The routed Jaccard pairs of a per-doc (_id, _set) table (caller
    * keeps it cached): the set entry behind [[ngramJaccardPairsPrefix]]
    * and [[graft.Graft.dedupSuite]].
    *
    * ADAPTIVE, three tiers ([[route]]): when the prefix join's meet
    * mass outgrows `broadcastPairLimit`, the prefix filter has failed to
    * filter — a corpus whose documents share shingles UNIFORMLY (small
    * vocabularies, templated text; the round-8 sf1 audit measured 57M
    * candidates on 50k docs with NO shingle above df 25, where
    * frequency ordering has nothing to demote) makes candidates ≈
    * meets, and the prefix path would then pay the dense count PLUS its
    * own candidate join. Tier 0 catches the hot-empty degenerate case
    * before any prefix is built; tier 1 decides the rest exactly on the
    * prefix meet mass. Either dense tier runs the single-shuffle dense
    * aggregate ([[denseJaccard]]) — identical output by the same
    * theorem, strictly fewer exchanges. On tier 2 (Zipfian corpora, real
    * text) the candidates verify through [[setPairCounts]] with their
    * pair rows broadcast: the meet mass bounds the distinct candidates
    * from above, so the tier itself proves the list fits. Every tier
    * returns materialized. */
  private[graft] def prefixJaccard(
      sets: DataFrame, tau: Double, broadcastPairLimit: Int = 1 << 20): DataFrame =
    route(sets, tau, broadcastPairLimit) match {
      case (_, None, mass) =>
        // already materialized by the dense generator (checkpoint inside
        // its mass-pinned scope), so releasing `sets` afterwards is safe
        denseJaccard(sets, tau, mass)
      case (_, Some(prefix), _) =>
        val v = jaccardScores(setPairCounts(sets, prefixPairs(prefix), broadcastPairs = true), tau)
          .localCheckpoint()
        prefix.unpersist()
        v
    }

  /** [[route]] for a corpus held as distinct (_id, sh) rows, whose
    * per-doc table is one groupBy(_id) over them ([[setsOf]]). */
  private[graft] def jaccardRoute(
      sh: DataFrame, tau: Double,
      broadcastPairLimit: Int): (Int, Option[DataFrame], Long) =
    route(setsOf(sh), tau, broadcastPairLimit)

  /** The full routing decision over a per-doc (_id, _set) table and, on
    * the prefix tier, the cached prefix frame it was made from — ONE code
    * path shared by the board queries and the Bench regime probe, so the
    * probe can never diverge from what production executes (the probe
    * ASSERTS tier choice and exits non-zero on a routing regression — r8
    * VERDICT #4).
    * Tiers: 0 = dense before any prefix work (hot set empty AND dense
    * meet mass already over the limit); 1 = dense after the prefix
    * meet-mass probe; 2 = prefix. The tier-1 decision quantity is the
    * prefix join's MEET MASS Σ C(df_pfx, 2) — one vocab-sized aggregate
    * over the prefix rows, no pair join, and an upper bound on distinct
    * candidate pairs, so on tier 2 it also proves the candidates'
    * broadcast safe; probing the candidate list itself would execute
    * the very join the fallback exists to avoid. On tier 2 the returned
    * (_id, sh) prefix frame, slices of the sorted sets, is CACHED — the
    * caller must unpersist it. The third element is the DENSE meet mass
    * Σ C(df, 2) from the routing aggregate — on a dense tier the fallback
    * sizes its explosive stage from it ([[densePairCounts]]). */
  private[graft] def route(
      sets: DataFrame, tau: Double,
      broadcastPairLimit: Int): (Int, Option[DataFrame], Long) = {
    val (hot, tier0Dense, denseMass) = jaccardDfRouting(sets, broadcastPairLimit)
    if (tier0Dense) return (0, None, denseMass)
    val prefix = freqOrderedPrefix(sets, tau, hot).cache()
    val prefixMass = prefix.groupBy("sh").agg(count(lit(1)).as("c"))
      .agg(meetMass(col("c")))
      .head().getLong(0)
    if (prefixMass > broadcastPairLimit.toLong) {
      prefix.unpersist()
      (1, None, denseMass)
    } else (2, Some(prefix), denseMass)
  }

  /** Directed word-n-gram CONTAINMENT pairs: C(a→b) = |Sa∩Sb| / |Sa| ≥
    * `tau` — near-superset detection (Broder 1997's containment next to
    * q31's resemblance): a quoted-in-full document, a page embedded in a
    * crawl of its aggregator, a chunk extracted from its source. Jaccard
    * misses all of these when the container is much larger; containment
    * is the quantity contamination and provenance checks actually want.
    *
    * Same scale skeleton as [[ngramJaccardPairsPrefix]], asymmetric where
    * the math is: the prefix theorem holds one-sided — |Sa∩Sb| ≥ ⌈τ·|Sa|⌉
    * forces a's first |Sa| − ⌈τ·|Sa|⌉ + 1 shingles (ANY fixed order) to
    * intersect Sb, with NO constraint on b — so candidates come from
    * a-prefix × full-b, under the same frequency-aware order (hot
    * shingles demoted out of prefixes, [[jaccardDfRouting]]'s one vocab
    * scan). Routing compares the prefix join's meet mass Σ pfx_df·(df−1)
    * (from vocab aggregates, no pair join) against the limit, and falls
    * back to the single-shuffle dense aggregate when the filter provably
    * has no lever (identical output either way). Under the limit
    * that mass bounds the directed candidates from above, so they verify
    * through [[setPairCounts]] with their pair rows broadcast, against the
    * one per-doc (_id, _set) table the shingling pass builds
    * ([[shingleSets]]), divisor |Sa| ([[containmentScores]]).
    * Returns (a, b, containment), a ≠ b, containment rounded to 6dp.
    * EAGER like [[ngramJaccardPairs]]: materialized at call time (every
    * branch checkpoints), not a lazy plan. */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double,
      broadcastPairLimit: Int = 1 << 20): DataFrame =
    withSets(shingleSets(df, idCol, textCol, n))(prefixContainment(_, tau, broadcastPairLimit))

  /** The routed containment pairs of a per-doc (_id, _set) table (caller
    * keeps it cached): the set entry behind [[ngramContainmentPairs]]. */
  private[graft] def prefixContainment(
      sets: DataFrame, tau: Double, broadcastPairLimit: Int = 1 << 20): DataFrame = {
    val (hot, hotOverflow, denseMass) = jaccardDfRouting(sets, broadcastPairLimit)
    // the Jaccard twin's tier-0 exit, honored here too (round 10): with
    // the hot set overflowed the prefix filter provably has no lever —
    // building the prefix anyway pays for slices the meet-mass probe
    // immediately throws away
    if (hotOverflow)
      return denseContainment(sets, tau, denseMass)
    val sh = setRows(sets)
    val prefix = freqOrderedPrefix(sets, tau, hot).cache()
    // both decision masses from vocab-sized aggregates — never a pair join
    val dfc = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
    val pm = prefix.groupBy("sh").agg(count(lit(1)).as("_pdf"))
      .join(dfc, "sh")
      .agg(coalesce(sum(expr("_pdf * (_df - 1)")), lit(0L)))
      .head().getLong(0)
    val out =
      // every branch returns MATERIALIZED (the dense generator checkpoints
      // inside its mass-pinned scope; the prefix branch checkpoints here —
      // r9 ADVICE): the caller unpersists the sets before any action on
      // the result, so a lazily-returned plan would re-run the whole
      // shingle pass on every action
      if (pm > broadcastPairLimit.toLong)
        denseContainment(sets, tau, denseMass)
      else {
        val cands = prefix.as("x").join(sh.as("y"), col("x.sh") === col("y.sh"))
          .where(col("x._id") =!= col("y._id"))
          .select(col("x._id").as("a"), col("y._id").as("b"))
          .distinct()
        containmentScores(setPairCounts(sets, cands, broadcastPairs = true), tau)
          .localCheckpoint()
      }
    prefix.unpersist()
    out
  }

  /** Dense directed containment (the fallback and the spec's reference
    * implementation) — [[densePairCounts]]' postings generator (the
    * intersection is symmetric, so each pair is counted once), with both
    * directions materialized from the grouped row in one projection:
    * a→b divides by |Sa|, b→a by |Sb| ([[containmentScores]] on each),
    * all inside the mass-pinned scope. Each row keeps its direction when
    * the ranks map back to ids. */
  private[graft] def denseContainment(
      sets: DataFrame, tau: Double, massHint: Long = -1L): DataFrame =
    densePairCounts(sets, massHint) { counts =>
      // filter BEFORE the direction explode (round 15): the explode
      // doubles the ~mass-row aggregated stream only for the per-
      // direction filter to drop almost all of it. Ranks are size-ordered,
      // so sa ≤ sb and a→b is the greater quotient: a pair survives in
      // SOME direction iff a→b passes, computed with the IDENTICAL
      // cast/divide expression as the per-direction score
      val either = counts.where(col("common").cast("double") / col("sa") >= tau)
        .select(explode(array(
          struct(col("a"), col("b"), col("sa"), col("common")),
          struct(col("b").as("a"), col("a").as("b"), col("sb").as("sa"), col("common"))))
          .as("r"))
        .select("r.*")
      containmentScores(either, tau)
    }

  /** Connected components over an undirected edge list, as (id, comp) with
    * comp = the minimum node id reachable from `id`.
    *
    * Hybrid by edge count — the right call at 100 TB, not just locally: a
    * near-dup EDGE list is orders of magnitude smaller than the corpus (edges
    * exist only where pairs passed a similarity gate), so the common case is
    * a few thousand-to-million edges hanging off billions of documents.
    * - `<= driverEdgeLimit` edges (checked with a limit-probe, not a full
    *   count): collect and run union-find (path compression + min-root
    *   union, so every root is its component's minimum id) — one Spark job
    *   total, and the resulting label table is broadcast-sized for the
    *   downstream join.
    * - larger: distributed min-label propagation — each round joins frontier
    *   labels across edges and keeps the per-node minimum, converging in
    *   O(component diameter) rounds (2-4 for the shallow stars/chains real
    *   duplicate clusters form). `localCheckpoint` truncates lineage each
    *   round so plans don't grow. At much larger diameters, alternating star
    *   contraction (Kiveris et al., "Connected Components in MapReduce")
    *   halves rounds; not needed at cluster shapes seen here.
    * Both paths produce identical deterministic labels. */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String, maxIter: Int = 50,
      driverEdgeLimit: Int = 1 << 20): DataFrame = {
    val typed = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val probe = typed.limit(driverEdgeLimit + 1).collect()
    if (probe.length <= driverEdgeLimit) {
      val spark = edges.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != cur) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      probe.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = probe.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .toArray.distinct.sorted
      return nodes.map(nd => (nd, find(nd))).toSeq.toDF("id", "comp")
    }
    val spark = edges.sparkSession
    // Explicit iterative sizing (the q127 lesson, Graph.scala): each
    // round's min-label aggregate is the final stage of a localCheckpoint,
    // which AQE never coalesces (`.rdd`-consumed), and a cached final
    // stage materializes at the full wide-start ceiling — so the loop must
    // not inherit the global confs. The symmetric edge list lands at
    // hash(dst, cores) in the SAME pass that counts it (explicit
    // repartitions are never AQE-resized); the per-round propagation joins
    // on dst, so the edge side (the big one) never re-shuffles mid-loop.
    // Only a graph whose row count justifies more width re-lands at p.
    val cores = spark.sparkContext.defaultParallelism
    val sym0 = typed
      .unionByName(typed.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(cores, col("dst"))
      .persist()
    val mSym = sym0.count()
    val p = graft.core.GraftSession.iterPartitions(spark, mSym)
    val sym =
      if (p == cores) sym0
      else {
        val s = sym0.repartition(p, col("dst")).persist()
        s.count()
        sym0.unpersist()
        s
      }
    graft.core.GraftSession.withShufflePartitions(spark, p) {
    try {
    var labels = sym.groupBy("src").agg(min("dst").as("nmin"))
      .select(col("src").as("id"), least(col("src"), col("nmin")).as("comp"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val prop = sym.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min("comp").as("pcomp"))
        .select(col("src").as("pid"), col("pcomp"))
      // carry the previous label through the checkpoint so convergence is
      // an Observation riding the checkpoint's own job (round 14 — was a
      // separate filter+count job per round, pure driver latency at
      // O(diameter) rounds; metrics fire on localCheckpoint's
      // SQLExecution, same mechanism as Graph.pageRankImpl)
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(prop, col("id") === col("pid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"),
          col("comp").as("ocomp"))
        .observe(obs, coalesce(
          sum(when(col("comp") =!= col("ocomp"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
        .localCheckpoint()
      // bounded wait + fallback job (r14 ADVICE): a dropped
      // SQLExecutionEnd must degrade to the old one-row count, not a hang
      changed = graft.core.GraftSession.observedOrElse[Long](obs, "changed")(
        next.agg(coalesce(
          sum(when(col("comp") =!= col("ocomp"), 1L).otherwise(0L)),
          lit(0L))).head().getLong(0))
      labels = next.select("id", "comp")
      iter += 1
    }
    // exhausting maxIter without convergence would return SILENTLY WRONG
    // labels (nodes > maxIter hops from their component's min id keep a
    // stale label) — a real shape at corpus scale, where chains of
    // successive near-identical edits have diameter ~ version count
    require(changed == 0,
      s"connectedComponents: not converged after $maxIter rounds - the " +
        "graph has a component of diameter > maxIter; raise maxIter " +
        "(rounds are O(diameter)) or pre-contract with star contraction")
    labels
    } finally sym.unpersist() // released on the refusal path too
    }
  }

  /** Near-duplicate clusters: every document labeled with the minimum doc id
    * of its n-gram-Jaccard component (singletons label themselves). This is
    * the "keep one per cluster" primitive a corpus dedup pipeline ends with:
    * survivors are rows where doc_id = cluster_id. */
  def nearDupClusters(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, tau)
    val comp = connectedComponents(pairs, "a", "b")
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Embedding cosine near-duplicate pairs via multi-table sign-LSH
    * blocking — the bucketed SCALE path to [[embeddingCosinePairs]]'
    * exact-but-quadratic scan.
    *
    * Candidates are pairs sharing a (table, bucket) cell in ANY of the
    * `tables` sign-hashes. The shuffle is SKINNY by design: rows entering
    * the self-equi-join carry only (id, bucket arrays) — never the
    * vectors — and a pair colliding in several tables is kept exactly
    * once by ARITHMETIC (the q87/IntervalJoin discipline: only the FIRST
    * table where both sides collide emits the pair), so there is no
    * dropDuplicates exchange at all. Vectors are re-attached to the
    * (edge-bounded, broadcast-guarded) candidate list ONCE, for the one
    * codegen'd cosine that verifies each candidate — PRECISION is exact
    * (every returned pair truly >= tau); only recall is approximate,
    * rising with `tables` (near-identical vectors collide in every table
    * w.h.p.).
    *
    * Hot cells — the TextIndex hot-bucket discipline: a clustered corpus
    * can funnel far more than its share of rows into one (table, bucket)
    * cell, and the self-join then goes quadratic in that cell. Cells
    * whose occupancy exceeds `hotCellLimit` (found by one skinny count —
    * there are at most N·tables/hotCellLimit of them, an arithmetic
    * bound, so the flag frame broadcasts) are sub-split by a SECOND
    * independent `bitsPerTable`-bit sign hash: collision in a hot cell
    * additionally requires the sub-buckets to match. True near-dups
    * agree on the sub-bits w.h.p. (identical vectors always), so the
    * split trades a sliver of hot-cell recall for a 2^bits reduction of
    * the quadratic term; cool cells are byte-identical to the unsplit
    * plan. */
  def embeddingCosinePairsLsh(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      bitsPerTable: Int = 8, tables: Int = 4, seed: Long = 42L,
      hotCellLimit: Int = 4096, broadcastPairLimit: Int = 1 << 20): DataFrame = {
    import graft.functions.ArrayMath
    // lshCandidates returns its pair list ALREADY localCheckpointed and
    // broadcast-hinted when small — a second checkpoint here would
    // materialize the candidates twice
    lshCandidates(df, idCol, vecCol, bitsPerTable, tables, seed, hotCellLimit,
        broadcastPairLimit = broadcastPairLimit)
      .join(df.select(col(idCol).cast("long").as("a"), col(vecCol).as("_va")), Seq("a"))
      .join(df.select(col(idCol).cast("long").as("b"), col(vecCol).as("_vb")), Seq("b"))
      .withColumn("cosine", ArrayMath.cosine(col("_va"), col("_vb")))
      .where(col("cosine") >= tau)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Candidate pairs (a, b) for [[embeddingCosinePairsLsh]]: the pairs
    * [[Banding.join]] finds sharing a (table, cell) key — each pair once,
    * vectors never shuffled — returned localCheckpointed, and hinted for
    * broadcast when at most `broadcastPairLimit`. Exposed so the spec can
    * measure hot-cell candidate reduction directly. */
  private[graft] def lshCandidates(
      df: DataFrame, idCol: String, vecCol: String,
      bitsPerTable: Int, tables: Int, seed: Long,
      hotCellLimit: Int, rowsPerTask: Long = Banding.RowsPerTask,
      broadcastPairLimit: Int = 1 << 20): DataFrame = {
    // Similarity.lshTopK's bounds: lshBucket sets bit j as the Int `1 << j`,
    // whose shift distance Java masks to 5 bits, so from 33 bits on two
    // hyperplanes would set the same bit and distinct buckets merge
    require(bitsPerTable > 0 && bitsPerTable < 31,
      s"bitsPerTable must be in [1, 30], got $bitsPerTable")
    require(tables > 0, s"tables must be > 0, got $tables")
    val dim = Similarity.vecDim(df, vecCol, "embeddingCosinePairsLsh")
    val basePlanes = Similarity.hyperplanes(bitsPerTable * tables, dim, seed)
      .grouped(bitsPerTable).toSeq
    // independent second hash per table for hot-cell refinement; the
    // golden-ratio xor keeps it deterministic in `seed` but uncorrelated
    val subPlanes = Similarity
      .hyperplanes(bitsPerTable * tables, dim, seed ^ 0x9E3779B97F4A7C15L)
      .grouped(bitsPerTable).toSeq
    val baseArr = array(basePlanes.map(p =>
      Similarity.lshBucket(col(vecCol), p).cast("long")): _*)
    val subArr = array(subPlanes.map(p =>
      Similarity.lshBucket(col(vecCol), p).cast("long")): _*)
    // ONE pass computes every table's buckets; vectors are dropped here
    // and never enter a shuffle again. A checkpoint, not a cache: each plan
    // reading a cached relation pays a cache-stage job
    val slim = graft.core.Par.fanOut(df.select(col(idCol), col(vecCol)))
      .select(col(idCol).cast("long").as("_id"),
        baseArr.as("_bb"), subArr.as("_sb"))
      .localCheckpoint()
    val cells = slim
      .select(posexplode(col("_bb")).as(Seq("_t", "_b")))
      .groupBy("_t", "_b").agg(count(lit(1)).as("_n"))
    // ONE aggregate over the cells counts the hot ones and sizes the join:
    // every refined key is a base cell or a sub-split of one, so the base
    // cells' meet mass bounds the keys' (and the candidates') from above
    val stats = cells.agg(meetMass(col("_n")), coalesce(sum(col("_n")), lit(0L)),
      count_if(col("_n") > hotCellLimit)).head()
    val (massBound, bandedRows, hotCells) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val hotFrame = cells.where(col("_n") > hotCellLimit).select(col("_t"), col("_b"))
    // there are at most N·tables/hotCellLimit hot cells by arithmetic —
    // in the common case none, and no further job; a few are collected
    // and handed to a codegen'd InSet probe with ZERO extra joins; a
    // pathological corpus past the collect limit degrades to
    // broadcast-join flagging with identical output
    val hotCollectLimit = 1 << 14
    val flagged =
      if (hotCells == 0L)
        slim.withColumn("_hot",
          array((0 until tables).map(_ => lit(false)): _*))
      else if (hotCells <= hotCollectLimit) {
        val byT = hotFrame.collect().groupBy(_.getInt(0))
          .map { case (t, rs) => t -> rs.map(_.getLong(1)) }
        slim.withColumn("_hot",
          array((0 until tables).map { t =>
            byT.get(t) match {
              case Some(bs) => col("_bb")(t).isin(bs.toSeq: _*)
              case None => lit(false)
            }
          }: _*))
      } else {
        val withFlags = (0 until tables).foldLeft(slim) { (acc, t) =>
          acc.join(
            broadcast(hotFrame.where(col("_t") === t)
              .select(col("_b").as(s"_hb$t"), lit(true).as(s"_ishot$t"))),
            acc("_bb")(t) === col(s"_hb$t"), "left")
            .drop(s"_hb$t")
        }
        withFlags.withColumn("_hot",
          array((0 until tables).map(t =>
            coalesce(col(s"_ishot$t"), lit(false))): _*))
          .drop((0 until tables).map(t => s"_ishot$t"): _*)
      }
    // cell key per table: the base bucket, plus the sub-bucket when the
    // cell is hot — equal keys are exactly equal cells, because hotness is
    // a property of the cell (equal bases carry the same flag) and both
    // buckets are < 2^bitsPerTable
    val keyed = flagged.select(col("_id"), array((0 until tables).map { t =>
      col("_bb")(t) + when(col("_hot")(t),
        shiftleft(col("_sb")(t) + 1L, bitsPerTable)).otherwise(0L)
    }: _*).as("_sig"))
    val out = Banding.join(keyed, tables, (s, t) => s(t), massBound, bandedRows,
        rowsPerTask)
      .select(col("a"), col("b"))
      .localCheckpoint()
    // within the limit by the mass bound: no limit-probe needed
    if (massBound <= broadcastPairLimit) broadcast(out) else hintIfSmall(out, broadcastPairLimit)
  }

  /** The end-to-end pipeline verb: `df` minus every non-canonical
    * near-duplicate — the minimum-id member of each Jaccard component (and
    * every singleton) survives with ALL its original columns.
    *
    * Scale shape: the loser list is bounded by the EDGE set (only documents
    * that matched some pair can lose), which after the similarity gate is
    * orders of magnitude smaller than the corpus — so it broadcasts, and the
    * anti-join never shuffles the corpus. */
  def dedupCorpus(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double,
      broadcastLoserLimit: Int = 1 << 20): DataFrame = {
    // localCheckpoint: materialize the loser list once so the
    // edge-bounded-broadcast guard's limit-probe costs a cached count,
    // not a recompute of the whole clustering
    val losers = nearDupClusters(df, idCol, textCol, n, tau)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("_loser"))
      .localCheckpoint()
    df.join(hintIfSmall(losers, broadcastLoserLimit),
      col(idCol).cast("long") === col("_loser"), "left_anti")
  }

  /** [[dedupCorpus]] with a QUALITY-AWARE keeper: within each near-dup
    * cluster the survivor is the member with the highest `score` (ties:
    * min id) instead of the min id — the curation-grade choice when
    * duplicates differ (keep the longest / least-boilerplate / highest-
    * classifier-score copy, drop the truncated mirror).
    *
    * Same 100 TB shape as [[dedupCorpus]]: cluster members are the
    * edge-bounded connected-component table (docs that matched SOME pair
    * — orders of magnitude smaller than the corpus), scores attach via a
    * broadcast semi-join of that table onto the corpus scan, the winner
    * per cluster is ONE struct-max aggregate (score, then −id, carrying
    * the id — no window sort), and the corpus itself only ever feels one
    * broadcast anti-join of the loser list. Singletons never enter any
    * join. `score` must be computable from the doc row (a Column over
    * `df`'s columns). */
  def dedupCorpusBy(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double,
      score: Column, broadcastLoserLimit: Int = 1 << 20): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, tau)
    // (id, comp), edge-bounded by contract; localCheckpoint so the
    // broadcast guard's probe and the three downstream uses share one
    // materialization (the driver union-find path is already local)
    val comp = connectedComponents(pairs, "a", "b").localCheckpoint()
    val small = withinLimit(comp, broadcastLoserLimit)
    def hint(d: DataFrame): DataFrame = if (small) broadcast(d) else d
    // The join key is private (`_mid`), not `id`: a corpus whose id
    // column is itself named `id` would otherwise carry two `id` columns.
    val members = comp.select(col("id").as("_mid"), col("comp").as("_comp"))
    // Broadcast members: join FIRST, score AFTER (round 15, §1.2 "don't
    // compute what you throw away") — the score column (size(tokens(text))
    // for q133) runs on the edge-bounded members only, not the whole
    // corpus scan, and no corpus row crosses an exchange. Shuffled
    // members: score FIRST, so only (id, score) crosses the join's
    // exchange instead of every corpus column.
    val memberScores =
      if (small) df
        .select(col(idCol).cast("long").as("_mid") +: df.columns.map(col): _*)
        .join(broadcast(members), Seq("_mid"))
        .select(col("_mid").as("id"), col("_comp").as("comp"), score.as("_score"))
      else df
        .select(col(idCol).cast("long").as("_mid"), score.as("_score"))
        .join(members, Seq("_mid"))
        .select(col("_mid").as("id"), col("_comp").as("comp"), col("_score"))
    val winners = memberScores.groupBy(col("comp"))
      .agg(max(struct(col("_score"), (-col("id")).as("_nid"),
        col("id").as("_win"))).as("_m"))
      .select(col("_m._win").as("_winner"))
    val losers = comp.select(col("id").as("_loser"))
      .join(hint(winners), col("_loser") === col("_winner"), "left_anti")
    df.join(hint(losers), col(idCol).cast("long") === col("_loser"), "left_anti")
  }

  /** Directed containment CONSUMED into a curation label ([[
    * ngramContainmentPairs]]'s pair list was previously a dead end — the
    * aggregator/quoted-in-full user story ends at a verb, not a list):
    * one row per EMBEDDED document — a doc whose shingle set is (≥ tau)
    * contained in some other doc's — labeled `embedded_in` = its minimum
    * qualifying container. MUTUAL containment (near-identical docs, both
    * directions ≥ tau) keeps the min id and labels the larger — the q66
    * min-id-survives convention, so exact duplicates behave identically
    * under both verbs. A container may itself be embedded elsewhere;
    * lineage follows the chain, exactly as `dup_of` does in
    * [[graft.Graft.curateCorpusAudit]].
    *
    * Scale shape: the pair list is gate-bounded (only ≥-tau pairs exist
    * at all), the mutual check is a self-join of that bounded list with
    * itself — the corpus is never touched past the shared shingle pass. */
  def embeddedDocs(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double): DataFrame = {
    val pairs = ngramContainmentPairs(df, idCol, textCol, n, tau)
    val rev = pairs.select(col("a").as("_ra"), col("b").as("_rb"))
    pairs
      .join(rev, col("a") === col("_rb") && col("b") === col("_ra"), "left")
      .where(col("_ra").isNull || col("a") > col("b"))
      .groupBy(col("a").as("id")).agg(min(col("b")).as("embedded_in"))
  }

  /** [[dedupCorpus]] for the CONTAINMENT relation: `df` minus every
    * embedded document ([[embeddedDocs]]) — containers survive with all
    * their columns. Same 100 TB shape: the embedded list is edge-bounded,
    * so it broadcasts and the corpus only feels one anti-join. */
  def dedupCorpusContainment(
      df: DataFrame, idCol: String, textCol: String, n: Int, tau: Double,
      broadcastLoserLimit: Int = 1 << 20): DataFrame = {
    val emb = embeddedDocs(df, idCol, textCol, n, tau)
      .select(col("id").as("_loser"))
      .localCheckpoint()
    df.join(hintIfSmall(emb, broadcastLoserLimit),
      col(idCol).cast("long") === col("_loser"), "left_anti")
  }

  /** Cosine of two float-vector columns, computed in double with a
    * sequential left fold (bit-identical to the SQL oracle's list_reduce).
    * Codegen'd — see [[graft.functions.DotProduct]]. */
  def cosine(a: Column, b: Column): Column = graft.functions.ArrayMath.cosine(a, b)

  /** Embedding cosine near-duplicate pairs (cosine >= tau), exact.
    *
    * Deliberately all-pairs within the corpus: exactness is the contract
    * here (the oracle is exact SQL). Norms are computed once per row BEFORE
    * the pair join (O(N·d), not O(N²·d)), so each surviving pair costs one
    * codegen'd dot product. The a<b self-join plans as a broadcast nested
    * loop with the smaller side broadcast; for corpora too large for that,
    * use MinHashLSH / SimHash / Similarity (IVF), which trade exactness for
    * an equi-join shape. */
  def embeddingCosinePairs(
      df: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    import graft.functions.ArrayMath
    val withNorm = df.select(col(idCol), col(vecCol))
      .withColumn("_n", ArrayMath.norm2(col(vecCol)))
    // stream side fanned out: a single-file corpus would otherwise probe
    // the whole broadcast nested loop from one task
    val x = graft.core.Par.fanOut(withNorm)
      .select(col(idCol).as("a"), col(vecCol).as("_va"), col("_n").as("_na"))
    val y = withNorm.select(col(idCol).as("b"), col(vecCol).as("_vb"), col("_n").as("_nb"))
    x.join(y, col("a") < col("b"))
      .withColumn("cosine", ArrayMath.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .where(col("cosine") >= tau)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }
}
