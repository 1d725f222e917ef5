package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BroadcastGuard.hintIfSmall

/** Substring-level (span) deduplication: find — and optionally cut out —
  * long character spans that occur at more than one site in the corpus,
  * the document-crossing repeated-text problem of Lee et al. 2022
  * ("Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499): boilerplate, licenses, quoted chunks that whole-doc
  * and near-dup passes all miss because the HOST documents differ.
  *
  * The paper builds a corpus-wide suffix array — inherently sequential and
  * RAM-bound. The Spark-first re-expression: every length-`l` character
  * window at stride `s` becomes a (doc, pos, window) row via
  * `explode(sequence(...))` + `substring` (pure codegen, no UDF); a window
  * text occurring at >1 site marks ALL its sites duplicated. At stride 1
  * this finds every duplicated span of length >= l exactly (any such span
  * contains a duplicated l-window at its start); larger strides trade
  * alignment sensitivity for an s-fold smaller intermediate.
  *
  * Scale shape: ONE shuffle, the groupBy on the window key. The exact
  * variant groups the l-char strings (oracle-comparable); the scale variant
  * [[dupSpanSitesHashed]] groups 8-byte xxhash64 keys so the wide strings
  * never enter the exchange — the q45/q78 two-phase pattern, spec-proven
  * equal. Removal broadcasts nothing and joins loser sites back by doc id.
  *
  * Reference scope note: the reference engine (wrds2pg) has no text
  * operators; this extends the training-data-pipeline surface (SURVEY §2).
  */
object SpanDedup {

  /** All (id, pos, span) windows: `l`-char substrings at 1-based positions
    * 1, 1+s, 1+2s, … within each text. Docs shorter than `l` emit nothing.
    *
    * The explode is a ~l/s-fold ROW MULTIPLIER, and Spark cannot re-split
    * a partition mid-generate — an under-parallel input (one small file,
    * a collapsed upstream) would pin the whole window pass to a few cores.
    * So inputs with fewer partitions than the cluster fan out BEFORE the
    * generate (one narrow (id, text) shuffle); well-split inputs pass
    * through untouched. */
  def spans(df: DataFrame, idCol: String, textCol: String, l: Int, s: Int): DataFrame = {
    require(l >= 2, "need window length l >= 2")
    require(s >= 1, "need stride s >= 1")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val docs = df.select(col(idCol), col(textCol))
    val spread = if (docs.rdd.getNumPartitions < par) docs.repartition(par) else docs
    spread.where(length(col(textCol)) >= l)
      .select(
        col(idCol),
        explode(sequence(lit(1), length(col(textCol)) - (l - 1), lit(s))).as("pos"),
        col(textCol).as("_t"))
      .select(col(idCol), col("pos"), expr(s"substring(_t, pos, $l)").as("span"))
  }

  private def dupSites(sp: DataFrame, key: Column): DataFrame = {
    val keyed = sp.withColumn("_k", key)
    val dup = keyed.groupBy("_k").agg(count(lit(1)).as("sites"))
      .where(col("sites") > 1)
    keyed.join(dup, "_k").drop("_k", "span")
  }

  /** Duplicated span spines hold l-char STRINGS — keep the default
    * broadcast budget an order under the 8-byte-key limits elsewhere.
    * Public entry points expose it (`spanBroadcastLimit`) so the
    * distributed fallback is spec-forceable, the Dedup
    * broadcastPairLimit precedent. */
  private val defaultSpanBroadcastLimit = 1 << 18

  /** Exact duplicated (id, pos, sites) from a MATERIALIZED candidate-site
    * frame `(idCol, pos, _k)` — the shared phase 2 of the two-phase
    * discipline: hash-duplicated keys gate per-doc position arrays, span
    * TEXT is re-extracted only for gated sites (one narrow id join back
    * to the corpus), and the exact site count is a groupBy on the string
    * — MAP-SIDE COMBINABLE, so a corpus-wide boilerplate span collapses
    * to one partial row per partition instead of piling every site into
    * a single window-sort task (the hot-key skew that burned the round-8
    * sf1 audit's repetitive corpus, and that real boilerplate — license
    * headers, navigation chrome — guarantees at 100 TB). The join back
    * to sites broadcasts the (distinct dup span, count) spine when a
    * limit-probe proves it small; repetitive corpora have FEW distinct
    * hot spans, so that is exactly when it broadcasts. Hash collisions
    * only ever ADD candidates; the string regroup makes exactness
    * unconditional. */
  private def dupSitesFromKeyed(
      df: DataFrame, idCol: String, textCol: String, candKeyed: DataFrame,
      l: Int, spanBroadcastLimit: Int): DataFrame = {
    val cand = candKeyed.cache()
    val dupK = cand.groupBy("_k").agg(count(lit(1)).as("_kc"))
      .where(col("_kc") > 1).select("_k")
    // materialize the candidate position arrays (bounded by hash-dup docs,
    // int arrays only), then release the keyed-site cache — a lazily
    // returned plan over it would leak the cache into the session (the
    // ADVICE r5 class)
    val candPos = cand.join(dupK, Seq("_k"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("_ps"))
      .localCheckpoint()
    cand.unpersist()
    val candSpans = df
      .select(col(idCol).cast("long").as(idCol), col(textCol))
      .join(candPos, Seq(idCol))
      .select(col(idCol), explode(col("_ps")).as("pos"),
        expr(s"substring(`$textCol`, pos, $l)").as("span"))
    val dup = candSpans.groupBy("span").agg(count(lit(1)).as("sites"))
      .where(col("sites") > 1)
      .localCheckpoint()
    candSpans.join(hintIfSmall(dup, spanBroadcastLimit), "span").drop("span")
  }

  /** Duplicated sites, exact: every (id, pos) whose span text occurs at >1
    * site corpus-wide, with that span's total site count.
    *
    * Two-phase (the q45 top-ngrams shape): phase 1 counts 8-byte
    * xxhash64-class keys — the corpus-sized shuffle never carries the
    * `l`-char strings — via a fused per-partition ROLLING-hash pass
    * ([[windowHashes]]): no span string is ever allocated, cached, or
    * shuffled (the explode+substring window pass amplified the corpus
    * ~l-fold in memory). A weaker-than-xxhash64 polynomial key only ever
    * ADDS candidates; phase 2 ([[dupSitesFromKeyed]]) re-extracts
    * candidate span TEXT and re-groups by it, so exactness is
    * unconditional either way. */
  def dupSpanSites(
      df: DataFrame, idCol: String, textCol: String, l: Int, s: Int,
      spanBroadcastLimit: Int = defaultSpanBroadcastLimit): DataFrame =
    dupSitesFromKeyed(df, idCol, textCol, windowHashes(df, idCol, textCol, l, s), l,
      spanBroadcastLimit)

  /** (id, pos, _k) for every stride-`s` `l`-char window, from ONE fused
    * per-partition pass: a base-1000003 polynomial hash ROLLS across each
    * document (O(len) per doc at s=1; O(len·l/s) otherwise), so no window
    * substring is materialized. Positions are 1-based CODE-POINT indices —
    * exactly `substring()`'s semantics (the winnow unicode lesson: Java
    * char indices drift on supplementary characters). Ids cast to long.
    * Collisions are phase-2's problem by design (string re-confirmation);
    * this key only decides the candidate superset. */
  private[graft] def windowHashes(
      df: DataFrame, idCol: String, textCol: String, l: Int, s: Int): DataFrame = {
    require(l >= 2, "need window length l >= 2")
    require(s >= 1, "need stride s >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Par.fanOut(
      df.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val B = 1000003L
        var bPow = 1L // B^(l-1), wrapping — same wrap on both roll sides
        var i = 0
        while (i < l - 1) { bPow *= B; i += 1 }
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val cps = text.codePoints().toArray
            val n = cps.length
            if (n < l) Iterator.empty
            else if (s == 1) {
              var h = 0L
              var j = 0
              while (j < l) { h = h * B + cps(j); j += 1 }
              val first = (id, 1, h)
              var prev = h
              Iterator.single(first) ++ (1 to n - l).iterator.map { p =>
                prev = (prev - cps(p - 1) * bPow) * B + cps(p + l - 1)
                (id, p + 1, prev)
              }
            } else {
              (0 to n - l by s).iterator.map { p =>
                var h = 0L
                var j = 0
                while (j < l) { h = h * B + cps(p + j); j += 1 }
                (id, p + 1, h)
              }
            }
          }
        }
      }
      .toDF(idCol, "pos", "_k")
  }

  /** Duplicated sites, hashed scale path: identical semantics but the
    * groupBy key is xxhash64(span), so the exchange carries 8 bytes per
    * window instead of `l` chars. Spec-proven equal to [[dupSpanSites]]
    * (a corpus-wide hash collision would need ~2^32 distinct windows). */
  def dupSpanSitesHashed(df: DataFrame, idCol: String, textCol: String, l: Int, s: Int): DataFrame =
    dupSites(spans(df, idCol, textCol, l, s), xxhash64(col("span")))

  /** Per-document duplicated-window count (0 for clean docs) — the profile
    * a curation pass thresholds on. Exact (string-keyed), DuckDB-oracle
    * comparable. */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String, l: Int, s: Int): DataFrame =
    df.select(col(idCol))
      .join(
        dupSpanSites(df, idCol, textCol, l, s)
          .groupBy(idCol).agg(count(lit(1)).as("dup_spans")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))

  /** Cuts duplicated spans out of the corpus, keeping ONE copy corpus-wide:
    * the first site of each duplicated window (min id, then min pos)
    * survives; every other site's [pos, pos+l) character range is removed
    * from its document. Overlapping loser ranges merge before cutting, so
    * a long repeated region excises once, cleanly.
    *
    * Interval merge and text reassembly are higher-order array expressions
    * (`aggregate` over the sorted loser positions) — no UDF, no
    * per-doc driver work; the only shuffles are the window-key groupBy
    * inherited from [[dupSpanSites]], the combinable min-struct first-site
    * aggregate over the (already shrunken) duplicated-window subset with
    * its broadcast-guarded join-back, and the doc-id join of loser
    * position arrays back to the corpus. */
  def stripDupSpans(
      df: DataFrame, idCol: String, textCol: String, l: Int, s: Int,
      spanBroadcastLimit: Int = defaultSpanBroadcastLimit): DataFrame =
    excise(df, idCol, textCol, loserCuts(df, idCol, textCol, l, s, spanBroadcastLimit), l)

  /** Per-doc sorted loser positions (all-but-first sites of duplicated
    * windows) — the cut lists [[stripDupSpans]] feeds to [[excise]].
    *
    * Same two-phase discipline as [[dupSpanSites]]: the corpus-sized
    * shuffle carries 8-byte keys; the first-site ranking then runs on the
    * ACTUAL span text of the (tiny) hash-candidate subset, so a hash
    * collision can never cut innocent text. */
  private def loserCuts(
      df: DataFrame, idCol: String, textCol: String, l: Int, s: Int,
      spanBroadcastLimit: Int): DataFrame = {
    val sp = spans(df, idCol, textCol, l, s)
      .withColumn("_k", xxhash64(col("span"))).cache()
    val dupK = sp.groupBy("_k").agg(count(lit(1)).as("_kc"))
      .where(col("_kc") > 1).select("_k")
    val spDup = sp.join(dupK, "_k")
    // first site per span is min(struct(id, pos)) + a broadcast-guarded
    // join-back — the same hot-span-skew-free shape as
    // [[stripDupSpansWinnowed]] (string-keyed, so a hash collision can
    // never cut innocent text: a colliding singleton span simply finds no
    // row in the sites>1 spine). Cut arrays materialize (bounded by loser
    // docs, int arrays), then the span cache releases (ADVICE r5).
    val firsts = spDup.groupBy("span")
      .agg(min(struct(col(idCol), col("pos"))).as("_f"), count(lit(1)).as("sites"))
      .where(col("sites") > 1).select("span", "_f")
      .localCheckpoint()
    val out = spDup.join(hintIfSmall(firsts, spanBroadcastLimit), "span")
      .where(col(idCol) =!= col("_f").getField(idCol) ||
        col("pos") =!= col("_f").getField("pos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_cuts"))
      .localCheckpoint()
    sp.unpersist()
    out
  }

  /** Ids of docs that can possibly own a duplicated `l`-window, from a
    * winnowing pre-pass ([[TextAnalysis.winnow]] with gram size `k` and
    * window `w = l − k + 1`): the SIGMOD'03 guarantee says any substring
    * of length >= w + k − 1 = l shared between two sites selects the same
    * fingerprint at both — so every doc owning a duplicated-site window
    * also owns a fingerprint with global count >= 2, and docs outside
    * this set are PROVABLY clean. Fingerprint hash collisions only ever
    * ADD candidate docs (the gate is a superset filter), so exactness
    * downstream is unconditional.
    *
    * The winnow pass emits ~1/w as many rows as the stride-1 window pass
    * and shuffles 8-byte fingerprints, so on a mostly-clean corpus the
    * expensive span pass runs over a small gated subset.
    *
    * Choosing `k`: the gate admits any doc sharing a SELECTED k-gram with
    * another doc — common prose k-grams ("the same", " and the") make a
    * small k useless on natural text (measured: k=8 gates 500/500 docs at
    * sf0.01, k=32 gates 49 where 47 are truly dirty). Prefer k big enough
    * that an exact shared k-gram is itself surprising (k ≈ l−10 leaves
    * w ≈ 10, a mild density cost) — small k only suits short-l synthetic
    * alphabets. */
  def winnowGatedIds(df: DataFrame, idCol: String, textCol: String, l: Int, k: Int): DataFrame = {
    val w = l - k + 1
    require(k >= 2 && w >= 1, s"need 2 <= k <= l (got k=$k, l=$l)")
    val fps = TextAnalysis.winnow(df, idCol, textCol, k, w).cache()
    val dupFp = fps.groupBy("fp").agg(count(lit(1)).as("_fc"))
      .where(col("_fc") > 1).select("fp")
    // materialize the gated id set (≤ one long per doc), release the
    // fingerprint cache (ADVICE r5 discipline)
    val out = fps.join(dupFp, "fp").select(col(idCol)).distinct().localCheckpoint()
    fps.unpersist()
    out
  }

  /** Candidate (id, pos, span) windows from the winnow fingerprints
    * DIRECTLY — the gate fused into phase 1, no stride-1 window pass at
    * all. For a duplicated l-window at position p, the winnow window of
    * grams [p, p+w−1] (w = l−k+1) lies entirely inside the span at BOTH
    * sites; rightmost-minimum selection is stateless, so both sites
    * select the same relative gram → a fingerprint with global count ≥ 2
    * at position fpPos ∈ [p, p+l−k]. Hence every duplicated window start
    * lies in [fpPos−(l−k), fpPos] of some shared fingerprint, and only
    * ~w candidate positions per shared fingerprint need exact text
    * confirmation — windows outside are PROVABLY clean. Fingerprint hash
    * collisions only ever ADD candidates.
    *
    * Scale shape: ONE fused corpus pass (the winnow roll), a shuffle of
    * sparse 8-byte fingerprints (~1/w of the stride-1 window-key volume),
    * and exact confirmation bounded by shared-fingerprint neighborhoods. */
  private[graft] def winnowCandSpans(
      df: DataFrame, idCol: String, textCol: String, l: Int, k: Int): DataFrame =
    winnowCandSpansWithMass(df, idCol, textCol, l, k)._1

  /** [[winnowCandSpans]] plus its own output ceiling (w·Σ|_fpos|) — the
    * number the generate stage is already sized by, exposed so
    * [[dupSpanStatsWinnowed]] can decide whether the dup-hash pre-gate
    * pays without an extra counting pass. */
  private[graft] def winnowCandSpansWithMass(
      df: DataFrame, idCol: String, textCol: String, l: Int, k: Int): (DataFrame, Long) = {
    val w = l - k + 1
    require(k >= 2 && w >= 1, s"need 2 <= k <= l - 1 (got k=$k, l=$l)")
    // the global fingerprint count is a map-side-combinable groupBy, NOT a
    // window aggregate: partitionBy(fp) would pile every site of a hot
    // fingerprint into one sort task, and repetitive text (tag schemes,
    // boilerplate) concentrates winnow selections onto a handful of
    // fingerprint VALUES — the round-8 sf1 audit's q101 skew. The
    // duplicated-fp spine is 8-byte keys, broadcast when a limit-probe
    // proves it small (repetitive corpora: few distinct hot fps, so the
    // winnow rows then never shuffle at all); the fingerprint pass is
    // cached for its two consumers and released once the gated position
    // arrays are materialized (ADVICE r5 discipline)
    val fps = TextAnalysis.winnow(df, idCol, textCol, k, w).cache()
    val dupFpC = fps.groupBy("fp").agg(count(lit(1)).as("_fc"))
      .where(col("_fc") > 1).localCheckpoint()
    val dupFp = dupFpC.select("fp")
    // the gated fingerprint row count (Σ _fc over the duplicated spine) is
    // free from the checkpoint; the position-array aggregate's state is
    // row-proportional (one collect_set entry per gated row, near-unique
    // doc keys), so its exchange is row-sized and user-numbered — AQE's
    // byte-sized coalesce handed it 36 tasks × millions of entries at
    // sf30 (15.8 GB memory spill, 3.0 GB disk — probed r14)
    val spark0 = df.sparkSession
    val gatedFpRows = dupFpC
      .agg(coalesce(sum(col("_fc")), lit(0L))).head().getLong(0)
    val pFp = graft.core.GraftSession
      .iterPartitions(spark0, gatedFpRows, 2L * 1000 * 1000)
    val candFpPos = fps.join(hintIfSmall(dupFp, 1 << 20), Seq("fp"), "left_semi")
      .select(col(idCol).cast("long").as(idCol), col("pos"))
      .repartition(pFp, col(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("_fpos"))
      .localCheckpoint()
    fps.unpersist()
    // Size the explode stage by its OUTPUT (round 13): the gated-docs join
    // output is small (text + position arrays), so AQE hands the
    // explode+substring generate ~cores tasks, and at sf30 each task's
    // shuffle writer multi-pass-spilled ~2 GB of generated spans (58.8 GB
    // total spill, 687 s). Each fingerprint position expands to at most
    // w = l−k+1 candidate windows, so the exact output ceiling
    // w·Σ|_fpos| comes from one cheap aggregate over the checkpointed
    // arrays; a user-NUMBERED round-robin repartition (AQE never
    // coalesces it) of the gated rows runs the generate at
    // mass/rowsPerPartition tasks — each writes a bounded slice of the
    // span shuffle instead of a multi-pass merge. The extra exchange
    // carries only the gated docs' text once.
    val spark = df.sparkSession
    val mass = w * candFpPos
      .agg(coalesce(sum(size(col("_fpos"))), lit(0L))).head().getLong(0)
    val p = graft.core.GraftSession.iterPartitions(spark, mass)
    val plan = df
      .select(col(idCol).cast("long").as(idCol), col(textCol).as("_t"))
      .join(candFpPos, Seq(idCol))
      .repartition(p)
      .select(col(idCol), col("_t"),
        explode(array_distinct(flatten(transform(col("_fpos"), fpPos => {
          val lo = greatest(lit(1), fpPos - (l - k))
          val hi = least(fpPos, length(col("_t")) - (l - 1))
          when(lo <= hi, sequence(lo, hi)).otherwise(array())
        })))).as("pos"))
      .select(col(idCol), col("pos"), expr(s"substring(_t, pos, $l)").as("span"))
    (plan, mass)
  }

  /** [[dupSpanStats]] via the fused winnow candidate generator: identical
    * output (see [[winnowCandSpans]] — no duplicated window escapes the
    * fingerprint neighborhoods, and exact string confirmation kills every
    * false candidate), but the corpus-sized work is the sparse winnow
    * pass instead of the stride-1 window enumeration. */
  def dupSpanStatsWinnowed(
      df: DataFrame, idCol: String, textCol: String, l: Int, k: Int = 8,
      spanBroadcastLimit: Int = defaultSpanBroadcastLimit): DataFrame = {
    // site counts are a map-side-combinable groupBy on the span string —
    // NOT a window aggregate: partitionBy(span) piles every site of a
    // corpus-wide boilerplate span into one sort task (the round-8 sf1
    // audit's q101 hot-key skew). The (distinct dup span, count) spine
    // broadcasts when a limit-probe proves it small — on repetitive
    // corpora (few distinct hot spans) the candidate rows then never
    // shuffle at all. The candidate subtree evaluates twice, but its
    // expensive parent (the gated per-doc position arrays) is
    // checkpointed inside [[winnowCandSpans]], so the re-run is one
    // narrow id join + substring.
    val spark = df.sparkSession
    val (rawCand, mass) = winnowCandSpansWithMass(df, idCol, textCol, l, k)
    // Dup-hash BLOOM pre-gate (round 14, VERDICT item 3): SpanMassProbe
    // measured 74% of the candidate rows as SINGLETON spans at sf10/sf30
    // (174M/626M rows, dup_frac 0.25/0.26) — strings shuffled twice
    // (count pass + stats join) only to be counted once and dropped.
    // Phase A shuffles 8-byte xxhash64 keys and counts them exactly: a
    // hash with count 1 PROVES its spans are singletons (string equality
    // implies hash equality — no false negatives), so only candidates
    // whose hash lands in the duplicated-hash spine can matter. The
    // spine is millions of rows — far past any broadcast/InSet budget
    // (the r13 rejection) — so it gates as a BLOOM (8 bits/item ≈ 2%
    // fpp, built by one aggregate over the spine; the session bloom
    // caps are raised for the build and restored): candidates are
    // filtered MAP-SIDE before both string exchanges, and bloom false
    // positives die in the exact string count (sites > 1), so the
    // result is bit-identical to the ungated plan. Spec pins gated ==
    // ungated either side of the knob.
    //
    // ENGAGEMENT (retuned round 15, r14 VERDICT item 4): the gate's win
    // is avoiding SPILL on the two string exchanges; below the spill
    // regime it is a pure tax (the r14 flat 64M default gated sf10 —
    // mass 174M, spill already ~0 — and cost ~15% calib-adjusted there;
    // its real win is sf30's 626M mass, spill 20.3 → 3.7 GB). So the
    // default keys on the quantity that actually predicts spill: the
    // estimated candidate-string exchange bytes — mass × (l + ~48 B of
    // row/pointer overhead) — against the session's aggregate unified
    // memory (Σ executor max storage+execution; the local master reports
    // its one block manager). Ungated string state beyond that budget
    // spills; below it the extra hash pass buys nothing. The explicit
    // knob `graft.spandedup.hashGateMinRows` (flat row threshold)
    // overrides the estimate when set — the spec's forced-on/forced-off
    // contract is unchanged.
    val gateMin = spark.conf.getOption("graft.spandedup.hashGateMinRows")
      .map(_.toLong)
    val memBudget = spark.sparkContext.getExecutorMemoryStatus
      .values.map(_._1).sum
    val engage = gateMin match {
      case Some(m) => mass >= m
      case None => mass * (l + 48L) > memBudget
    }
    val (cand, gatedP) =
      if (!engage) (rawCand, None)
      else {
        // sized by ROWS, user-numbered: the 8-byte-key exchange is tiny in
        // BYTES, so AQE's byte-sized coalesce handed the count aggregate
        // ~33 tasks × 5M near-unique keys of state (25 GB memory spill,
        // 5.3 GB disk at sf10 — probed r14); the aggregate's state is
        // row-proportional, so the task count must be too
        val hashCounts = rawCand.select(xxhash64(col("span")).as("_h"))
          .repartition(
            graft.core.GraftSession.iterPartitions(spark, mass, 2L * 1000 * 1000),
            col("_h"))
          .groupBy("_h").agg(count(lit(1)).as("_c"))
          .where(col("_c") > 1).localCheckpoint()
        val stats = hashCounts
          .agg(count(lit(1)).as("n"), coalesce(sum(col("_c")), lit(0L)).as("r"))
          .head()
        val nDup = stats.getLong(0)
        val dupRows = stats.getLong(1)
        val spine = hashCounts.select("_h")
        if (nDup == 0)
          // no duplicated hash → no duplicated span anywhere: exact
          return df.select(col(idCol), lit(0L).as("dup_spans"))
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.graftshim.ColumnShim
        import org.apache.spark.sql.types.BinaryType
        val numBits = math.min(math.max(nDup * 8L, 64L), 1L << 31)
        val capKeys = Seq(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
        val saved = capKeys.map(c => c -> spark.conf.getOption(c))
        capKeys.foreach(c => spark.conf.set(c, math.max(nDup, numBits).toString))
        // coalesce(8) before aggregating: each PARTIAL of a
        // BloomFilterAggregate is a full-size bloom (numBits/8 bytes), so
        // building over the spine's own ~300 partitions would shuffle
        // partitions × bloom-size of partials (~23 GB at sf30); 8 tasks
        // scan the checkpointed spine in ~1 s and ship 8 partials
        val bloom =
          try spine.coalesce(8).select(ColumnShim.column(
              new BloomFilterAggregate(ColumnShim.expression(col("_h")),
                Literal(nDup), Literal(numBits)).toAggregateExpression()))
            .head.getAs[Array[Byte]](0)
          finally saved.foreach {
            case (c, Some(v)) => spark.conf.set(c, v)
            case (c, None) => spark.conf.unset(c)
          }
        val gcand = rawCand.where(ColumnShim.column(BloomFilterMightContain(
          Literal(bloom, BinaryType),
          ColumnShim.expression(xxhash64(col("span"))))))
        // the gated row count is known EXACTLY for true dups (Σ sites
        // over the dup-hash spine) plus an fpp sliver of the singletons —
        // size the string-count exchange by it (user-numbered): gating
        // cut the BYTES 4×, so AQE's byte-sized coalesce would hand the
        // count aggregate a few tasks × millions of string keys of state
        // (15.7 GB memory spill at sf30, probed r14)
        val gatedRows = dupRows + mass / 50
        (gcand, Some(graft.core.GraftSession
          .iterPartitions(spark, gatedRows, 2L * 1000 * 1000)))
      }
    // Shuffle RAW span rows, aggregate once post-shuffle (round 13): the
    // default partial+final plan filled a 40-byte-string hash table per
    // map task with NEAR-UNIQUE keys (confirmed spans are duplicated, but
    // candidates are mostly singletons, and same-span sites rarely share
    // a partition), so the partial reduced almost nothing while its
    // sort-fallback spilled 31.8 GB at sf10 (ProbeStages: 60 of q101's
    // 96 s) to emit a "partial" shuffle that was already the raw volume.
    // repartition(col) hash-distributes by span with AQE sizing the
    // partition count by bytes; the aggregate's required distribution is
    // then already satisfied, so both aggregate phases run post-shuffle
    // over ~advisory-sized blocks and the map side just writes span rows
    // (probed: 96 → 81 s, spill 31.8 → 9.2 GB — the residue is the
    // shuffle WRITER's merge spill of the 3.6 GB map output, linear). A
    // corpus-wide hot span lands in one task but only COUNTS there — no
    // buffering, so the skew cost is a linear scan. (An 8-byte-hash
    // pre-gate with an EXACT broadcast spine was probed and REJECTED in
    // r13 — the spine never fits a broadcast; the r14 bloom form above
    // is the map-side variant that does.)
    val spanRows = cand.select(col("span"))
    val dup = gatedP.fold(spanRows.repartition(col("span")))(
        p => spanRows.repartition(p, col("span")))
      .groupBy("span").agg(count(lit(1)).as("sites"))
      .where(col("sites") > 1).localCheckpoint()
    df.select(col(idCol))
      .join(
        cand.join(hintIfSmall(dup, spanBroadcastLimit), "span")
          .groupBy(idCol).agg(count(lit(1)).as("dup_spans")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
  }

  /** [[stripDupSpans]] via the fused winnow candidate generator: cut
    * lists rank the confirmed duplicated candidates exactly like
    * [[stripDupSpans]]'s (min id, min pos) first-site policy, then excise
    * against the FULL corpus — clean docs pass through verbatim. */
  def stripDupSpansWinnowed(
      df: DataFrame, idCol: String, textCol: String, l: Int, k: Int = 8,
      spanBroadcastLimit: Int = defaultSpanBroadcastLimit): DataFrame = {
    // first site per duplicated span is min(struct(id, pos)) — a
    // map-side-combinable aggregate replacing the row_number window whose
    // partitionBy(span) sort task a hot boilerplate span would own
    // entirely; losers are flagged by a broadcast-guarded join-back
    // against the (span, first, sites>1) spine
    val cand = winnowCandSpans(df, idCol, textCol, l, k)
    val firsts = cand.groupBy("span")
      .agg(min(struct(col(idCol), col("pos"))).as("_f"), count(lit(1)).as("sites"))
      .where(col("sites") > 1).select("span", "_f")
      .localCheckpoint()
    val cuts = cand.join(hintIfSmall(firsts, spanBroadcastLimit), "span")
      .where(col(idCol) =!= col("_f").getField(idCol) ||
        col("pos") =!= col("_f").getField("pos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_cuts"))
    excise(df, idCol, textCol, cuts, l)
  }

  /** Removes from `df` every `l`-char span whose text occurs ANYWHERE in
    * `bench` — span-granular benchmark decontamination, the complement of
    * [[graft.operators.Curation.ngramContamination]]'s whole-doc gate: a
    * doc quoting one benchmark passage loses the quote, not its life.
    * Sites are string-confirmed (the hash join is only a prefilter), and
    * the benchmark side enumerates stride-1 windows so any alignment of
    * the quote is caught. The benchmark window set is an eval suite, tiny
    * by construction — it BROADCASTS, so the corpus side never shuffles
    * at all (better than [[dupSpanSites]], which must self-join). */
  def contamSpanSites(
      df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, l: Int, s: Int): DataFrame = {
    val sp = spans(df, idCol, textCol, l, s)
    val bkeys = spans(
      bench.select(col(benchTextCol)).withColumn("_bid", lit(0L)),
      "_bid", benchTextCol, l, 1)
      .select(col("span").as("_bspan")).distinct()
    sp.join(broadcast(bkeys), xxhash64(col("span")) === xxhash64(col("_bspan")))
      .where(col("span") === col("_bspan"))
      .select(col(idCol), col("pos"))
  }

  /** Per-document count of benchmark-contaminated windows (0 for clean
    * docs) — the span-granular q78 profile; DuckDB-oracle comparable. */
  def contamSpanStats(
      df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, l: Int, s: Int): DataFrame =
    df.select(col(idCol))
      .join(
        contamSpanSites(df, idCol, textCol, bench, benchTextCol, l, s)
          .groupBy(idCol).agg(count(lit(1)).as("contam_spans")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("contam_spans"), lit(0L)).as("contam_spans"))

  /** Cuts EVERY benchmark-contaminated span out of `df` (no first-site
    * exemption — benchmark text must go), merged-interval excision as in
    * [[stripDupSpans]]. */
  def stripContamSpans(
      df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, l: Int, s: Int): DataFrame = {
    val cuts = contamSpanSites(df, idCol, textCol, bench, benchTextCol, l, s)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_cuts"))
    excise(df, idCol, textCol, cuts, l)
  }

  /** Removes the merged [p, p+l) ranges of `cuts` (`(idCol, _cuts)` with
    * sorted position arrays) from each document's text. Interval merge and
    * text reassembly are one codegen'd higher-order expression per doc —
    * no UDF, no driver work; docs without cuts pass through verbatim. */
  private def excise(
      df: DataFrame, idCol: String, textCol: String,
      cuts: DataFrame, l: Int): DataFrame = {
    require(!df.columns.contains("_cuts"), "input already has a _cuts column")
    val rebuilt = expr(
      s"""aggregate(
         |  aggregate(_cuts, cast(array() as array<struct<s:int,e:int>>),
         |    (acc, p) -> if (size(acc) > 0 AND element_at(acc, -1).e >= p,
         |      concat(slice(acc, 1, size(acc) - 1),
         |             array(named_struct('s', element_at(acc, -1).s,
         |                                'e', greatest(element_at(acc, -1).e, p + $l)))),
         |      concat(acc, array(named_struct('s', p, 'e', p + $l))))),
         |  named_struct('prev', 1, 'acc', ''),
         |  (st, iv) -> named_struct(
         |    'prev', iv.e,
         |    'acc', concat(st.acc, substring(`$textCol`, st.prev, iv.s - st.prev))),
         |  st -> concat(st.acc,
         |               substring(`$textCol`, st.prev, length(`$textCol`) - st.prev + 1)))
         |""".stripMargin)
    df.join(cuts, Seq(idCol), "left")
      .withColumn(textCol, when(col("_cuts").isNull, col(textCol)).otherwise(rebuilt))
      .drop("_cuts")
  }
}
