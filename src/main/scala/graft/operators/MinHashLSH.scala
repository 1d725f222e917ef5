package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash signatures + LSH banding for near-duplicate candidate generation.
  *
  * Scale design (SURVEY §4): the k=64 signature is computed in ONE pass over
  * the hashed shingles — 64 `min(xxhash64(seed_i, sh))` aggregate
  * expressions with map-side partial aggregation, so the shuffle carries one
  * 64-long row per doc, not the shingles. Each permutation re-hashes the
  * 8-byte base shingle hash (one codegen'd hashLong round), never the
  * string. Banding emits b rows per doc (not k), candidate generation is an
  * equi-join on (band, band_hash) buckets — never a cross join — and only
  * candidate pairs are re-joined against the hashed shingle sets for exact
  * Jaccard verification.
  */
object MinHashLSH {

  /** (id, signature array) — one row per doc, k minhash values, with the
    * PER-PERMUTATION MIX INJECTED (`perm(i, shCol)` = the i-th
    * permutation's image of a shingle token): the exact same one-pass
    * k-min aggregate as [[signatures]], exposed so a caller (q162's
    * full-oracle gate) can plant engine-replicable mixes — the q157/q158
    * recipe applied to the MinHash family. */
  def signaturesWith(
      shingleHashes: DataFrame, k: Int,
      perm: (Int, Column) => Column): DataFrame = {
    val mins = (0 until k).map(i => min(perm(i, col("sh"))).as(s"_h$i"))
    shingleHashes.groupBy("_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("_id"), array((0 until k).map(i => col(s"_h$i")): _*).as("sig"))
  }

  /** (id, signature array<long>) — one row per doc, k minhash values.
    * `shingleHashes` must be (_id, sh) distinct rows (Dedup.shingleHashes). */
  def signatures(shingleHashes: DataFrame, k: Int): DataFrame =
    signaturesWith(shingleHashes, k, (i, sh) => xxhash64(lit(i), sh))

  /** [[candidatePairs]] with the BAND BUCKET KEY INJECTED
    * (`bandKey(j, slice)` = the bucket id of band j's signature slice):
    * the same [[Banding.pairs]] join — one row per doc per band,
    * equi-join on (band, bucket), each candidate pair once — under any
    * engine-replicable key. A signature whose length is not
    * `bands × rowsPerBand` fails the call by name. */
  def candidatePairsWith(
      sigs: DataFrame, bands: Int, rowsPerBand: Int,
      bandKey: (Int, Seq[Column]) => Column): DataFrame =
    candidatePairsWith(sigs, bands, rowsPerBand, bandKey, Banding.RowsPerTask)

  private[graft] def candidatePairsWith(
      sigs: DataFrame, bands: Int, rowsPerBand: Int,
      bandKey: (Int, Seq[Column]) => Column,
      rowsPerTask: Long): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"bands ($bands) and rowsPerBand ($rowsPerBand) must be > 0")
    val k = bands * rowsPerBand
    val bandHashes = array((0 until bands).map { j =>
      val slice = (0 until rowsPerBand).map(r => col("sig").getItem(j * rowsPerBand + r))
      bandKey(j, slice)
    }: _*)
    // checked in the banding projection itself, so it costs no extra job:
    // a longer signature would silently drop its tail, a shorter one die
    // in an unnamed array-index error
    val checked = when(size(col("sig")) =!= k, raise_error(concat(
        lit("MinHash signature length "), size(col("sig")).cast("string"),
        lit(s" != bands x rowsPerBand = $bands x $rowsPerBand"))))
      .otherwise(bandHashes)
    Banding.pairs(sigs.select(col("_id"), checked.as("_sig")), bands,
        (s, j) => s.getItem(j), rowsPerTask)
      .select(col("a"), col("b"))
  }

  /** Band j's bucket under the production key: xxhash64 of (j, slice). */
  private[graft] val xxhashBandKey: (Int, Seq[Column]) => Column =
    (j, slice) => xxhash64((lit(j) +: slice): _*)

  /** Band j's bucket under q162's planted key: the '|'-join of its slice. */
  private[graft] val md5BandKey: (Int, Seq[Column]) => Column =
    (_, slice) => concat_ws("|", slice: _*)

  /** Candidate pairs (a < b) sharing at least one LSH band bucket.
    * bands * rowsPerBand must equal the signature length. */
  def candidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    candidatePairsWith(sigs, bands, rowsPerBand, xxhashBandKey)

  /** End-to-end near-dup pairs: MinHash/LSH candidates, then exact Jaccard
    * verification (>= tau) against the shingle sets. */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, tau: Double): DataFrame = {
    // materialize the (edge-bounded) pair list, then release the shingle
    // cache — a lazily returned plan over it would leak the cache into the
    // session (the ADVICE r5 class; see Dedup.ngramJaccardPairs)
    val sh = Dedup.shingleHashes(df, idCol, textCol, n).cache()
    val out = nearDupPairsFromHashes(sh, k, bands, tau).localCheckpoint()
    sh.unpersist()
    out
  }

  /** [[nearDupPairs]] over a precomputed (_id, sh) intermediate (caller
    * controls caching — see [[graft.Graft.dedupSuite]]). */
  def nearDupPairsFromHashes(
      sh: DataFrame, k: Int, bands: Int, tau: Double): DataFrame = {
    val r = rowsPerBand(k, bands)
    verifiedPairs(sh, candidatePairs(signatures(sh, k), bands, r), tau)
  }

  /** The MinHash band/verify machinery under PLANTED md5 mixes — q162's
    * full-oracle twin of q32 (the q156-q160 discipline: the trained/
    * seeded key stays rows-only by nature, the planted sibling puts the
    * SAME machinery under a rows+schema+hash gate). `sh` holds (_id, sh)
    * with sh = the raw shingle STRING (not an xxhash64 token, which no
    * second engine reproduces): permutation i is the lexicographic order
    * of `md5(sh || ':' || i)` and band j's bucket key the '|'-join of its
    * slice — both byte-replicable in any engine with md5 (lowercase-hex
    * min/concat is plain binary string arithmetic). Same one-pass k-min
    * signature aggregate ([[signaturesWith]]), same (band, bucket)
    * equi-join topology ([[candidatePairsWith]]), same exact-Jaccard
    * verification join ([[verifiedPairs]]) as the production path. */
  def nearDupPairsMd5(
      sh: DataFrame, k: Int, bands: Int, tau: Double): DataFrame = {
    val r = rowsPerBand(k, bands)
    // Evaluate the shingle subtree ONCE at full width (round 14): `sh`
    // arrives as a lazy explode over the corpus scan — parquet-split
    // parallelism (2 tasks at sf1) — and this operator consumes it FOUR
    // times (signatures, verify x/y, sizes). The uncached form re-ran
    // the ~45 s two-task explode for every consumer: the whole 64.8 s
    // sf1 wall the round-13 board pinned on md5 was actually explode
    // re-evaluation at split-bound width (ProbeStages r14). fanOut
    // spreads the explode across every core; the checkpoint caps it at
    // one evaluation.
    //
    // The md5 mix itself stays INLINE in the min aggregate — a
    // vocab×k-digest join was probed and REVERTED (r14): shingle rows
    // arrive doc-major, so the inline partial aggregate collapses to
    // one row per doc per task (~80 MB shuffle at sf10), while joining
    // digest arrays back onto occurrence rows re-keys them by SHINGLE —
    // the partial agg then barely reduces and the shuffle carries
    // occurrences × 8 hex digests (9.3 GB shuffle, 8.7 GB spill,
    // 1137 s at sf10 vs zero spill inline). k md5 rounds per occurrence
    // are ~2 µs of codegen'd CPU each — the cheap side of the trade.
    val s = graft.core.Par.fanOut(sh).localCheckpoint()
    val sigs = signaturesWith(s, k,
      (i, c) => md5(concat(c, lit(":" + i))))
    val cands = candidatePairsWith(sigs, bands, r, md5BandKey)
    verifiedPairs(s, cands, tau)
  }

  private def rowsPerBand(k: Int, bands: Int): Int = {
    require(bands > 0 && k > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands)")
    k / bands
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets — the shared tail of every MinHash path (token-type agnostic:
    * the counting join only needs equality on `sh`). */
  private def verifiedPairs(
      sh: DataFrame, cands: DataFrame, tau: Double): DataFrame = {
    val sizes = sh.groupBy("_id").agg(count(lit(1)).as("sz"))
    val common = cands
      .join(sh.as("x"), col("a") === col("x._id"))
      .join(sh.as("y"), col("b") === col("y._id") && col("x.sh") === col("y.sh"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("_id", "a").withColumnRenamed("sz", "sa"), "a")
      .join(sizes.withColumnRenamed("_id", "b").withColumnRenamed("sz", "sb"), "b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sa") + col("sb") - col("common")))
      .where(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }
}
