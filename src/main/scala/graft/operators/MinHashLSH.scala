package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** MinHash signatures + LSH banding for near-duplicate candidate generation.
  *
  * Scale design (SURVEY §4): every path works off ONE per-document table
  * (_id, sig, _set): `_set` holds the doc's distinct shingle tokens as a
  * sorted array — the dedup family's per-doc set table
  * ([[Dedup.shingleSets]]), taken as given — and `sig` its k minhash
  * values, computed from `_set` in the same row. Only the column-form
  * [[signatures]]/[[signaturesWith]] references and q162's md5 twin build
  * the table from shingle rows: an injected k-min aggregate rides that
  * regroup. The table is materialized once. Banding emits b rows per doc
  * (not k), candidate generation is an equi-join on (band, band_hash)
  * buckets — never a cross join — and each candidate pair is verified by
  * an exact intersection count of its two docs' `_set`s, looked up in that
  * table ([[Dedup.setPairCounts]], the one candidate verifier, which the
  * prefix Jaccard and containment tiers share) and scored by the one exact
  * Jaccard ([[Dedup.jaccardScores]]): no shingle-row join, regroup or size
  * aggregate.
  */
object MinHashLSH {

  private val PairBroadcastLimit = 1 << 20 // most pairs whose end rows are broadcast

  /** (id, signature array) — one row per doc, k minhash values, with the
    * PER-PERMUTATION MIX INJECTED (`perm(i, shCol)` = the i-th
    * permutation's image of a shingle token): one k-min aggregate over
    * (_id, sh) rows, exposed so a caller (q162's full-oracle gate) can
    * plant engine-replicable mixes — the q157/q158 recipe applied to the
    * MinHash family. */
  def signaturesWith(
      shingleHashes: DataFrame, k: Int,
      perm: (Int, Column) => Column): DataFrame =
    Dedup.setsOf(shingleHashes, minsOf(k, perm)).select("_id", "sig")

  /** The k-min signature aggregate under `perm`, as one array column. */
  private def minsOf(k: Int, perm: (Int, Column) => Column): Column =
    array((0 until k).map(i => min(perm(i, col("sh")))): _*).as("sig")

  /** (id, signature array<long>) — one row per doc, k minhash values. `shingleHashes`:
    * distinct integer (_id, sh) rows (Dedup.shingleHashes), read as longs. */
  def signatures(shingleHashes: DataFrame, k: Int): DataFrame =
    signed(Dedup.setsOf(shingleHashes), k).select("_id", "sig")

  /** (_id, _set: array<long>) rows with each doc's k-value signature, from
    * the one signature kernel: element i is the minimum over the set of
    * `XXH64.hashLong(sh, XXH64.hashInt(i, 42))`, bit-identical to SQL
    * `min(xxhash64(i, sh))` (xxhash64 folds its arguments left to right
    * from seed 42). Each token is read once, as 8 bytes, never a string. */
  private[graft] def signed(sets: DataFrame, k: Int): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val seeds = Array.tabulate(k)(i => XXH64.hashInt(i, 42L))
    sets.as[(Long, Array[Long])].map { case (id, set) =>
      val sig = Array.fill(k)(Long.MaxValue)
      for (sh <- set; i <- 0 until k) sig(i) = math.min(sig(i), XXH64.hashLong(sh, seeds(i)))
      (id, sig, set)
    }.toDF("_id", "sig", "_set")
  }

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
    * verification (>= tau) against the shingle sets. The per-doc table
    * comes straight from the shingling pass ([[Dedup.shingleSets]]). */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, tau: Double): DataFrame =
    nearDupPairsOf(Dedup.shingleSets(df, idCol, textCol, n), k, bands, tau)

  /** [[nearDupPairs]] of a per-doc (_id, _set) table ([[Dedup.shingleSets]];
    * caller controls caching — see [[graft.Graft.dedupSuite]]). */
  private[graft] def nearDupPairsOf(
      sets: DataFrame, k: Int, bands: Int, tau: Double,
      broadcastPairLimit: Int = PairBroadcastLimit): DataFrame =
    verifiedCandidates(signed(sets, k), k, bands, xxhashBandKey, tau, broadcastPairLimit)

  /** The MinHash band/verify machinery under PLANTED md5 mixes — q162's
    * full-oracle twin of q32 (the q156-q160 discipline: the trained/
    * seeded key stays rows-only by nature, the planted sibling puts the
    * SAME machinery under a rows+schema+hash gate). `sh` holds (_id, sh)
    * with sh = the raw shingle STRING (not an xxhash64 token, which no
    * second engine reproduces): permutation i is the lexicographic order
    * of `md5(sh || ':' || i)` and band j's bucket key the '|'-join of its
    * slice — both byte-replicable in any engine with md5 (lowercase-hex
    * min/concat is plain binary string arithmetic). Its k-min aggregate
    * (the [[signaturesWith]] form) also collects each doc's sorted string
    * `_set`; banding and the `_set` intersection verify are the production
    * path's. */
  def nearDupPairsMd5(
      sh: DataFrame, k: Int, bands: Int, tau: Double): DataFrame = {
    // `sh` (a lazy explode over the corpus scan) is read ONCE, by the
    // per-doc aggregate; fanOut spreads it over every core (at parquet-split
    // width the explode alone took ~45 s at sf1 — r14). Rows arrive
    // doc-major, so its partial side (object-hash for the `_set`
    // collect_list, sorting past 128 docs per task) emits one row per doc
    // per task: k digests plus the doc's shingle strings (sf0.1: 8.8 MB
    // shuffle, 3.7 MB digests-only, no spill; larger scales unmeasured).
    // The md5 mix stays INLINE: a vocab×k-digest join re-keys occurrence
    // rows by SHINGLE and the partial agg barely reduces (r14, sf10: 9.3 GB
    // shuffle, 8.7 GB spill, 1137 s vs ~80 MB inline); k md5 rounds per
    // occurrence are ~2 µs of codegen'd CPU each.
    val perm = (i: Int, c: Column) => md5(concat(c, lit(":" + i)))
    verifiedCandidates(Dedup.setsOf(graft.core.Par.fanOut(sh), minsOf(k, perm)),
      k, bands, md5BandKey, tau)
  }

  /** Banded candidates of a per-doc (_id, sig, _set) table, verified by
    * the shared `_set` intersection ([[Dedup.setPairCounts]]) and scored
    * by the shared exact Jaccard ([[Dedup.jaccardScores]]: >= tau, 6 dp).
    * The table and the candidate list are each materialized once, the
    * list counted as it is: its pair rows are broadcast while it holds at
    * most `broadcastPairLimit` pairs, and shuffled (identical rows) past
    * it. Lazy over the two. */
  private def verifiedCandidates(
      table: DataFrame, k: Int, bands: Int, bandKey: (Int, Seq[Column]) => Column,
      tau: Double, broadcastPairLimit: Int = PairBroadcastLimit): DataFrame = {
    require(bands > 0 && k > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands)")
    val t = table.localCheckpoint()
    val obs = org.apache.spark.sql.Observation() // the limit probe, minus its jobs
    val cands = candidatePairsWith(t, bands, k / bands, bandKey, Banding.RowsPerTask)
      .observe(obs, count(lit(1)).as("n")).localCheckpoint()
    val small = obs.get("n").asInstanceOf[Long] <= broadcastPairLimit
    Dedup.jaccardScores(Dedup.setPairCounts(t, cands, small), tau)
  }
}
