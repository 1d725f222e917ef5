package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash near-duplicate detection.
  *
  * Each document's simhash is the sign-vector of per-bit vote sums over its
  * token hashes (+1 if the token hash has the bit set, else -1). Documents
  * within Hamming distance `maxHamming` are near-duplicates.
  *
  * Scale design (SURVEY §4): the signature is computed in a SINGLE
  * narrow pass — one `mapPartitions` over (id, text), no token explode, no
  * shuffle, no aggregation. (The previous declarative form — explode +
  * 64 sum(when) aggregates — shuffled one 64-counter row per doc and paid
  * interpreted aggregate updates per token×bit; the fused loop is ~100×
  * cheaper and embarrassingly parallel.) Pair generation uses the pigeonhole
  * block trick: the 64-bit hash splits into 4 blocks of 16 — any pair within
  * Hamming <= 3 agrees on at least one whole block, so candidates come from
  * an equi-join on (block index, block value), never a cross join.
  */
object SimHash {

  /** Token hash identical to Spark SQL's `xxhash64(token)` (seed 42). */
  private[operators] def tokenHash(tok: String): Long = {
    val u = UTF8String.fromString(tok)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** Simhash of a whitespace-tokenized text (same tokens as
    * `split(trim(text), "\\s+")`). */
  private[operators] def simhashOf(text: String): Long = {
    val votes = new Array[Int](64)
    val toks = text.trim.split("\\s+")
    var t = 0
    while (t < toks.length) {
      val h = tokenHash(toks(t))
      var i = 0
      while (i < 64) {
        votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      t += 1
    }
    var sim = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sim |= (1L << i)
      i += 1
    }
    sim
  }

  /** (_id, simhash long) per document — one fused pass. An input split
    * narrower than the default parallelism fans out first
    * ([[graft.core.Par.fanOut]]): local single-file corpora otherwise run
    * this CPU-bound pass on one core. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Par.fanOut(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        // null text emits nothing — the SQL twin's explode(null) semantics
        if (text == null) Iterator.empty
        else Iterator.single((id, simhashOf(text)))
      })
      .toDF("_id", "simhash")
  }

  /** Near-dup pairs (a < b) with Hamming distance <= maxHamming (<= 3:
    * the 4x16 pigeonhole guarantee covers up to 3; wider thresholds would
    * need more blocks). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame =
    hammingPairs(simhashes(df, idCol, textCol), maxHamming)

  /** Pigeonhole hamming-pair join over ANY 64-bit signature table
    * `(_id, simhash)` — shared by text simhash, the perceptual image and
    * payload hashes and the audio fingerprint: the signature splits into 4
    * blocks of 16 bits, any pair within hamming <= 3 agrees on a whole
    * block, so candidates come from [[Banding.pairs]] over the blocks and
    * an exact `bit_count` verify follows. (a, b, hamming), a < b. */
  def hammingPairs(sig: DataFrame, maxHamming: Int): DataFrame =
    hammingPairs(sig, maxHamming, Banding.RowsPerTask)

  private[graft] def hammingPairs(
      sig: DataFrame, maxHamming: Int, rowsPerTask: Long): DataFrame = {
    require(maxHamming <= 3, "4 blocks of 16 bits guarantee recall only for hamming <= 3")
    Banding.pairs(sig.select(col("_id"), col("simhash").as("_sig")), 4,
        (s, j) => shiftrightunsigned(s, j * 16).bitwiseAND(0xFFFFL), rowsPerTask)
      .select(col("a"), col("b"),
        bit_count(col("_siga").bitwiseXOR(col("_sigb"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
