package graft.operators

import graft.core.GraftSession.{iterPartitions, meetMass}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The LSH banding join (Leskovec, Rajaraman & Ullman, *Mining of Massive
  * Datasets*, ch. 3) behind every approximate near-dup operator: each row
  * gets one key per band, and a pair is a candidate when it shares a key in
  * some band. [[MinHashLSH.candidatePairsWith]] bands signature slices,
  * [[SimHash.hammingPairs]] the four 16-bit pigeonhole blocks and
  * [[Dedup.lshCandidates]] the sign-LSH table cells. */
object Banding {

  /** Candidate pairs per join task when the join is sized. */
  val RowsPerTask: Long = 2L * 1000 * 1000

  /** Every pair `a < b` of `df`'s `(_id: long, _sig)` rows that shares a
    * band key `key(_sig, j)`, `j < nBands` — equal and non-null — as a
    * LAZY `(a, b, _siga, _sigb)` plan. Candidates come from an equi-join
    * on (band, key) over `nBands` exploded rows per signature, never a
    * cross join. A pair sharing several bands is emitted once, at its
    * FIRST shared band, decided arithmetically from the two signatures
    * aboard the joined row: no dedupe exchange re-shuffles multi-band
    * pairs.
    *
    * Sizing: each (band, key) bucket of df rows generates C(df, 2) pairs
    * INSIDE the join task, so the join's output dwarfs its map output and
    * AQE, which coalesces by map-output bytes, would collapse the stage to
    * a few tasks each streaming the whole meet volume. One aggregate over
    * the banded rows gives the meet mass Σ C(df, 2) and the banded row
    * count. The default plan would run as many join tasks as the smaller
    * of the default parallelism and the AQE advisory-size partitions the
    * banded rows fill at ~16 B each. When the mass exceeds `rowsPerTask`
    * pairs for each of those tasks, the banded table is repartitioned on
    * (band, key) to [[graft.core.GraftSession.iterPartitions]] tasks: a
    * user-numbered count AQE never coalesces, one exchange that both join
    * sides reuse. Otherwise the default plan runs: on small corpora the
    * extra exchange only costs. One bucket's pairs cannot split across
    * tasks, so a saturated bucket still bounds a task at C(df_max, 2)
    * pairs. */
  private[graft] def pairs(
      df: DataFrame, nBands: Int, key: (Column, Int) => Column,
      rowsPerTask: Long): DataFrame = {
    // Materialized before the self-join: the two join sides are separate
    // plan instances to Catalyst (mapPartitions closures never
    // canonicalize equal), so an expensive `_sig` subtree — an image
    // decode, an md5 signature aggregate — would otherwise run twice.
    // The sizing aggregate then reads it cheaply.
    val s = df.select(col("_id"), col("_sig")).localCheckpoint()
    val sizes = s.select(posexplode(array((0 until nBands).map(j => key(col("_sig"), j)): _*))
        .as(Seq("band", "key")))
      .groupBy("band", "key").agg(count(lit(1)).as("_df"))
      .agg(meetMass(col("_df")), coalesce(sum(col("_df")), lit(0L)))
      .head()
    join(s, nBands, key, sizes.getLong(0), sizes.getLong(1), rowsPerTask)
  }

  /** The self-join of [[pairs]] over `(_id, _sig)` rows the caller holds
    * materialized, sized as [[pairs]] documents from the caller's own
    * `mass` (the buckets' meet mass, or an upper bound on it) and
    * `bandedRows`: no checkpoint, no sizing aggregate. */
  private[graft] def join(
      s: DataFrame, nBands: Int, key: (Column, Int) => Column,
      mass: Long, bandedRows: Long, rowsPerTask: Long): DataFrame = {
    val spark = s.sparkSession
    val banded = s.select(col("_id"), col("_sig"),
      posexplode(array((0 until nBands).map(j => key(col("_sig"), j)): _*))
        .as(Seq("band", "key")))
    val advisory = spark.conf
      .getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(64L * 1024 * 1024)
    val estDefaultTasks = math.max(1L, bandedRows * 16L / advisory)
    val skip = mass <= rowsPerTask *
      math.min(spark.sparkContext.defaultParallelism.toLong, estDefaultTasks)
    val bx =
      if (skip) banded
      else banded.repartition(iterPartitions(spark, mass, rowsPerTask),
        col("band"), col("key"))
    // "shared at an earlier band" must mean exactly "the equi-join at that
    // band would have matched": plain (null-rejecting) equality, coalesced
    // to false so a null key never vetoes the whole predicate
    val firstShared =
      if (nBands == 1) lit(true)
      else !(0 until nBands - 1).map { j =>
        coalesce(col("x.band") > j &&
          key(col("x._sig"), j) === key(col("y._sig"), j), lit(false))
      }.reduce(_ || _)
    bx.as("x").join(bx.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x._id") < col("y._id"))
      .where(firstShared)
      .select(col("x._id").as("a"), col("y._id").as("b"),
        col("x._sig").as("_siga"), col("y._sig").as("_sigb"))
  }
}
