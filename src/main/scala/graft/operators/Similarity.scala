package graft.operators

import graft.functions.{ArrayMath, CentroidTable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design (SURVEY §4): brute force is a single O(N) scan with a
  * codegen'd dot product against the (tiny, single-literal) query vector,
  * finished by TakeOrdered top-k — no shuffle of the corpus. IVF buckets the
  * corpus by nearest centroid: one codegen node over a reference-held
  * [[graft.functions.CentroidTable]], so planning cost does not grow with
  * C; a query then scans only the `nprobe` closest buckets. On a real
  * cluster the assignment is written bucket-partitioned so a probe prunes
  * to nprobe partitions of ~N/C vectors.
  */
object Similarity {

  /** Cosine between a vector column and a literal query vector, with
    * [[ArrayMath.cosine]]'s arithmetic. The query norm is folded once on
    * the driver and bound by reference ([[ArrayMath.bound]]), so probes
    * with different queries share one compiled plan. */
  def cosineToQuery(vecCol: Column, query: Seq[Double]): Column =
    ArrayMath.dot(vecCol, ArrayMath.vecLit(query)) /
      (ArrayMath.norm2(vecCol) * ArrayMath.bound(ArrayMath.norm(query)))

  /** Exact top-k by cosine against `query` (excluding `excludeId` if set,
    * an id bound by reference like the query norm). */
  def bruteTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.map(i => df.where(col(idCol) =!= ArrayMath.bound(i))).getOrElse(df)
    base
      .withColumn("cosine", round(cosineToQuery(col(vecCol), query), 6))
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch k-NN join: for every query row, the k nearest corpus rows by
    * cosine. The query side is broadcast (queries are the small side by
    * construction); corpus and query norms are computed ONCE per row before
    * the pair expansion, so each of the |Q|·|N| candidate pairs costs a
    * single codegen'd dot product. Per-query top-k is a window row_number —
    * the only shuffle, keyed by query_id. */
  def knnJoin(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("_cv"))
      .withColumn("_cn", ArrayMath.norm2(col("_cv")))
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("_qv"))
      .withColumn("_qn", ArrayMath.norm2(col("_qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col(idCol).asc)
    c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .withColumn("cosine", ArrayMath.dot(col("_cv"), col("_qv")) / (col("_cn") * col("_qn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col(idCol), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Assigns each vector to its nearest centroid: cosine argmax, ties to
    * the lowest centroid index, a null vector to a null bucket. One
    * projection through [[graft.functions.CentroidTable]], which refuses
    * an empty or ragged centroid list, a zero-norm centroid or vector and a
    * vector whose length is not the centroid dim, each by name. Output:
    * (id, vec, bucket). */
  def assignBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol), col(vecCol).as(vecCol),
      ArrayMath.nearestCentroid(col(vecCol), centroids).as("bucket"))

  /** Deterministic k-means-lite (Lloyd) centroid training for IVF.
    *
    * Init is the first C vectors by id (deterministic, no RNG); each round
    * is ONE Spark job, [[lloydSums]]: every partition assigns its vectors
    * through the [[graft.functions.CentroidTable]] kernel [[assignBuckets]]
    * runs and folds a (count, sum) per bucket, C×dim doubles at most; a
    * shuffle keyed by bucket merges the partials on the executors, and
    * the driver turns the C merged sums into per-bucket means. No
    * aggregate to compile, so this one loop serves every C. Rounds are
    * few and fixed (the centroids only gate recall, not correctness).
    * Empty buckets keep their previous centroid. The dimension is the init
    * rows'. `kMeans(iters = 2)` runs 3 jobs: the init collect, which also
    * fills the loop's cache, and one per round. */
  def kMeans(
      df: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int): Seq[Seq[Double]] = {
    require(c > 0, s"kMeans: c must be > 0, got $c")
    // Lloyd re-scans the corpus every round (init + one pass per
    // iteration): cache the two columns it reads for the loop's lifetime —
    // the classic iterative-ML persist — and release before returning.
    // A caller's frame cached with exactly these columns is the same cache
    // entry: read it, and leave it cached.
    val selected = df.select(col(idCol), col(vecCol))
    val owned = selected.storageLevel == StorageLevel.NONE
    val vecs = if (owned) selected.cache() else selected
    try {
      val (init, dim) =
        sampleVectors(vecs.orderBy(col(idCol)).limit(c).select(col(vecCol)), "kMeans")
      var centroids: Seq[Seq[Double]] = init.map(_.toSeq).toSeq
      (1 to iters).foreach { _ =>
        val table = CentroidTable(centroids)
        val (n, s) = lloydSums(vecs.select(col(vecCol)), c, dim)((_, v, f) => table.nearest(v, f))
        centroids = centroids.indices.map(b =>
          if (n(b) == 0) centroids(b) else (0 until dim).map(i => s(b * dim + i) / n(b).toDouble))
      }
      centroids
    } finally { if (owned) vecs.unpersist(); () }
  }

  /** One Lloyd round's per-cell `(count, sum vector)` over `rows`, whose
    * column 0 is a float or double vector of length `width`: ONE Spark job,
    * shared by [[kMeans]] and [[ProductQuantizer.train]].
    * `cell(row, vec, isFloat)` picks a row's cell in `[0, cells)`; a null
    * vector is skipped. Each partition reads its vectors as primitive
    * floats or doubles and folds them in row order, from 0.0, into
    * `cells × width` sums, then emits only the cells it touched, keyed by
    * (cell, partition index). A shuffle routes each cell's partials to one
    * reducer, sorted by that key, which adds them in partition-index order,
    * from 0.0. These are the bits of a `groupBy(cell)` sum aggregate whose
    * shuffle delivers its map-side partials in map order, whatever order
    * the blocks actually arrive in. The partials merge on the executors:
    * the driver receives at most `cells × width` sums, however many
    * partitions the input has. Sums are flat: `sums(c * width + i)`. */
  private[graft] def lloydSums(rows: DataFrame, cells: Int, width: Int)(
      cell: (InternalRow, ArrayData, Boolean) => Int): (Array[Long], Array[Double]) = {
    val isFloat = rows.schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case t => throw new IllegalArgumentException(
        s"Lloyd round: vectors must be array<float|double>, got ${t.catalogString}")
    }
    val input = rows.queryExecution.toRdd
    val partials = input.mapPartitionsWithIndex { (p, it) =>
      val n = new Array[Long](cells)
      val s = new Array[Double](cells * width)
      it.foreach { row =>
        if (!row.isNullAt(0)) {
          val v = row.getArray(0)
          require(v.numElements() == width,
            s"Lloyd round: vector length ${v.numElements()} != $width")
          val c = cell(row, v, isFloat)
          n(c) += 1
          val base = c * width
          var i = 0
          while (i < width) {
            if (!v.isNullAt(i)) s(base + i) += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i))
            i += 1
          }
        }
      }
      Iterator.range(0, cells).filter(n(_) > 0).map(c =>
        ((c, p), (n(c), java.util.Arrays.copyOfRange(s, c * width, (c + 1) * width))))
    }
    val merged = partials
      .repartitionAndSortWithinPartitions(new CellPartitioner(math.min(cells, input.getNumPartitions)))
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[(Int, Long, Array[Double])] {
          override def hasNext: Boolean = in.hasNext
          override def next(): (Int, Long, Array[Double]) = {
            val c = in.head._1._1
            var n = 0L
            val s = new Array[Double](width)
            while (in.hasNext && in.head._1._1 == c) {
              val (pn, ps) = in.next()._2
              n += pn
              var i = 0
              while (i < width) { s(i) += ps(i); i += 1 }
            }
            (c, n, s)
          }
        }
      }
      .collect()
    val n = new Array[Long](cells)
    val s = new Array[Double](cells * width)
    merged.foreach { case (c, cn, cs) =>
      n(c) = cn
      System.arraycopy(cs, 0, s, c * width, width)
    }
    (n, s)
  }

  /** Vector dimensionality from the first row — a loud, named refusal on
    * an empty corpus (training/banding cannot infer a dim from nothing;
    * an empty input otherwise surfaces as a bare NoSuchElementException
    * deep in a driver-side head()). */
  private[graft] def vecDim(df: DataFrame, vecCol: String, who: String): Int = {
    val row = df.select(size(col(vecCol))).limit(1).collect()
    require(row.nonEmpty, s"$who: input has no rows - cannot infer vector dimension")
    row.head.getInt(0)
  }

  /** A sample's one vector column, collected as doubles in row order,
    * with the dimension its rows share — a named refusal on no rows (no
    * dimension to infer) and on rows of different lengths. The model
    * trainers seed from these rows, so the dimension costs no job of its
    * own. */
  private[graft] def sampleVectors(sample: DataFrame, who: String): (Array[Array[Double]], Int) = {
    val x = sample.collect()
      .map(_.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue()).toArray)
    require(x.nonEmpty, s"$who: input has no rows - cannot infer vector dimension")
    val lens = x.map(_.length).distinct
    require(lens.length == 1, s"$who: ragged sample vectors - lengths ${lens.mkString(", ")}")
    (x, lens.head)
  }

  /** The `nprobe` bucket indices whose centroids are cosine-closest to the
    * query (driver-side — C×dim doubles; ties take the lower index). */
  private[operators] def probeBuckets(
      centroids: Seq[Seq[Double]], query: Seq[Double], nprobe: Int): Seq[Int] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    centroids.zipWithIndex
      .sortBy { case (c, i) => (-cos(c, query), i) }
      .take(nprobe).map(_._2)
  }

  /** IVF top-k: search only the `nprobe` buckets whose centroids are closest
    * to the query. Approximate — recall vs bruteTopK is measured in specs.
    *
    * NOTE: this variant re-derives bucket assignments from the raw corpus —
    * one full (codegen, shuffle-free) scan per query. That is the right shape
    * for ad-hoc queries over data that is already in memory or queried once;
    * for repeated queries at scale use [[VectorIndex.writeIvf]] +
    * [[VectorIndex.ivfTopK]], where the probe reads only nprobe
    * bucket-partitioned directories. The probed-bucket list is bound by
    * reference ([[ArrayMath.isIn]]), like the query norm, so a warm probe
    * with a new query compiles no class. */
  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], query: Seq[Double],
      nprobe: Int, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val probe = probeBuckets(centroids, query, nprobe)
    val buckets = assignBuckets(df, idCol, vecCol, centroids)
      .where(ArrayMath.isIn(col("bucket"), probe))
    bruteTopK(buckets, idCol, vecCol, query, k, excludeId)
  }

  /** Seeded Gaussian hyperplanes for random-hyperplane (cosine) LSH —
    * java.util.Random's sequence is specified, so every executor and every
    * run derives identical planes from the seed. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket of a vector column under the given hyperplanes
    * (bit j set iff dot(vec, plane_j) >= 0) — one codegen'd dot per plane,
    * no shuffle. */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(ArrayMath.dot(vecCol, ArrayMath.vecLit(p)) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Per-table multiprobe bucket sequence (Lv et al., "Multi-Probe LSH",
    * VLDB 2007): the query's own sign bucket first, then single-bit
    * perturbations in increasing |margin| order — a near-boundary
    * hyperplane is the one most likely to have put a true neighbor on the
    * other side, so flipping the smallest-margin bits first buys the most
    * recall per extra bucket probed. Driver-side (bits × dim doubles). */
  private[graft] def multiprobeBuckets(
      planes: Seq[Seq[Double]], query: Seq[Double], nprobe: Int): Seq[Int] = {
    val dots = planes.map(_.zip(query).foldLeft(0.0) { case (a, (x, y)) => a + x * y })
    val qBucket = dots.zipWithIndex.map { case (d, j) => if (d >= 0) 1 << j else 0 }.sum
    val flips = dots.zipWithIndex.sortBy { case (d, j) => (math.abs(d), j) }
      .map { case (_, j) => qBucket ^ (1 << j) }
    qBucket +: flips.take(nprobe - 1)
  }

  /** Multi-table random-hyperplane LSH ANN — the bucketed alternative scale
    * path to [[ivfTopK]]. The classic amplification: `tables` independent
    * sign-hashes of `bitsPerTable` bits each; a corpus vector is a candidate
    * if it lands in any of the query's `nprobe` probed buckets in ANY table
    * (few bits per table keeps per-table match probability workable, many
    * tables drive recall up), then exact cosine runs only over candidates.
    * `nprobe` > 1 turns on MULTIPROBE ([[multiprobeBuckets]]): each table
    * also probes the nprobe−1 hamming-1 neighbor buckets with the smallest
    * hyperplane margins, lifting recall at ~nprobe× the candidate count
    * WITHOUT more tables (i.e. without growing the index). Each table's
    * bucket is a pure projection, so at scale the corpus is written
    * `tables` times partitioned by bucket (or one table with bucket-array +
    * explode) and a query probes `tables × nprobe` partitions of ~N/2^bits
    * rows. Approximate — recall AND candidates-scanned vs [[bruteTopK]]
    * are measured in specs.
    *
    * NOTE: like [[ivfTopK]], this variant hashes the raw corpus per query;
    * the repeated-query scale path is [[VectorIndex.writeLsh]] +
    * [[VectorIndex.lshTopK]], which reads exactly `tables × nprobe` bucket
    * directories of a materialized index. */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], bitsPerTable: Int, tables: Int, seed: Long, k: Int,
      excludeId: Option[Long] = None, nprobe: Int = 1): DataFrame = {
    require(bitsPerTable > 0 && bitsPerTable < 31 && tables > 0, "bad LSH shape")
    val byTable = hyperplanes(bitsPerTable * tables, query.length, seed)
      .grouped(bitsPerTable).toSeq
    lshTopKPlanes(df, idCol, vecCol, query, byTable, k, excludeId, nprobe)
  }

  /** [[lshTopK]] with the hyperplanes INJECTED (`byTable(t)(b)` = plane
    * `b` of table `t`) instead of seed-derived — the exact same bucketing
    * ([[lshBucket]]), multiprobe ([[multiprobeBuckets]]) and re-rank
    * machinery, exposed so a caller (q158's full-oracle gate) can plant
    * engine-replicable planes. Each table's probed-bucket list is bound
    * by reference ([[ArrayMath.isIn]]), so a warm probe with a new query
    * compiles no class. */
  def lshTopKPlanes(
      df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], byTable: Seq[Seq[Seq[Double]]], k: Int,
      excludeId: Option[Long] = None, nprobe: Int = 1): DataFrame = {
    require(byTable.nonEmpty, "bad LSH shape")
    val bitsPerTable = byTable.head.length
    require(bitsPerTable > 0 && bitsPerTable < 31 &&
      byTable.forall(_.length == bitsPerTable), "bad LSH shape")
    require(nprobe >= 1 && nprobe <= bitsPerTable + 1,
      s"nprobe must be in [1, bitsPerTable + 1 = ${bitsPerTable + 1}]")
    val candidateCond = byTable.map { planes =>
      val probes = multiprobeBuckets(planes, query, nprobe)
      ArrayMath.isIn(lshBucket(col(vecCol), planes), probes)
    }.reduce(_ || _)
    bruteTopK(df.where(candidateCond), idCol, vecCol, query, k, excludeId)
  }
}

/** Routes a Lloyd partial keyed by (cell, partition index) by its cell
  * alone, so every partial of a cell meets on one reducer. */
private final class CellPartitioner(parts: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = math.max(1, parts)
  override def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1 % numPartitions
}
