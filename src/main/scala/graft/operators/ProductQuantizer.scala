package graft.operators

import graft.functions.{ArrayMath, CentroidResidual, CentroidTable, PqBooks, PqCodec, RotMat}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory-side ANN scale path.
  *
  * IVF ([[Similarity.ivfTopK]], [[VectorIndex]]) prunes WHICH rows a query
  * scans; PQ shrinks WHAT each row costs: the vector is split into `m`
  * subvectors, each snapped to one of `k` learned subspace centroids, and
  * stored as `m` byte codes + one float norm — 64 float dims (256 B)
  * become 8 B, a 32× compression, so a 100 TB embedding corpus's codes fit
  * in the page cache of a modest cluster. Scoring never reconstructs:
  * the query builds an m×k lookup table of subspace dot products once, and
  * each row's approximate dot is `m` table lookups (asymmetric distance
  * computation), a pure codegen'd projection over the code column.
  *
  * Training piggybacks on the [[Similarity.kMeans]] design (deterministic
  * first-k-by-id init, fixed Lloyd rounds, empty cells keep their
  * centroid) but runs ALL `m` subspace k-means in the same jobs: the
  * corpus explodes once into (row, subspace, subvector) and every Lloyd
  * round is ONE job through kMeans' reduction ([[Similarity.lloydSums]]):
  * each partition assigns and sums its subvectors into m×k×dsub doubles,
  * regardless of corpus size, and a shuffle keyed by (subspace, cell)
  * merges them on the executors, so m×k×dsub doubles reach the driver.
  * L2 cells (the PQ objective), via the |v−c|² = |c|²−2v·c expansion so
  * each candidate costs one dot.
  *
  * Approximate by construction; recall against [[Similarity.bruteTopK]]
  * is spec-measured (clustered fixture pinned, corpus measured), like the
  * IVF/LSH family. Reference analog: none — wrds2pg stops at ETL; this is
  * §2.4's similarity-search surface at the compressed-storage point.
  */
object ProductQuantizer {

  /** `books(j)(i)` = centroid `i` of subspace `j`, each of length `dsub`. */
  case class PqModel(m: Int, dsub: Int, books: Seq[Seq[Seq[Double]]]) {
    require(books.length == m && books.forall(_.forall(_.length == dsub)))
    def k: Int = books.head.length
    /** The flat-array form the codegen codec expressions execute against. */
    def toBooks: PqBooks = ProductQuantizer.flatten(m, dsub, books)
  }

  /** Pack nested codebooks into the [[PqBooks]] layout
    * (`flat((j*k+c)*dsub + i) = books(j)(c)(i)`). */
  private def flatten(m: Int, dsub: Int, books: Seq[Seq[Seq[Double]]]): PqBooks = {
    val k = books.head.length
    val flat = new Array[Double](m * k * dsub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < k) {
        var i = 0
        while (i < dsub) {
          flat((j * k + c) * dsub + i) = books(j)(c)(i)
          i += 1
        }
        c += 1
      }
      j += 1
    }
    new PqBooks(m, k, dsub, flat)
  }

  /** Train m×k subspace codebooks with `iters` Lloyd rounds.
    *
    * One cached (row, subspace, subvector) explode feeds every round; a
    * round is ONE job ([[Similarity.lloydSums]] keyed by (subspace, cell)):
    * m×k dots per row — the PQ training cost — through the
    * [[graft.functions.PqBooks]] kernel, and m×k×dsub doubles of partial
    * sums per partition, merged on the executors. No round reads the
    * explode's `_id`, but the fan-out's round-robin exchange sorts rows by
    * their hash, `_id` included, before dealing them out: without it
    * subvectors change partitions, and double sums (the residual
    * trainer's) change their order of addition. The dimension is the
    * seed rows' (the first k by id). */
  def train(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 16, iters: Int = 2): PqModel = {
    val (first, dim) = Similarity.sampleVectors(
      df.orderBy(col(idCol)).limit(k).select(col(vecCol)), "ProductQuantizer.train")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(first.length == k, s"need >= $k rows to seed codebooks")
    val dsub = dim / m
    val subRows = graft.core.Par.fanOut(
      df.select(col(idCol).as("_id"),
        posexplode(array((0 until m).map(j =>
          slice(col(vecCol), j * dsub + 1, dsub)): _*)).as(Seq("_j", "_sv"))))
      .cache()
    try {
      var books: Seq[Seq[Seq[Double]]] =
        (0 until m).map(j => first.toSeq.map(v => v.slice(j * dsub, (j + 1) * dsub).toSeq))
      (1 to iters).foreach { _ =>
        val bk = flatten(m, dsub, books)
        val (n, s) = Similarity.lloydSums(subRows.select(col("_sv"), col("_j")), m * k, dsub) {
          (row, sv, f) =>
            val j = row.getInt(1)
            j * k + bk.nearest(j, sv, 0, f)
        }
        books = books.zipWithIndex.map { case (book, j) =>
          book.indices.map { c =>
            val cell = j * k + c
            if (n(cell) == 0) book(c)
            else (0 until dsub).map(i => s(cell * dsub + i) / n(cell).toDouble)
          }
        }
      }
      PqModel(m, dsub, books)
    } finally { subRows.unpersist(); () }
  }

  /** The code column for `vecCol` under `model` (array<tinyint>, one cell
    * per subspace) — exposed so index writers can encode inside their own
    * projection instead of joining an encoded copy back on. */
  def codeCol(vecCol: Column, model: PqModel): Column = {
    require(model.k <= 256, "tinyint codes hold at most 256 cells")
    PqCodec.encode(vecCol, model.toBooks)
  }

  /** Float L2 norm column (for cosine at query time). */
  def normCol(vecCol: Column): Column = ArrayMath.norm2(vecCol).cast("float")

  /** `vec − centroid(bucket)` as array<double> — the residual classic
    * IVF-PQ quantizes (Jégou 2011 §IV): after coarse assignment the
    * per-bucket mean is gone from the signal, so the same m×k code budget
    * quantizes the (much smaller) within-bucket offsets instead of
    * absolute positions — on clustered data plain PQ spends its codes
    * re-stating the cluster and collapses within it, exactly where the
    * search happens. Pure projection, zero shuffles: one codegen node
    * reading the C×dim centroids by reference
    * ([[graft.functions.CentroidTable]]), so a new centroid set compiles
    * no class. A vector whose length is not the centroids' is refused by
    * name. */
  def residualCol(vecCol: Column, bucketCol: Column, centroids: Seq[Seq[Double]]): Column =
    ColumnShim.column(CentroidResidual(ColumnShim.expression(vecCol),
      ColumnShim.expression(bucketCol.cast("int")), CentroidTable(centroids)))

  /** The PQ row encoding every encoder and index writer shares:
    * `pq_code` of `vec` — of its residual against `centroids` by
    * `bucket` when `residual` is `(bucket, centroids)`, then rotated by
    * `rotation` when one is given — and `pq_norm`, the float L2 norm of
    * the raw `vec` (‖R·v‖ = ‖v‖, so a rotation needs no second norm). */
  private[graft] def codeCols(
      vec: Column, model: PqModel,
      residual: Option[(Column, Seq[Seq[Double]])] = None,
      rotation: Option[RotMat] = None): Seq[Column] = {
    val src = residual.fold(vec) { case (bucket, centroids) => residualCol(vec, bucket, centroids) }
    Seq(codeCol(rotation.fold(src)(ArrayMath.matVec(src, _)), model).as("pq_code"),
      normCol(vec).as("pq_norm"))
  }

  /** Encode the corpus: `idCol`, `pq_code` (array<tinyint>, one cell per
    * subspace) and `pq_norm` (float L2 norm, for cosine at query time) —
    * m + 4 bytes of payload per row. Pure projection, zero shuffles. */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    df.select(col(idCol) +: codeCols(col(vecCol), model): _*)

  /** ADC shortlist + exact re-rank — how PQ deploys in practice. ADC alone
    * cannot rank WITHIN a quantization cell (every vector snapping to the
    * same code tuple scores identically — on clustered data that is exactly
    * the neighborhood being searched), so the codes produce a cheap
    * `shortlist` and only those rows load their raw vectors for exact
    * cosine: the shortlist ids broadcast back onto the corpus (a semi-join
    * the planner turns into a broadcast hash probe — the corpus never
    * shuffles; at 100 TB the fetch is a point lookup per id against the
    * id-sorted store, not a scan). Exact-rank cost is bounded by
    * `shortlist`, not corpus size. */
  def rerankTopK(
      raw: DataFrame, idCol: String, vecCol: String,
      encoded: DataFrame, model: PqModel, query: Seq[Double],
      k: Int, shortlist: Int = 100, excludeId: Option[Long] = None): DataFrame =
    rerank(raw, idCol, vecCol, encoded, model, query, lit(0.0), query, k, shortlist, excludeId)

  /** The one shortlist re-ranker ([[rerankTopK]], [[Opq.rerankTopK]],
    * [[VectorIndex.ivfTopKPq]]): [[adcTopK]] of `adcQuery` (the query in
    * code space — rotated for OPQ) plus `dotOffset` picks `shortlist` ids,
    * and the exact cosine to `query` ranks their raw rows. */
  private[graft] def rerank(
      raw: DataFrame, idCol: String, vecCol: String,
      encoded: DataFrame, model: PqModel, adcQuery: Seq[Double], dotOffset: Column,
      query: Seq[Double], k: Int, shortlist: Int, excludeId: Option[Long]): DataFrame = {
    require(shortlist >= k, "shortlist must cover k")
    val short = adcTopK(encoded, idCol, model, adcQuery, shortlist, excludeId, dotOffset)
      .select(col(idCol))
    Similarity.bruteTopK(
      raw.join(broadcast(short), Seq(idCol), "left_semi"),
      idCol, vecCol, query, k, excludeId)
  }

  /** Approximate cosine top-k over an encoded corpus (asymmetric distance):
    * the query's m×k dot-product table becomes literal arrays, each row
    * costs m `element_at` lookups + one divide, and the result is a
    * TakeOrdered — no shuffle, no reconstruction, the raw vectors never
    * load. Ties break by id ascending (the brute/IVF/LSH convention).
    *
    * `dotOffset` adds a per-row constant to the approximate dot before
    * normalizing — residual indexes pass `q·centroid(bucket)` here, since
    * their codes reconstruct `v − centroid` and
    * `q·v ≈ q·c_b + q·residual̂`. The lookup tables are array literals,
    * and the query norm and `excludeId` are [[ArrayMath.bound]]: generated
    * code holds them all by reference, so a new query or excluded id
    * reuses the compiled plan. */
  def adcTopK(
      encoded: DataFrame, idCol: String, model: PqModel,
      query: Seq[Double], k: Int, excludeId: Option[Long] = None,
      dotOffset: Column = lit(0.0)): DataFrame = {
    val qNorm = ArrayMath.bound(ArrayMath.norm(query))
    val luts = ArrayMath.vecsLit((0 until model.m).map { j =>
      val qj = query.slice(j * model.dsub, (j + 1) * model.dsub)
      model.books(j).map(c => c.zip(qj).map { case (a, b) => a * b }.sum)
    })
    // tinyint codes are SIGNED on the wire: cells >= 128 (k up to 256)
    // round-trip as negative bytes, so mask back to unsigned before the
    // 1-based lookup — element_at(arr, -n) would silently read from the END
    val dotApprox = (0 until model.m).map(j =>
      element_at(luts.getItem(j),
        col("pq_code").getItem(j).cast("int").bitwiseAND(lit(255)) + 1))
      .reduce(_ + _) + dotOffset
    val base = excludeId.map(i => encoded.where(col(idCol) =!= ArrayMath.bound(i)))
      .getOrElse(encoded)
    base
      .withColumn("score", round(dotApprox / (col("pq_norm") * qNorm), 6))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
