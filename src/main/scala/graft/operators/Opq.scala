package graft.operators

import dev.ludovic.netlib.blas.BLAS
import dev.ludovic.netlib.lapack.LAPACK
import graft.functions.{ArrayMath, RotMat}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.netlib.util.intW

/** Optimized Product Quantization — OPQ (Ge, He, Ke, Sun, "Optimized
  * Product Quantization for Approximate Nearest Neighbor Search",
  * CVPR 2013): learn an ORTHOGONAL rotation R so that PQ's independent
  * per-subspace codebooks quantize R·v instead of v. Plain PQ's subspaces
  * are an arbitrary dimension split — when the data's variance is
  * concentrated or correlated across that split, whole subspaces carry
  * near-zero signal while others are under-coded, and ADC recall collapses.
  * The rotation re-balances (eigenvalue allocation) and de-correlates
  * (Procrustes alternation) the split at ZERO storage or query cost: codes
  * stay m bytes, the query is rotated once per search.
  *
  * Training is the published non-parametric alternation seeded by the
  * parametric init:
  *
  *  1. init: eigen-decompose the sample's second moment and allocate
  *     eigenvectors to the m subspaces balancing the log-eigenvalue sum
  *     per bucket (Ge et al. §4's eigenvalue allocation) — R starts as a
  *     signal-balancing permuted eigenbasis, identity-like on isotropic
  *     data;
  *  1. alternate: train subspace codebooks on R·x (Lloyd, deterministic
  *     first-k-by-order init, the [[Similarity.kMeans]] conventions), then
  *     solve the orthogonal Procrustes problem R = argmin Σ‖R·x − q(x)‖²
  *     via one d×d SVD (R = V·Uᵀ for Σ x·q(x)ᵀ = U·S·Vᵀ).
  *
  * Scale shape: rotation and codebooks are MODEL PARAMETERS — like every
  * production quantizer they train on a bounded deterministic sample
  * (`maxSample` smallest ids, one TakeOrdered collect of ≤ maxSample×d
  * doubles). The alternation runs on the driver over that sample, calling
  * LAPACK dsyev/dgesdd and BLAS dgemm directly through netlib. Their first
  * call in a fresh JVM at d=64 costs about 0.4 s on a 4-core Xeon, 0.28 s
  * of it netlib's instance lookup; the same calls made through a Scala
  * matrix library cost 1.8–2.0 s there, mostly its class initialization.
  * The corpus-sized paths stay fully distributed pure projections: encode
  * is one fused rotate+assign codegen pass
  * ([[graft.functions.MatVec]] + [[graft.functions.PqCodec]]), search is
  * the same ADC TakeOrdered as plain PQ with the query rotated once on the
  * driver. Nothing about the 100 TB plan changes — only the codebook
  * geometry.
  *
  * Reference analog: none (wrds2pg stops at ETL); this extends §2.4's
  * similarity surface where [[ProductQuantizer]] left recall on
  * anisotropic data.
  */
object Opq {

  /** Rotation (d×d row-major) + the subspace codebooks trained in the
    * rotated space. `pq` is a plain [[ProductQuantizer.PqModel]], so every
    * downstream PQ surface (ADC, residuals, index layouts) composes. */
  case class OpqModel(d: Int, rotFlat: Array[Double], pq: ProductQuantizer.PqModel) {
    require(rotFlat.length == d * d, "rotation must be d*d")
    def rot: RotMat = new RotMat(d, rotFlat)
    /** R·v as a column (codegen mat-vec; fuses into the encode projection). */
    def rotateCol(v: Column): Column = ArrayMath.matVec(v, rot)
    /** R·q driver-side (queries rotate once, not per row). */
    def rotate(q: Seq[Double]): Seq[Double] = rot.rotate(q.toArray).toSeq
  }

  // ------------------------------------------------------- driver math

  /** Eigenvalue-allocation init (Ge et al. §4): eigenvectors of the
    * sample second moment, greedily dealt (descending eigenvalue) to the
    * bucket with the smallest running log-eigenvalue sum that still has
    * room — balancing per-subspace signal. Rows of R (row-major) = the
    * bucketed eigenvectors, so subspace j of R·x spans bucket j's
    * eigendirections. */
  private def eigAllocInit(x: Array[Array[Double]], m: Int, dsub: Int): Array[Double] = {
    val d = x.head.length
    val mom = new Array[Double](d * d)
    x.foreach { v =>
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { mom(i + j * d) += v(i) * v(j); j += 1 }
        i += 1
      }
    }
    val scale = 1.0 / x.length
    val (evals, evecs) = eigSym(mom.map(_ * scale), d)
    // ascending from dsyev → walk indices descending
    val order = (0 until d).sortBy(i => -evals(i))
    val logSum = new Array[Double](m)
    val buckets = Array.fill(m)(List.newBuilder[Int])
    val fill = new Array[Int](m)
    order.foreach { ei =>
      val j = (0 until m).filter(fill(_) < dsub).minBy(logSum(_))
      buckets(j) += ei
      fill(j) += 1
      logSum(j) += math.log(math.max(evals(ei), 1e-12))
    }
    buckets.flatMap(_.result()).flatMap(ei => evecs.slice(ei * d, ei * d + d))
  }

  /** Per-subspace Lloyd with the [[ProductQuantizer]] conventions: init =
    * first k sample rows (sample is id-ordered, so this is the
    * first-k-by-id rule), assignment = argmax(dot − |c|²/2) ties to the
    * lowest cell, empty cells keep their centroid. */
  private def trainBooks(
      xr: Array[Array[Double]], m: Int, k: Int, dsub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    (0 until m).toArray.map { j =>
      val s = xr.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = s.take(k).map(_.clone)
      (1 to iters).foreach { _ =>
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Long](k)
        s.foreach { v =>
          val c = assign(cents, v)
          counts(c) += 1
          var i = 0
          while (i < dsub) { sums(c)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }

  private def assign(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < cents.length) {
      val cc = cents(c)
      var dot = 0.0
      var nn = 0.0
      var i = 0
      while (i < cc.length) { dot += v(i) * cc(i); nn += cc(i) * cc(i); i += 1 }
      val s = dot - nn / 2.0
      if (s > best) { best = s; bestC = c }
      c += 1
    }
    bestC
  }

  private def reconstruct(
      books: Array[Array[Array[Double]]], v: Array[Double], dsub: Int): Array[Double] = {
    val out = new Array[Double](v.length)
    var j = 0
    while (j < books.length) {
      val sub = java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)
      val c = books(j)(assign(books(j), sub))
      System.arraycopy(c, 0, out, j * dsub, dsub)
      j += 1
    }
    out
  }

  /** Orthogonal Procrustes: R = argmin_{RᵀR=I} Σ‖R·xᵢ − yᵢ‖², solved as
    * R = V·Uᵀ for B = Σ xᵢ·yᵢᵀ = U·S·Vᵀ (maximizes tr(R·B)); R row-major. */
  private def procrustes(
      x: Array[Array[Double]], y: Array[Array[Double]]): Array[Double] = {
    val d = x.head.length
    val b = new Array[Double](d * d)
    var n = 0
    while (n < x.length) {
      val xv = x(n); val yv = y(n)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { b(i + j * d) += xv(i) * yv(j); j += 1 }
        i += 1
      }
      n += 1
    }
    val r = procrustesRotation(b, d)
    Array.tabulate(d * d)(k => r(k / d + (k % d) * d))
  }

  // LAPACK and BLAS through netlib (in Spark's own jars) on column-major
  // d×d arrays, with no matrix library between: its one-time class
  // initialization cost about a second of driver time in a fresh JVM. The
  // routines, arguments and workspace sizes are the ones the models were
  // first trained through, so the bits are unchanged (OpqSpec pins them).

  /** Eigenvalues (ascending) and eigenvectors (column i for eigenvalue i,
    * column-major) of the symmetric column-major d×d `a`: LAPACK dsyev on
    * a copy of its lower triangle. */
  private[graft] def eigSym(a: Array[Double], d: Int): (Array[Double], Array[Double]) = {
    val v = new Array[Double](d * d)
    var j = 0
    while (j < d) { System.arraycopy(a, j * d + j, v, j * d + j, d - j); j += 1 }
    val w = new Array[Double](d)
    val lwork = math.max(1, 3 * d - 1)
    val info = new intW(0)
    LAPACK.getInstance.dsyev("V", "L", d, v, math.max(1, d), w, new Array[Double](lwork),
      lwork, info)
    lapackOk("dsyev", info)
    (w, v)
  }

  /** R = V·Uᵀ (column-major) for the column-major d×d `b` = U·S·Vᵀ:
    * LAPACK dgesdd("A"), then BLAS dgemm of the two transposes. */
  private[graft] def procrustesRotation(b: Array[Double], d: Int): Array[Double] = {
    val (u, s, vt) = (new Array[Double](d * d), new Array[Double](d), new Array[Double](d * d))
    val work = new Array[Double](3 * d * d + math.max(d, 4 * d * d + 4 * d))
    val info = new intW(0)
    LAPACK.getInstance.dgesdd("A", d, d, b.clone, math.max(1, d), s, u, math.max(1, d),
      vt, math.max(1, d), work, work.length, new Array[Int](8 * d), info)
    lapackOk("dgesdd", info)
    val r = new Array[Double](d * d)
    BLAS.getInstance.dgemm("T", "T", d, d, d, 1.0, vt, d, u, d, 0.0, r, d)
    r
  }

  private def lapackOk(routine: String, info: intW): Unit =
    if (info.`val` != 0)
      throw new IllegalStateException(s"Opq: LAPACK $routine failed with info=${info.`val`}")

  // ------------------------------------------------------- public API

  /** Train rotation + codebooks on the `maxSample` smallest-id rows (one
    * bounded TakeOrdered collect — model fitting, not a corpus pass).
    * `opqIters` full alternations; the returned books are trained under
    * the final rotation. */
  def train(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 16, lloydIters: Int = 8, opqIters: Int = 4,
      maxSample: Int = 16384): OpqModel =
    trainOn(df.orderBy(col(idCol)).limit(maxSample).select(col(vecCol)),
      m, k, lloydIters, opqIters)

  /** [[train]] on an id-ordered sample's one vector column, collected
    * here; the dimension is the collected rows'. */
  private[graft] def trainOn(
      sample: DataFrame, m: Int, k: Int, lloydIters: Int, opqIters: Int): OpqModel = {
    require(k >= 1 && k <= 256, s"tinyint codes hold at most 256 cells, got k=$k")
    require(opqIters >= 1, "need opqIters >= 1")
    val (x, dim) = Similarity.sampleVectors(sample, "Opq.train")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    require(x.length >= k, s"need >= $k sample rows to seed codebooks, got ${x.length}")
    var r = new RotMat(dim, eigAllocInit(x, m, dsub))
    var books: Array[Array[Array[Double]]] = null
    var t = 0
    while (t < opqIters) {
      val xr = x.map(r.rotate)
      books = trainBooks(xr, m, k, dsub, lloydIters)
      if (t < opqIters - 1)
        r = new RotMat(dim, procrustes(x, xr.map(reconstruct(books, _, dsub))))
      t += 1
    }
    OpqModel(dim, r.flat,
      ProductQuantizer.PqModel(m, dsub,
        books.toSeq.map(_.toSeq.map(_.toSeq))))
  }

  /** Encode the corpus: one fused rotate+assign projection per row —
    * (idCol, pq_code array<tinyint>, pq_norm float), through
    * [[ProductQuantizer.codeCols]]. ‖R·v‖ = ‖v‖, so the norm comes off the
    * raw vector without a second mat-vec. */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: OpqModel): DataFrame =
    df.select(col(idCol) +:
      ProductQuantizer.codeCols(col(vecCol), model.pq, rotation = Some(model.rot)): _*)

  /** ADC top-k over an [[encode]]d corpus: rotate the query once, then the
    * plain-PQ scorer — same TakeOrdered, zero shuffles. */
  def adcTopK(
      encoded: DataFrame, idCol: String, model: OpqModel,
      query: Seq[Double], k: Int, excludeId: Option[Long] = None): DataFrame =
    ProductQuantizer.adcTopK(encoded, idCol, model.pq, model.rotate(query), k, excludeId)

  /** ADC shortlist + exact re-rank (the deployed form, through
    * [[ProductQuantizer.rerankTopK]]'s re-ranker): codes shortlist in
    * rotated space, the exact cosine runs on the RAW vectors of the
    * shortlist only. */
  def rerankTopK(
      raw: DataFrame, idCol: String, vecCol: String,
      encoded: DataFrame, model: OpqModel, query: Seq[Double],
      k: Int, shortlist: Int = 100, excludeId: Option[Long] = None): DataFrame =
    ProductQuantizer.rerank(raw, idCol, vecCol, encoded, model.pq,
      model.rotate(query), lit(0.0), query, k, shortlist, excludeId)
}
