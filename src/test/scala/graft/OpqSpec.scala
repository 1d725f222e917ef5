package graft

import graft.Traced.traced
import graft.operators.{Opq, ProductQuantizer, Similarity}
import org.scalatest.funsuite.AnyFunSuite

class OpqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Anisotropic clustered fixture — the data shape OPQ exists for: an
  // 8-dim clustered latent with decaying variance, embedded in 64 dims
  // through a FIXED dense rotation so every subspace of the naive
  // dimension split sees correlated mixtures (plain PQ's worst case).
  private lazy val fixture: (Seq[(Long, Seq[Float])], org.apache.spark.sql.DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(11L)
    val dim = 64
    val latentDim = 8
    // fixed orthonormal 64x64 basis via Gram-Schmidt over seeded Gaussians
    val basis = {
      val raw = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
      for (i <- 0 until dim) {
        for (j <- 0 until i) {
          val d = raw(i).zip(raw(j)).map { case (a, b) => a * b }.sum
          for (k <- 0 until dim) raw(i)(k) -= d * raw(j)(k)
        }
        val n = math.sqrt(raw(i).map(x => x * x).sum)
        for (k <- 0 until dim) raw(i)(k) /= n
      }
      raw
    }
    val centers = IndexedSeq.fill(8)(Array.fill(latentDim)(rnd.nextGaussian()))
    val vecs = (0 until 320).map { i =>
      val c = centers(i % 8)
      // latent: clustered in 8 dims, then fast-decaying noise dims
      val z = Array.tabulate(dim) { d =>
        if (d < latentDim) c(d) + 0.2 * rnd.nextGaussian()
        else 0.5 / (d - latentDim + 2) * rnd.nextGaussian()
      }
      // embed: x = Bᵀ z — spreads every latent dim across all subspaces
      val x = Array.tabulate(dim)(k => basis.indices.map(d => basis(d)(k) * z(d)).sum)
      (i.toLong, x.map(_.toFloat).toSeq)
    }
    (vecs, vecs.toDF("vec_id", "embedding").cache())
  }

  test("rotation is orthogonal, norm-preserving, and deterministic") {
    val (_, df) = fixture
    val model = Opq.train(df, "vec_id", "embedding", m = 4, k = 16)
    val d = model.d
    // RᵀR = I
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(r => model.rotFlat(r * d + i) * model.rotFlat(r * d + j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RtR($i,$j)=$dot")
    }
    // column mat-vec == driver rotate, and norms survive
    val s = spark
    import s.implicits._
    val rows = df.limit(5).select(
      org.apache.spark.sql.functions.col("embedding"),
      model.rotateCol(org.apache.spark.sql.functions.col("embedding")).as("r"))
      .as[(Seq[Float], Seq[Double])].collect()
    rows.foreach { case (v, rv) =>
      val expect = model.rotate(v.map(_.toDouble))
      rv.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
      val n0 = math.sqrt(v.map(x => x.toDouble * x).sum)
      val n1 = math.sqrt(rv.map(x => x * x).sum)
      assert(math.abs(n0 - n1) < 1e-9, s"rotation changed the norm: $n0 -> $n1")
    }
    // deterministic under repartitioning (sample is an id-ordered TakeOrdered)
    val again = Opq.train(df.repartition(7), "vec_id", "embedding", m = 4, k = 16)
    assert(model.rotFlat.toSeq == again.rotFlat.toSeq)
    assert(model.pq.books == again.pq.books)
  }

  test("OPQ lifts raw ADC recall over plain PQ on anisotropic data; rerank >= 0.9") {
    val s = spark
    import s.implicits._
    val (vecs, df) = fixture
    val plain = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val encP = ProductQuantizer.encode(df, "vec_id", "embedding", plain).cache()
    val opq = Opq.train(df, "vec_id", "embedding", m = 4, k = 16)
    val encO = Opq.encode(df, "vec_id", "embedding", opq).cache()
    val qIds = Seq(0L, 3L, 10L, 17L, 21L, 30L)
    var rPlain = 0.0
    var rOpq = 0.0
    var rRerank = 0.0
    qIds.foreach { qid =>
      val q = vecs(qid.toInt)._2.map(_.toDouble)
      val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(qid))
        .select("vec_id").as[Long].collect().toSet
      def r(ids: Set[Long]) = (ids & brute).size.toDouble / brute.size
      rPlain += r(ProductQuantizer.adcTopK(encP, "vec_id", plain, q, 10, Some(qid))
        .select("vec_id").as[Long].collect().toSet)
      rOpq += r(Opq.adcTopK(encO, "vec_id", opq, q, 10, Some(qid))
        .select("vec_id").as[Long].collect().toSet)
      rRerank += r(Opq.rerankTopK(df, "vec_id", "embedding", encO, opq, q,
          k = 10, shortlist = 60, excludeId = Some(qid))
        .select("vec_id").as[Long].collect().toSet)
    }
    rPlain /= qIds.size; rOpq /= qIds.size; rRerank /= qIds.size
    info(s"raw ADC recall@10: plain=$rPlain opq=$rOpq; opq rerank=$rRerank")
    assert(rOpq > rPlain + 0.05,
      s"OPQ must beat plain PQ's codes on anisotropic data: $rOpq vs $rPlain")
    assert(rRerank >= 0.9, s"OPQ shortlist+rerank recall too low: $rRerank")
    encP.unpersist(); encO.unpersist(); ()
  }

  test("codes are the driver-side assignment of the rotated vectors") {
    val (vecs, df) = fixture
    val opq = Opq.train(df, "vec_id", "embedding", m = 4, k = 16)
    val got = Opq.encode(df, "vec_id", "embedding", opq)
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    def cell(j: Int, sv: Seq[Double]): Int =
      opq.pq.books(j).zipWithIndex.maxBy { case (c, i) =>
        (c.zip(sv).map { case (a, b) => a * b }.sum - c.map(x => x * x).sum / 2, -i)
      }._2
    vecs.take(40).foreach { case (id, v) =>
      val rv = opq.rotate(v.map(_.toDouble))
      val expect = (0 until 4).map(j => cell(j, rv.slice(j * 16, (j + 1) * 16)).toByte)
      assert(got(id) == expect, s"id=$id")
    }
  }

  test("full-byte budget: k=256 codes at the same 4-byte payload") {
    val (_, df) = fixture
    val opq = Opq.train(df, "vec_id", "embedding", m = 4, k = 256)
    assert(opq.pq.k == 256)
    val enc = Opq.encode(df, "vec_id", "embedding", opq)
    val codes = enc.select("pq_code").collect().map(_.getSeq[Byte](0))
    assert(codes.forall(_.length == 4), "4 tinyints per row — the same budget as k=16")
    assert(enc.schema("pq_code").dataType.simpleString == "array<tinyint>")
  }

  // Fixture for the ROTATED-RESIDUAL claim: the main fixture's anisotropy
  // lives in the cluster centers, which the coarse centroids absorb — its
  // residuals are near-isotropic and a rotation buys nothing there
  // (measured: OPQ-residual 0.22 vs plain-residual 0.28, a wash). Here the
  // centers separate cleanly (the coarse quantizer's job) and the RESIDUAL
  // itself is a basis-mixed decaying-variance latent — anisotropy the
  // centroids cannot absorb, exactly what composing OPQ into the residual
  // index is for.
  private lazy val residualFixture: (Seq[(Long, Seq[Float])], org.apache.spark.sql.DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(13L)
    val dim = 64
    val basis = {
      val raw = Array.fill(dim)(Array.fill(dim)(rnd.nextGaussian()))
      for (i <- 0 until dim) {
        for (j <- 0 until i) {
          val d = raw(i).zip(raw(j)).map { case (a, b) => a * b }.sum
          for (k <- 0 until dim) raw(i)(k) -= d * raw(j)(k)
        }
        val n = math.sqrt(raw(i).map(x => x * x).sum)
        for (k <- 0 until dim) raw(i)(k) /= n
      }
      raw
    }
    val centers = IndexedSeq.fill(8)(Array.fill(dim)(3.0 * rnd.nextGaussian()))
    val vecs = (0 until 320).map { i =>
      val c = centers(i % 8)
      val z = Array.tabulate(dim) { d =>
        if (d < 8) rnd.nextGaussian() else 0.05 * rnd.nextGaussian()
      }
      val x = Array.tabulate(dim) { k =>
        c(k) + basis.indices.map(d => basis(d)(k) * z(d)).sum
      }
      (i.toLong, x.map(_.toFloat).toSeq)
    }
    (vecs, vecs.toDF("vec_id", "embedding").cache())
  }

  test("OPQ composes into the materialized IVF-PQ index: sidecar, append, recall") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val (vecs, df) = residualFixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val opq = VectorIndex.trainResidualOpq(df, "vec_id", "embedding", centroids, m = 4, k = 16)
    val plain = VectorIndex.trainResidualPq(df, "vec_id", "embedding", centroids, m = 4, k = 16, iters = 8)

    val pathO = java.nio.file.Files.createTempDirectory("graft-ivfpqopq").toString
    val pathP = java.nio.file.Files.createTempDirectory("graft-ivfpqres").toString
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, pathO, residual = true)
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, plain, pathP, residual = true)

    // all three sidecars round-trip from the path alone
    val rot = VectorIndex.readOpqRotation(spark, pathO)
    assert(rot.isDefined, "OPQ index must carry a rotation sidecar")
    assert(rot.get._1 == 64 && rot.get._2.toSeq == opq.rotFlat.toSeq,
      "rotation must round-trip exactly")
    assert(VectorIndex.readPqMeta(spark, pathO).books == opq.pq.books)
    assert(VectorIndex.readPqResidual(spark, pathO))
    assert(VectorIndex.readOpqRotation(spark, pathP).isEmpty,
      "a plain index must read as unrotated")

    // shortlist == k isolates code quality: the rotated residual codes
    // must beat unrotated residual codes on the anisotropic fixture, at
    // the SAME byte budget through the SAME probe plan
    val qIds = Seq(0L, 3L, 10L, 17L, 21L, 30L)
    def recallOf(path: String, shortlist: Int): Double = {
      var r = 0.0
      qIds.foreach { qid =>
        val q = vecs(qid.toInt)._2.map(_.toDouble)
        val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(qid))
          .select("vec_id").as[Long].collect().toSet
        val got = VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
            nprobe = 8, k = 10, shortlist = shortlist, excludeId = Some(qid))
          .select("vec_id").as[Long].collect().toSet
        r += (got & brute).size.toDouble / brute.size
      }
      r / qIds.size
    }
    val (rp, ro) = (recallOf(pathP, 10), recallOf(pathO, 10))
    info(s"raw-ADC recall@10 inside the index: plain-residual=$rp opq-residual=$ro")
    assert(ro > rp + 0.05,
      s"OPQ-composed index ($ro) must beat plain residual ($rp) on anisotropic data")
    assert(recallOf(pathO, 60) >= 0.9, "deployed shortlist+rerank recall floor")

    // append composes through the rotation: half-build + append == one-shot
    // build, byte-equal probe output
    val pathA = java.nio.file.Files.createTempDirectory("graft-ivfpqopq-app").toString
    VectorIndex.writeIvfPqOpq(df.where(col("vec_id") < 160), "vec_id", "embedding",
      centroids, opq, pathA, residual = true)
    VectorIndex.appendIvfPq(df.where(col("vec_id") >= 160), "vec_id", "embedding", pathA)
    val q3 = vecs(3)._2.map(_.toDouble)
    def probeRows(path: String) =
      VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q3,
          nprobe = 8, k = 10, shortlist = 60, excludeId = Some(3L))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeRows(pathA) == probeRows(pathO),
      "appended index must probe identically to the one-shot build")

    // stale-sidecar guard: a plain rewrite at the same path removes the
    // rotation, so probes never rotate against fresh unrotated codes
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, plain, pathO, residual = true)
    assert(VectorIndex.readOpqRotation(spark, pathO).isEmpty,
      "plain rewrite must clear the rotation sidecar")
  }

  test("a partially published OPQ index fails loudly, and publishes clear the marker") {
    import graft.operators.VectorIndex
    val (_, df) = residualFixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val opq = VectorIndex.trainResidualOpq(df, "vec_id", "embedding", centroids, m = 4, k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft-opq-pending").toString
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    // completed publish leaves no marker, probes fine
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_opq_pending")))
    assert(VectorIndex.readOpqRotation(spark, path).isDefined)
    // simulate the crash window: rotated codes on disk, sidecar gone,
    // marker still standing — the exact state the round-8 ADVICE flagged
    // as silently mis-decoding
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/opqmeta"), true)
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_opq_pending"), true).close()
    val err = intercept[IllegalArgumentException] {
      VectorIndex.readOpqRotation(spark, path)
    }
    assert(err.getMessage.contains("partially published"))
    // re-running the publish repairs the index end-to-end
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    assert(VectorIndex.readOpqRotation(spark, path).isDefined)
    // and a completed PLAIN publish over a crashed OPQ one also clears it
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_opq_pending"), true).close()
    val plain = VectorIndex.trainResidualPq(df, "vec_id", "embedding", centroids, m = 4, k = 16, iters = 2)
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, plain, path, residual = true)
    assert(VectorIndex.readOpqRotation(spark, path).isEmpty)
  }

  test("repairIvfPqOpq: crash → refuse → repair → probe, in every torn state") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.functions.col
    val (_, df) = residualFixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val opq = VectorIndex.trainResidualOpq(df, "vec_id", "embedding", centroids, m = 4, k = 16)
    val q = df.where(col("vec_id") === 3L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    def probeRows(path: String) =
      VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
          nprobe = 8, k = 10, shortlist = 60, excludeId = Some(3L))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-opq-repair").toString
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    val healthyProbe = probeRows(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markPending(): Unit =
      fs.create(new org.apache.hadoop.fs.Path(s"$path/_opq_pending"), true).close()

    // no marker → nothing to repair, refuse rather than churn a live index
    val errNone = intercept[IllegalArgumentException] {
      VectorIndex.repairIvfPqOpq(spark, path, "vec_id", "embedding")
    }
    assert(errNone.getMessage.contains("nothing to repair"))

    // torn state A — crash right after the marker, everything else intact:
    // repair republishes the SAME index (probe is byte-identical)
    markPending()
    intercept[IllegalArgumentException] { probeRows(path) } // refuses while torn
    VectorIndex.repairIvfPqOpq(spark, path, "vec_id", "embedding")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_opq_pending")))
    assert(probeRows(path) == healthyProbe,
      "repair of a marker-only tear must republish the identical index")

    // torn state B — the r8-ADVICE window: rotation sidecar gone, codes
    // still rotated, marker standing. Repair re-encodes from raw vectors,
    // landing a CONSISTENT plain-coded index — byte-identical probes to a
    // one-shot plain build with the same books
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/opqmeta"), true)
    markPending()
    VectorIndex.repairIvfPqOpq(spark, path, "vec_id", "embedding")
    assert(VectorIndex.readOpqRotation(spark, path).isEmpty,
      "a tear that lost the rotation must repair to a plain index")
    val pathPlain = java.nio.file.Files.createTempDirectory("graft-opq-repair-p").toString
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, opq.pq, pathPlain, residual = true)
    assert(probeRows(path) == probeRows(pathPlain),
      "repaired plain index must probe identically to a one-shot plain build")

    // torn state C — the r10-ADVICE window: the crash hit INSIDE the
    // corpus job commit itself (partially committed part files, no
    // _SUCCESS receipt). Repair must REFUSE — re-encoding a partial row
    // set would republish a hole-y index as sound — and direct the caller
    // at a publish re-run, which is what restores service.
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/corpus/_SUCCESS"), false)
    markPending()
    val errTorn = intercept[IllegalArgumentException] {
      VectorIndex.repairIvfPqOpq(spark, path, "vec_id", "embedding")
    }
    assert(errTorn.getMessage.contains("_SUCCESS"), errTorn.getMessage)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_opq_pending")),
      "a refused repair must leave the marker standing (the path stays loud)")
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    assert(probeRows(path) == healthyProbe,
      "the directed remedy (publish re-run) must restore the healthy index")
  }

  // ---------------------------------------------------- sidecar memo
  // Probes and appends decode an index's sidecars once per sidecar
  // version. These cases pin that a memoized read is indistinguishable
  // from a fresh one: same rows warm and cold, every re-publish seen, the
  // torn-publish refusal intact, appended rows visible, and the job
  // savings real.

  private lazy val residualModels = {
    val (_, df) = residualFixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val opq = graft.operators.VectorIndex
      .trainResidualOpq(df, "vec_id", "embedding", centroids, m = 4, k = 16)
    (centroids, opq)
  }

  private def tempIndex(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-memo-$tag").toString

  private def probeOf(
      path: String, qid: Long, exclude: Boolean = true, nprobe: Int = 8, shortlist: Int = 60) = {
    val (vecs, _) = residualFixture
    val q = vecs(qid.toInt)._2.map(_.toDouble)
    graft.operators.VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
        nprobe = nprobe, k = 10, shortlist = shortlist,
        excludeId = if (exclude) Some(qid) else None)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("sidecar memo: warm probe == cold probe in fewer jobs; warm appends read no sidecar") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.functions.col
    val (_, df) = residualFixture
    val (centroids, opq) = residualModels
    val path = tempIndex("warm")
    VectorIndex.writeIvfPqOpq(df.where(col("vec_id") < 160), "vec_id", "embedding",
      centroids, opq, path, residual = true)
    val sidecars = Seq("meta", "pqmeta", "opqmeta").map(d => s"$path/$d")
    def sidecarScans(dirs: Seq[String]) = dirs.filter(d => sidecars.exists(d.endsWith))

    val Trace(cold, coldJobs, _, _, coldScans) = traced(probeOf(path, 3L))
    val Trace(warm, warmJobs, _, _, warmScans) = traced(probeOf(path, 3L))
    info(s"ivfTopKPq(...).collect(): $coldJobs jobs cold, $warmJobs warm")
    assert(warm == cold, "a memoized probe must return the cold probe's rows")
    assert(sidecarScans(coldScans).toSet.size == 3, s"cold probe scanned $coldScans")
    assert(sidecarScans(warmScans).isEmpty, s"warm probe re-read sidecars: $warmScans")
    assert(coldJobs <= 7, s"cold probe ran $coldJobs jobs")
    assert(warmJobs <= 3, s"warm probe ran $warmJobs jobs")

    // a warm append encodes from the memo: its only jobs are its write's
    val Trace(_, appendJobs, _, _, appendScans) = traced(
      VectorIndex.appendIvfPq(df.where(col("vec_id") >= 160), "vec_id", "embedding", path))
    info(s"warm appendIvfPq: $appendJobs jobs")
    assert(sidecarScans(appendScans).isEmpty, s"warm append re-read sidecars: $appendScans")

    // append-then-probe on the warm memo sees the appended rows, exactly
    // as a one-shot build of the same rows does
    val full = tempIndex("full")
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, full, residual = true)
    val appendedSelf = probeOf(path, 200L, exclude = false)
    assert(appendedSelf.map(_._1).contains(200L), s"appended id 200 missing: $appendedSelf")
    assert(appendedSelf == probeOf(full, 200L, exclude = false))
    assert(probeOf(path, 3L) == probeOf(full, 3L))
  }

  test("sidecar memo: a re-publish at the same path is probed as published") {
    import graft.operators.VectorIndex
    val (_, df) = residualFixture
    val (centroids, opq) = residualModels
    // two pruned cells and no re-rank slack: the rows depend on the
    // centroids, the codebooks and the rotation alike
    def probes(path: String) =
      Seq(10L, 17L, 21L, 30L).map(q => probeOf(path, q, nprobe = 2, shortlist = 10))
    val path = tempIndex("republish")
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    val opqProbe = probes(path)
    assert(probes(path) == opqProbe) // warm

    // new centroids AND new codebooks, plain over OPQ: the rotation goes
    val centroids2 = Similarity.kMeans(df, "vec_id", "embedding", c = 6, iters = 3)
    val plain2 = VectorIndex.trainResidualPq(df, "vec_id", "embedding", centroids2,
      m = 4, k = 16, iters = 3)
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids2, plain2, path, residual = true)
    val fresh = tempIndex("republish-fresh")
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids2, plain2, fresh, residual = true)
    assert(VectorIndex.readOpqRotation(spark, path).isEmpty, "stale rotation served")
    assert(VectorIndex.readIvfCentroids(spark, path) == centroids2, "stale centroids served")
    assert(VectorIndex.readPqMeta(spark, path).books == plain2.books, "stale codebooks served")
    val plainProbe = probes(path)
    assert(plainProbe == probes(fresh),
      "a re-published path must probe like a fresh path with the same index")
    assert(plainProbe != opqProbe, "the fixture must tell the two indexes apart")

    // and back to OPQ: the rotation returns with the original publish
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    assert(probes(path) == opqProbe)
  }

  test("sidecar memo: a re-publish with another vec element type refreshes the corpus schema") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.functions.col
    val (_, df) = residualFixture
    val (centroids, opq) = residualModels
    val path = tempIndex("vectype")
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true)
    probeOf(path, 17L) // warms the memo on array<float>
    val asDouble = df.withColumn("embedding", col("embedding").cast("array<double>"))
    VectorIndex.writeIvfPqOpq(asDouble, "vec_id", "embedding", centroids, opq, path,
      residual = true)
    val fresh = tempIndex("vectype-fresh")
    VectorIndex.writeIvfPqOpq(asDouble, "vec_id", "embedding", centroids, opq, fresh,
      residual = true)
    assert(probeOf(path, 17L) == probeOf(fresh, 17L))
  }

  test("sidecar memo: a pending marker refuses probes and appends on a warm memo") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.functions.col
    val (_, df) = residualFixture
    val (centroids, opq) = residualModels
    val path = tempIndex("pending")
    VectorIndex.writeIvfPqOpq(df.where(col("vec_id") < 200), "vec_id", "embedding",
      centroids, opq, path, residual = true)
    val healthy = probeOf(path, 21L)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_opq_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    val errProbe = intercept[IllegalArgumentException](probeOf(path, 21L))
    assert(errProbe.getMessage.contains("partially published"))
    val errAppend = intercept[IllegalArgumentException] {
      VectorIndex.appendIvfPq(df.where(col("vec_id") >= 200), "vec_id", "embedding", path)
    }
    assert(errAppend.getMessage.contains("partially published"))
    fs.delete(marker, false)
    assert(probeOf(path, 21L) == healthy)
  }

  /** The `spark.sql.execution.id` of every job `f` starts (None for a
    * job outside any SQL execution). */
  private def jobExecutions(f: => Unit): Seq[Option[String]] = {
    import org.apache.spark.graftshim.ListenerShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        ids.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
        ()
      }
    }
    ListenerShim.drain(sc)
    sc.addSparkListener(listener)
    try { f; ListenerShim.drain(sc) } finally sc.removeSparkListener(listener)
    ids.asScala.toSeq
  }

  test("sidecars are written by the driver: no job, read back as job-written files") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    val (_, df) = residualFixture
    val (centroids, opq) = residualModels
    val path = tempIndex("sidecar")
    // every job of a publish belongs to one SQL execution: the corpus write
    val executions = jobExecutions(
      VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, path, residual = true))
    info(s"writeIvfPqOpq: ${executions.size} jobs in executions ${executions.distinct}")
    assert(executions.nonEmpty && executions.forall(_.isDefined) && executions.distinct.size == 1,
      s"publish jobs by SQL execution: $executions")
    // the first probe after a publish reads the three sidecars; a warm one
    // reads none
    val (cold, warm) = (traced(probeOf(path, 21L)), traced(probeOf(path, 21L)))
    def reads(t: graft.Trace[_]) = t.scanned.map(_.stripPrefix(path))
    info(s"first probe after the publish: ${cold.jobs} jobs reading ${reads(cold)}; " +
      s"warm probe: ${warm.jobs} jobs reading ${reads(warm)}")
    assert(traced(VectorIndex.writeCentroidMeta(spark, centroids, path)).jobs == 0)
    val lsh = tempIndex("sidecar-lsh")
    // the dimension probe and the corpus write; the meta write adds none
    val lshExecutions = jobExecutions(
      VectorIndex.writeLsh(df, "vec_id", "embedding", bitsPerTable = 3, tables = 2, seed = 9L, lsh))
    assert(lshExecutions.forall(_.isDefined) && lshExecutions.distinct.size == 2,
      s"writeLsh jobs by SQL execution: $lshExecutions")

    // each kind, read through spark.read under its fixed schema and with
    // the schema its footer carries, equals the same rows written by a
    // Spark job
    val kinds: Seq[(String, StructType, Seq[Row])] = Seq(
      (s"$path/meta", StructType(Seq(
        StructField("bucket", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))),
        centroids.zipWithIndex.map { case (c, i) => Row(i, c) }),
      (s"$path/pqmeta", StructType(Seq(
        StructField("subspace", IntegerType, nullable = false),
        StructField("cell", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false),
        StructField("residual", BooleanType, nullable = false))),
        for {
          (book, j) <- opq.pq.books.zipWithIndex
          (cent, c) <- book.zipWithIndex
        } yield Row(j, c, cent, true)),
      (s"$path/opqmeta", StructType(Seq(
        StructField("row", IntegerType, nullable = false),
        StructField("coeffs", ArrayType(DoubleType), nullable = false))),
        (0 until opq.d).map(r => Row(r, opq.rotFlat.slice(r * opq.d, (r + 1) * opq.d).toSeq))),
      (s"$lsh/meta", StructType(Seq(
        StructField("bits_per_table", IntegerType, nullable = false),
        StructField("tables", IntegerType, nullable = false),
        StructField("seed", LongType, nullable = false),
        StructField("dim", IntegerType, nullable = false))),
        Seq(Row(3, 2, 9L, 64))))
    def rows(d: DataFrame): Seq[Row] = d.collect().toSeq.sortBy(_.getInt(0))
    kinds.foreach { case (dir, schema, want) =>
      val byJob = tempIndex("sidecar-job")
      spark.createDataFrame(spark.sparkContext.parallelize(want, 1), schema)
        .write.mode("overwrite").parquet(byJob)
      val (fixed, footer, job) = (spark.read.schema(schema).parquet(dir),
        spark.read.parquet(dir), spark.read.parquet(byJob))
      assert(rows(fixed) == want, dir)
      assert(footer.schema == job.schema, s"$dir: ${footer.schema} vs ${job.schema}")
      assert(rows(footer) == rows(job), dir)
      val parts = new java.io.File(dir).list().filter(_.startsWith("part-"))
      assert(parts.length == 1 && parts.head.endsWith(".snappy.parquet"), parts.mkString(", "))
    }

    // a leftover hidden temp file (a crashed write's) is invisible to
    // readers and probes, and the next write of that sidecar removes it
    val meta = new java.io.File(s"$path/meta")
    val before = meta.list().filter(_.startsWith("part-")).toSeq
    val leftover = new java.io.File(meta, s".part-00000-${java.util.UUID.randomUUID}-c000.snappy.parquet")
    java.nio.file.Files.write(leftover.toPath, "torn".getBytes)
    val healthy = probeOf(path, 21L)
    assert(rows(spark.read.parquet(meta.toString)) == kinds.head._3)
    assert(VectorIndex.readIvfCentroids(spark, path) == centroids)
    assert(probeOf(path, 21L) == healthy)
    VectorIndex.writeCentroidMeta(spark, centroids, path)
    val after = meta.list().toSeq
    assert(!leftover.exists(), s"leftover kept: $after")
    assert(after.count(_.startsWith("part-")) == 1 && !after.exists(before.contains),
      s"a rewrite must take a fresh part name: $before -> $after")
    assert(probeOf(path, 21L) == healthy)
  }

  // ---------------------------------------------------- training cost
  // The trainers fit on their bounded sample alone: LAPACK reached through
  // netlib with breeze's calls (breeze is the test-side reference), the
  // residual computed after the sample's TakeOrdered, and the dimension
  // read off the rows each trainer collects anyway.

  private def bitsOf(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  test("the LAPACK helpers return breeze's eigSym and Procrustes bits") {
    import breeze.linalg.{eigSym, svd, DenseMatrix}
    for (d <- Seq(8, 32, 64, 96); seed <- Seq(1L, 2L)) {
      val rnd = new java.util.Random(seed * 1000 + d)
      val x = Array.fill(2 * d)(Array.fill(d)(rnd.nextGaussian()))
      // a sample second moment, column-major (exactly symmetric)
      val mom = Array.tabulate(d * d) { ij =>
        val (i, j) = (ij % d, ij / d)
        x.map(v => v(i) * v(j)).sum / x.length
      }
      val (w, v) = Opq.eigSym(mom, d)
      val es = eigSym(new DenseMatrix(d, d, mom.clone))
      assert(bitsOf(w.toSeq) == bitsOf(es.eigenvalues.toArray.toSeq), s"eigenvalues d=$d seed=$seed")
      assert(bitsOf(v.toSeq) == bitsOf(es.eigenvectors.toArray.toSeq), s"eigenvectors d=$d seed=$seed")
      val b = Array.fill(d * d)(rnd.nextGaussian())
      val r = Opq.procrustesRotation(b, d)
      val uv = svd(new DenseMatrix(d, d, b.clone))
      assert(bitsOf(r.toSeq) == bitsOf((uv.Vt.t * uv.U.t).toArray.toSeq), s"rotation d=$d seed=$seed")
    }
  }

  // SHA-256 of the raw bits of rotFlat, then every codebook in order
  private def modelHash(opq: Opq.OpqModel): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * (opq.rotFlat.length + opq.pq.books.flatten.flatten.length))
    (opq.rotFlat.toSeq ++ opq.pq.books.flatten.flatten).foreach(bb.putDouble)
    java.security.MessageDigest.getInstance("SHA-256").digest(bb.array()).map(b => f"$b%02x").mkString
  }

  test("trained models keep their bits: Opq.train and trainResidualOpq, opqIters >= 2") {
    import graft.operators.VectorIndex
    val (_, df) = fixture
    val (_, res) = residualFixture
    val centroids = Similarity.kMeans(res, "vec_id", "embedding", c = 8, iters = 2)
    val got = Seq(
      "train" -> Opq.train(df, "vec_id", "embedding", m = 4, k = 16),
      "train m=8 opqIters=2 maxSample=200" ->
        Opq.train(df, "vec_id", "embedding", m = 8, k = 16, opqIters = 2, maxSample = 200),
      "residual" -> VectorIndex.trainResidualOpq(res, "vec_id", "embedding", centroids, m = 4, k = 16),
      "residual opqIters=2 maxSample=200" -> VectorIndex.trainResidualOpq(res, "vec_id",
        "embedding", centroids, m = 4, k = 16, opqIters = 2, maxSample = 200),
      "residual parquet opqIters=2 maxSample=200" -> VectorIndex.trainResidualOpq(
        residualParquet, "vec_id", "embedding", centroids, m = 4, k = 16, opqIters = 2,
        maxSample = 200)
    ).map { case (what, opq) => what -> modelHash(opq) }
    got.foreach { case (what, h) => info(s"$what: $h") }
    // recorded from the trainers that fitted through breeze and computed
    // residuals for every input row
    val expect = Seq(
      "train" ->
        "8c470b80a8c5ae6badb397da5fa28f2c75652a86bc063c96a3076daa77ed0cc7",
      "train m=8 opqIters=2 maxSample=200" ->
        "63dfac098d0cb32095da86728ee856c0c88e8b51f0c3c553af8a9d463774e3d6",
      "residual" ->
        "360cac8601cb9190edbd2410fc27ed11206f884072cf52b21c2e6058f92f0f9d",
      "residual opqIters=2 maxSample=200" ->
        "ab0f76df130c4a13e5bdec8719cd0e2d29fd03b94b7ef7707b4738a256d5d6fc",
      "residual parquet opqIters=2 maxSample=200" ->
        "ab0f76df130c4a13e5bdec8719cd0e2d29fd03b94b7ef7707b4738a256d5d6fc")
    assert(got == expect)
  }

  // the residual fixture as parquet: a local relation's projections fold on
  // the driver, and a file scan is what the trainers read in production
  private lazy val residualParquet = {
    val dir = java.nio.file.Files.createTempDirectory("graft-opq-sample").toString
    residualFixture._2.repartition(4).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("trainResidualOpq runs the centroid kernel on its sample only") {
    import graft.operators.VectorIndex
    import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val res = residualParquet
    val (centroids, _) = residualModels
    val Trace(_, _, _, executed, _) = traced(VectorIndex.trainResidualOpq(res, "vec_id",
      "embedding", centroids, m = 4, k = 16, opqIters = 2, maxSample = 100))
    val helper = new AdaptiveSparkPlanHelper {}
    def kernels(p: SparkPlan): Seq[SparkPlan] = helper.collect(p) {
      case n if n.expressions.exists(_.exists(_.prettyName == "graft_nearest_centroid")) => n
    }
    assert(executed.flatMap(kernels).nonEmpty, s"no centroid kernel ran: $executed")
    val belowSample = executed.flatMap(p => helper.collect(p) {
      case n @ (_: TakeOrderedAndProjectExec | _: SortExec |
          _: org.apache.spark.sql.execution.LimitExec) => n.children
    }).flatten.flatMap(kernels)
    assert(belowSample.isEmpty, s"centroid kernel below the sample's sort/limit: $belowSample")
  }

  test("trainers take the dimension from the rows they collect: jobs and refusals") {
    import graft.operators.VectorIndex
    val res = residualParquet
    val (centroids, _) = residualModels
    val kMeansJobs = traced(Similarity.kMeans(res, "vec_id", "embedding", c = 8, iters = 2)).jobs
    val opqJobs = traced(VectorIndex.trainResidualOpq(res, "vec_id", "embedding", centroids,
      m = 4, k = 16, opqIters = 2)).jobs
    info(s"jobs per call: kMeans $kMeansJobs, trainResidualOpq $opqJobs")
    // one each for a separate dimension probe before the sample took it over
    assert(kMeansJobs <= 5 && opqJobs <= 1, s"kMeans $kMeansJobs, trainResidualOpq $opqJobs")
    val s = spark
    import s.implicits._
    val empty = res.limit(0)
    val trainers: Seq[(String, org.apache.spark.sql.DataFrame => Any)] = Seq(
      "kMeans" -> (df => Similarity.kMeans(df, "vec_id", "embedding", c = 2, iters = 1)),
      "ProductQuantizer.train" ->
        (df => ProductQuantizer.train(df, "vec_id", "embedding", m = 1, k = 2)),
      "Opq.train" -> (df => Opq.train(df, "vec_id", "embedding", m = 1, k = 2)))
    val ragged = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    trainers.foreach { case (who, train) =>
      val none = intercept[IllegalArgumentException](train(empty))
      assert(none.getMessage ==
        s"requirement failed: $who: input has no rows - cannot infer vector dimension")
      val mixed = intercept[IllegalArgumentException](train(ragged))
      assert(mixed.getMessage.contains(s"$who: ragged sample vectors"), mixed.getMessage)
    }
  }

  test("planted reversal rotation (q160 fixture): mat-vec == exact element reversal") {
    // The q160 oracle's load-bearing identity: with a permutation matrix
    // the codegen'd mat-vec fold produces EXACTLY the permuted elements
    // (±0.0 terms never move the accumulator), so DuckDB's list_reverse
    // replays the rotation bit for bit — both the column path (rotateCol
    // over doubles and floats) and the driver path (rotate).
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    val pq = ProductQuantizer.PqModel(m = 4, dsub = 16, graft.QueryFixtures.pqGridBooks)
    val opq = Opq.OpqModel(64, graft.QueryFixtures.reversalRotation, pq)
    val rnd = new java.util.Random(31L)
    val vecs = Seq.fill(20)(Seq.fill(64)(rnd.nextGaussian().toFloat))
    val gotCol = vecs.toDF("v")
      .select(opq.rotateCol(col("v")).as("r"))
      .collect().map(_.getSeq[Double](0))
    vecs.zip(gotCol).foreach { case (v, r) =>
      assert(r == v.reverse.map(_.toDouble), "column mat-vec must equal exact reversal")
    }
    val q = Seq.tabulate(64)(i => (i - 31.5) / 10.0)
    assert(opq.rotate(q) == q.reverse, "driver rotate must equal exact reversal")
  }
}
