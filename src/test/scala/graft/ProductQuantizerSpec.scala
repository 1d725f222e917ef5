package graft

import graft.operators.{ProductQuantizer, Similarity}
import org.scalatest.funsuite.AnyFunSuite

class ProductQuantizerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 8 seeded Gaussian clusters in 64 dims — the structured corpus the ANN
  // family's recall tests share (isotropic noise has no neighbors to find).
  private lazy val fixture: (Seq[(Long, Seq[Float])], org.apache.spark.sql.DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(7L)
    val dim = 64
    val centers = IndexedSeq.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat).toSeq)
    }
    (vecs, vecs.toDF("vec_id", "embedding").cache())
  }

  test("train: shapes, determinism, codes in range") {
    val (_, df) = fixture
    val model = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    assert(model.m == 4 && model.dsub == 16 && model.k == 16)
    val again = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    assert(model.books == again.books, "same input + seedless deterministic init must agree")
    val enc = ProductQuantizer.encode(df, "vec_id", "embedding", model)
    val codes = enc.select("pq_code").collect().map(_.getSeq[Byte](0))
    assert(codes.forall(c => c.length == 4 && c.forall(b => b >= 0 && b < 16)))
    assert(enc.schema("pq_code").dataType.simpleString == "array<tinyint>")
  }

  test("adcTopK matches a driver-side ADC model exactly") {
    val (vecs, df) = fixture
    val model = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val enc = ProductQuantizer.encode(df, "vec_id", "embedding", model).cache()
    val q = vecs(3)._2.map(_.toDouble)
    val got = ProductQuantizer.adcTopK(enc, "vec_id", model, q, k = 320)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // independent Scala model: encode + LUT-sum each row from the raw data
    val qn = math.sqrt(q.map(x => x * x).sum)
    def cell(j: Int, sv: Seq[Double]): Int =
      model.books(j).zipWithIndex.maxBy { case (c, i) =>
        (c.zip(sv).map { case (a, b) => a * b }.sum - c.map(x => x * x).sum / 2, -i)
      }._2
    vecs.foreach { case (id, v) =>
      val vd = v.map(_.toDouble)
      val dot = (0 until 4).map { j =>
        val sv = vd.slice(j * 16, (j + 1) * 16)
        val qj = q.slice(j * 16, (j + 1) * 16)
        model.books(j)(cell(j, sv)).zip(qj).map { case (a, b) => a * b }.sum
      }.sum
      val vn = math.sqrt(vd.map(x => x * x).sum)
      val expected = BigDecimal(dot / (vn.toFloat.toDouble * qn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(id) - expected) <= 1e-6,
        s"id=$id got=${got(id)} expected=$expected")
    }
    enc.unpersist(); ()
  }

  // AQE/stage-walking scan collector (the SimilaritySpec helper's twin)
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  test("IVF-PQ index: sidecar round-trip, bucket pruning, narrow ADC scan, recall") {
    import graft.operators.{Similarity, VectorIndex}
    val s = spark
    import s.implicits._
    val (vecs, df) = fixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val model = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, model, path)

    // codebook sidecar survives the round trip — a probe needs only the path
    assert(VectorIndex.readPqMeta(spark, path).books == model.books)

    val q = vecs(3)._2.map(_.toDouble)
    val probed = VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
      nprobe = 8, k = 10, shortlist = 60, excludeId = Some(3L))
    val got = probed.select("vec_id").as[Long].collect().toSet
    val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(3L))
      .select("vec_id").as[Long].collect().toSet
    // full probe isolates the PQ shortlist effect: re-rank is exact
    assert((got & brute).size >= 9, s"IVF-PQ recall@10: ${(got & brute).size}/10")

    // the ADC pass reads codes, not vectors: one scan's schema must omit
    // the full-precision column (parquet column pruning is the compression
    // payoff — without it every probe would read the raw vectors anyway)
    val scans = allScans(probed.queryExecution.executedPlan)
    assert(scans.exists(!_.schema.fieldNames.contains("embedding")),
      scans.map(_.schema.fieldNames.mkString(",")).mkString(" | "))

    // nprobe=2 probes read only their bucket directories
    val pruned = VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
      nprobe = 2, k = 10, shortlist = 60, excludeId = Some(3L))
    pruned.collect()
    val scan = allScans(pruned.queryExecution.executedPlan).head
    assert(scan.metadata("PartitionFilters").contains("bucket"), scan.metadata.toString)
  }

  test("IVF-PQ sidecars: a pqmeta without the residual column reads as plain PQ, warm or cold") {
    import graft.operators.{Similarity, VectorIndex}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (vecs, df) = fixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val model = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-legacy").toString
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, model, path)
    val q = vecs(10)._2.map(_.toDouble)
    def probe() = VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
        nprobe = 8, k = 10, shortlist = 60, excludeId = Some(10L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val current = probe()
    assert(probe() == current, "warm probe must equal the cold one")
    assert(!VectorIndex.readPqResidual(spark, path))

    // the pre-residual writer's layout: (subspace, cell, centroid) only
    val rows = for {
      (book, j) <- model.books.zipWithIndex
      (cent, c) <- book.zipWithIndex
    } yield Row(j, c, cent)
    val legacy = StructType(Seq(
      StructField("subspace", IntegerType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), legacy)
      .write.mode("overwrite").parquet(s"$path/pqmeta")
    assert(!VectorIndex.readPqResidual(spark, path))
    assert(VectorIndex.readPqMeta(spark, path).books == model.books)
    assert(probe() == current, "a legacy pqmeta must probe as the plain index it describes")
  }

  test("the index stores what the in-memory encoders compute, row for row") {
    import graft.operators.{Opq, VectorIndex}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val (_, df) = fixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val plain = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val res = VectorIndex.trainResidualPq(df, "vec_id", "embedding", centroids, m = 4, k = 16)
    val opq = VectorIndex.trainResidualOpq(df, "vec_id", "embedding", centroids, m = 4, k = 16,
      opqIters = 2)
    def rows(d: DataFrame): Map[Long, (Seq[Byte], Float)] =
      d.select("vec_id", "pq_code", "pq_norm").collect()
        .map(r => r.getLong(0) -> (r.getSeq[Byte](1).toSeq, r.getFloat(2))).toMap
    def stored(path: String) = rows(spark.read.parquet(s"$path/corpus"))
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(s"graft-stored-$tag").toString
    // residual indexes code v − c_b, and keep the raw vector's norm
    val residuals = Similarity.assignBuckets(df, "vec_id", "embedding", centroids)
      .select(col("vec_id"),
        ProductQuantizer.residualCol(col("embedding"), col("bucket"), centroids).as("_res"))
    def codesWithRawNorms(codes: DataFrame, norms: DataFrame) = {
      val n = rows(norms)
      rows(codes).map { case (id, (code, _)) => id -> (code, n(id)._2) }
    }

    val pathPlain = tmp("plain")
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, plain, pathPlain)
    val wantPlain = rows(ProductQuantizer.encode(df, "vec_id", "embedding", plain))
    assert(wantPlain.size == 320 && stored(pathPlain) == wantPlain)

    val pathRes = tmp("res")
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, res, pathRes, residual = true)
    assert(stored(pathRes) == codesWithRawNorms(
      ProductQuantizer.encode(residuals, "vec_id", "_res", res),
      ProductQuantizer.encode(df, "vec_id", "embedding", res)))

    val wantOpq = codesWithRawNorms(Opq.encode(residuals, "vec_id", "_res", opq),
      Opq.encode(df, "vec_id", "embedding", opq))
    val pathOpq = tmp("opq")
    VectorIndex.writeIvfPqOpq(df, "vec_id", "embedding", centroids, opq, pathOpq, residual = true)
    assert(stored(pathOpq) == wantOpq)
    // one append batch encodes from the sidecars alone, to the same rows
    val pathApp = tmp("append")
    VectorIndex.writeIvfPqOpq(df.where(col("vec_id") < 160), "vec_id", "embedding",
      centroids, opq, pathApp, residual = true)
    VectorIndex.appendIvfPq(df.where(col("vec_id") >= 160), "vec_id", "embedding", pathApp)
    assert(stored(pathApp) == wantOpq)
  }

  test("shortlist+rerank recall vs brute force on clustered vectors") {
    // ADC alone cannot rank inside a quantization cell (cluster members
    // collapse to one code tuple — measured recall@10 ~0.2 here), which is
    // why the operator surface is shortlist + exact re-rank. The assertion
    // covers BOTH: the shortlist must capture the true neighbors (codes
    // good enough) and the re-rank must order them exactly.
    val (vecs, df) = fixture
    val s = spark
    import s.implicits._
    val model = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val enc = ProductQuantizer.encode(df, "vec_id", "embedding", model).cache()
    val qIds = Seq(0L, 3L, 10L, 17L, 21L, 30L)
    var rec = 0.0
    qIds.foreach { qid =>
      val q = vecs(qid.toInt)._2.map(_.toDouble)
      val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(qid))
        .select("vec_id").as[Long].collect().toSet
      val pq = ProductQuantizer.rerankTopK(df, "vec_id", "embedding", enc, model, q,
          k = 10, shortlist = 60, excludeId = Some(qid))
        .select("vec_id").as[Long].collect().toSet
      rec += (pq & brute).size.toDouble / brute.size
    }
    rec /= qIds.size
    assert(rec >= 0.9, s"PQ shortlist+rerank recall@10 too low: $rec")
    enc.unpersist(); ()
  }

  test("residual IVF-PQ: same code budget, better codes — raw ADC recall beats plain") {
    import graft.operators.VectorIndex
    val s = spark
    import s.implicits._
    // Sub-cluster structure — the case residual coding exists for: each
    // vector = cluster center + one of 16 per-subspace offset patterns
    // (+ tiny noise). A residual codebook's 16 cells can capture the 16
    // offsets exactly; plain PQ's 16 cells must cover 8 centers × 16
    // offsets = 128 combos and collide. Isotropic noise shows nothing:
    // no code can quantize it, both variants floor at the same recall.
    val rnd = new java.util.Random(11L)
    val dim = 64
    val centers = IndexedSeq.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val offsets = IndexedSeq.fill(16)(Array.fill(dim)(0.35 * rnd.nextGaussian()))
    val vecs = (0 until 320).map { i =>
      val c = centers(i % 8)
      val o = (0 until 4).map(_ => offsets(rnd.nextInt(16)))
      val v = (0 until dim).map { d =>
        (c(d) + o(d / 16)(d) + 0.02 * rnd.nextGaussian()).toFloat
      }
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()

    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val plain = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 3)
    val res = VectorIndex.trainResidualPq(df, "vec_id", "embedding", centroids, m = 4, k = 16, iters = 3)
    assert(res.books != plain.books, "residual codebooks must differ from plain")
    val again = VectorIndex.trainResidualPq(df, "vec_id", "embedding", centroids, m = 4, k = 16, iters = 3)
    assert(res.books == again.books, "residual training must be deterministic")

    val pathP = java.nio.file.Files.createTempDirectory("graft-ivfpq-plain").toString
    val pathR = java.nio.file.Files.createTempDirectory("graft-ivfpq-res").toString
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, plain, pathP)
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, res, pathR, residual = true)
    assert(VectorIndex.readPqResidual(spark, pathR))
    assert(!VectorIndex.readPqResidual(spark, pathP))

    // shortlist == k: the exact re-rank can only reorder what ADC already
    // found, so recall measures CODE quality, nothing else
    val qIds = Seq(0L, 3L, 10L, 17L, 21L, 30L)
    def recallOf(path: String): Double = {
      var r = 0.0
      qIds.foreach { qid =>
        val q = vecs(qid.toInt)._2.map(_.toDouble)
        val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(qid))
          .select("vec_id").as[Long].collect().toSet
        val got = VectorIndex.ivfTopKPq(spark, path, "vec_id", "embedding", q,
            nprobe = 8, k = 10, shortlist = 10, excludeId = Some(qid))
          .select("vec_id").as[Long].collect().toSet
        r += (got & brute).size.toDouble / brute.size
      }
      r / qIds.size
    }
    val (rp, rr) = (recallOf(pathP), recallOf(pathR))
    info(s"raw-ADC recall@10: plain=$rp residual=$rr")
    assert(rr > rp, s"residual ($rr) must beat plain ($rp) on sub-clustered data")
    assert(rr >= 0.6, s"residual raw-ADC recall too low: $rr")
    df.unpersist(); ()
  }

  test("codegen codec: driver-model equality, lowest-index tie-break, runtime j") {
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    // Books with an exact tie for the zero vector: cells 1 and 2 are
    // reflections (same |c|², zero dot with 0) — argmax must pick cell 1.
    val books: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(5.0, 5.0), Seq(1.0, -1.0), Seq(-1.0, 1.0)),
      Seq(Seq(0.5, 0.0), Seq(0.25, 0.25), Seq(9.0, 9.0)))
    val model = ProductQuantizer.PqModel(m = 2, dsub = 2, books)
    def cell(j: Int, sv: Seq[Double]): Int =
      books(j).zipWithIndex.maxBy { case (c, i) =>
        (c.zip(sv).map { case (a, b) => a * b }.sum - c.map(x => x * x).sum / 2, -i)
      }._2
    val rnd = new java.util.Random(11L)
    val vecs = Seq.fill(40)(Seq.fill(4)(rnd.nextGaussian().toFloat)) :+
      Seq(0f, 0f, 0f, 0f) // the planted tie row
    val got = vecs.toDF("v")
      .select(ProductQuantizer.codeCol(col("v"), model).as("code"))
      .collect().map(_.getSeq[Byte](0))
    vecs.zip(got).foreach { case (v, code) =>
      val vd = v.map(_.toDouble)
      val want = (0 until 2).map(j => cell(j, vd.slice(j * 2, (j + 1) * 2)).toByte)
      assert(code == want, s"v=$v got=$code want=$want")
    }
    assert(got.last == Seq[Byte](1, 1), "tie must resolve to the lowest cell index")
    // Runtime-j shape (the training loop's kernel call, one subvector
    // under a subspace index it reads per row): same cells.
    val flat = model.toBooks
    vecs.zipWithIndex.foreach { case (v, r) =>
      (0 until 2).foreach { j =>
        val sv = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.slice(j * 2, (j + 1) * 2).toArray)
        assert(flat.nearest(j, sv, 0, isFloat = true) == cell(j, v.slice(j * 2, (j + 1) * 2).map(_.toDouble)),
          s"row=$r j=$j")
      }
    }
  }

  test("planted one-hot books (q157 fixture): encode == per-subspace argmax") {
    // The q157 oracle's load-bearing identity: with cell c = e_c the L2
    // assignment score sv·c − |c|²/2 collapses to sv[c] − 0.5, so the
    // codegen'd encode must equal a plain argmax with lowest-index ties —
    // the exact arithmetic the DuckDB oracle replays via list_position.
    val s = spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    val model = ProductQuantizer.PqModel(m = 4, dsub = 16, graft.QueryFixtures.pqGridBooks)
    val rnd = new java.util.Random(13L)
    val vecs = Seq.fill(60)(Seq.fill(64)(rnd.nextGaussian().toFloat)) :+
      Seq.fill(64)(0.5f) // all-equal subvectors: ties must resolve to cell 0
    val got = vecs.toDF("v")
      .select(ProductQuantizer.codeCol(col("v"), model).as("code"))
      .collect().map(_.getSeq[Byte](0))
    vecs.zip(got).foreach { case (v, code) =>
      val want = (0 until 4).map { j =>
        val sv = v.slice(j * 16, (j + 1) * 16).map(_.toDouble)
        sv.indexOf(sv.max).toByte
      }
      assert(code == want, s"got=$code want=$want")
    }
    assert(got.last == Seq[Byte](0, 0, 0, 0), "all-equal ties must pick cell 0")
  }

  test("warm probes compile no class and score as the typedLit column form") {
    import graft.operators.{Dedup, VectorIndex}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, round, typedLit}
    val (vecs, df) = fixture
    val centroids = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 2)
    val model = ProductQuantizer.train(df, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(s"graft-warm-$tag").toString
    val (ivf, pq, lsh) = (tmp("ivf"), tmp("ivfpq"), tmp("lsh"))
    VectorIndex.writeIvf(df, "vec_id", "embedding", centroids, ivf)
    // residual: the probe also carries its per-bucket q·c offsets
    VectorIndex.writeIvfPq(df, "vec_id", "embedding", centroids, model, pq, residual = true)
    VectorIndex.writeLsh(df, "vec_id", "embedding", bitsPerTable = 4, tables = 3, seed = 5L, lsh)
    val probes: Seq[(String, Seq[Double] => DataFrame)] = Seq(
      "ivfTopKPq" -> (q => VectorIndex.ivfTopKPq(spark, pq, "vec_id", "embedding", q,
        nprobe = 4, k = 10, shortlist = 40)),
      "ivfTopK" -> (q => VectorIndex.ivfTopK(spark, ivf, "vec_id", "embedding", q,
        nprobe = 4, k = 10)),
      "lshTopK" -> (q => VectorIndex.lshTopK(spark, lsh, "vec_id", "embedding", q,
        k = 10, nprobe = 2)))
    // the column form the probes scored with before the norm was bound:
    // the query's norm constant-folded from norm2(typedLit(q))
    def reference(ids: Seq[Long], q: Seq[Double]): Map[Long, Double] =
      df.where(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), round(Dedup.cosine(col("embedding"), typedLit(q)), 6))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val queries = Seq(3, 77, 200).map(i => vecs(i)._2.map(_.toDouble))
    val compiled = probes.map { case (name, probe) =>
      probe(queries.head).collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val warm = queries.tail.map(q => q -> probe(q).collect())
      val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      warm.foreach { case (q, rows) =>
        val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got.size == 10, s"$name: ${got.size} rows")
        assert(got == reference(got.keys.toSeq, q), s"$name: scores differ from the column form")
      }
      name -> n
    }
    assert(compiled.forall(_._2 == 0), s"classes compiled by two warm probes: $compiled")
    // the excluded id is bound too: a new id per warm probe compiles no
    // class, and the rows are those of the same plan with the id a literal
    import graft.functions.BoundLong
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.ColumnShim
    def literalForm(probe: DataFrame): DataFrame =
      ColumnShim.ofRows(spark, probe.queryExecution.analyzed.transformAllExpressions {
        case BoundLong(v) => Literal(v)
      })
    val excluding: Seq[(String, (Seq[Double], Long) => DataFrame)] = Seq(
      "bruteTopK" -> ((q, id) => Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(id))),
      "ivfTopKPq" -> ((q, id) => VectorIndex.ivfTopKPq(spark, pq, "vec_id", "embedding", q,
        nprobe = 4, k = 10, shortlist = 40, excludeId = Some(id))))
    val ids = Seq(3, 77, 200).map(i => vecs(i)._1)
    val compiledExcluding = excluding.map { case (name, probe) =>
      probe(queries.head, ids.head).collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val warm = queries.tail.zip(ids.tail).map { case (q, id) =>
        val p = probe(q, id)
        (id, p, p.collect())
      }
      val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      warm.foreach { case (id, p, rows) =>
        assert(rows.length == 10 && !rows.exists(_.getLong(0) == id), s"$name: $id kept")
        assert(rows.toSeq == literalForm(p).collect().toSeq, s"$name: rows differ from the literal form")
      }
      name -> n
    }
    assert(compiledExcluding.forall(_._2 == 0),
      s"classes compiled by two warm probes with new excluded ids: $compiledExcluding")
    // the unindexed probes bind their probed-bucket lists as well: a new
    // query's buckets compile no class, and the rows, ties included, are
    // those of the same plan with each list an `isin` of literals
    import graft.functions.BoundInts
    import org.apache.spark.sql.catalyst.expressions.{ArrayContains, In}
    def isinForm(probe: DataFrame): DataFrame =
      ColumnShim.ofRows(spark, probe.queryExecution.analyzed.transformAllExpressions {
        case ArrayContains(BoundInts(vs), c) => In(c, vs.map(v => Literal(v)))
      })
    val unindexed: Seq[(String, Seq[Double] => DataFrame)] = Seq(
      "Similarity.ivfTopK" -> (q => Similarity.ivfTopK(df, "vec_id", "embedding", centroids, q,
        nprobe = 3, k = 10)),
      "Similarity.lshTopK" -> (q => Similarity.lshTopK(df, "vec_id", "embedding", q,
        bitsPerTable = 4, tables = 3, seed = 5L, k = 10, nprobe = 2)))
    val compiledUnindexed = unindexed.map { case (name, probe) =>
      probe(queries.head).collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val warm = queries.tail.map { q =>
        val p = probe(q)
        (p, p.collect())
      }
      val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      warm.foreach { case (p, rows) =>
        val literal = isinForm(p)
        assert(literal.queryExecution.analyzed.collect { case n => n.expressions }.flatten
          .exists(_.exists(_.isInstanceOf[In])),
          s"$name: no bound bucket list in ${p.queryExecution.analyzed}")
        assert(rows.length == 10, s"$name: ${rows.length} rows")
        assert(rows.toSeq == literal.collect().toSeq, s"$name: rows differ from the isin form")
      }
      name -> n
    }
    assert(compiledUnindexed.forall(_._2 == 0),
      s"classes compiled by two warm unindexed probes: $compiledUnindexed")
    // unrounded too: the bound norm is the folded one, bit for bit
    queries.foreach { q =>
      val both = df.select(Similarity.cosineToQuery(col("embedding"), q),
        Dedup.cosine(col("embedding"), typedLit(q))).collect()
      assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
    }
  }
}
