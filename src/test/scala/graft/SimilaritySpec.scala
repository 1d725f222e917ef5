package graft

import graft.functions.CentroidTable
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The bucket column of the column form `assignBuckets` had before the
    * centroid kernel, kept as a reference model: one cosine column per
    * literal centroid, their `greatest`, and the first index whose cosine
    * equals it. */
  private def columnFormBuckets(
      df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): DataFrame = {
    val sims = centroids.zipWithIndex.map { case (ct, i) =>
      Dedup.cosine(col(vecCol), array(ct.map(lit): _*)).as(s"_c$i")
    }
    val best = greatest(centroids.indices.map(i => col(s"_c$i")): _*)
    df.select(col("*") +: sims: _*)
      .withColumn("bucket", coalesce(centroids.indices.map(i =>
        when(col(s"_c$i") === best, lit(i))): _*))
  }

  /** The treeAggregate Lloyd loop `kMeans` ran above C = 64 before the
    * centroid kernel, kept as a reference model: first-C-by-id init, a JVM
    * cosine argmax over broadcast centroids with first-max ties (NaN
    * greatest), per-bucket means, empty buckets keep their centroid. */
  private def treeKMeans(
      df: DataFrame, idCol: String, vecCol: String, c: Int, iters: Int): Seq[Seq[Double]] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    var centroids: Array[Array[Double]] = df.orderBy(col(idCol)).limit(c)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val data = df.select(col(vecCol)).as[Array[Float]].rdd
    (1 to iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(centroids)
      val (sums, counts) = data.treeAggregate(
        (new Array[Double](c * dim), new Array[Long](c)))(
        seqOp = { case ((s, n), v) =>
          val cs = bc.value
          var best = Double.NegativeInfinity
          var bestI = 0
          var vn = 0.0
          var i = 0
          while (i < dim) { vn += v(i).toDouble * v(i).toDouble; i += 1 }
          val vnorm = math.sqrt(vn)
          var b = 0
          while (b < cs.length) {
            val cv = cs(b)
            var dot = 0.0
            var cn = 0.0
            i = 0
            while (i < dim) {
              dot += v(i).toDouble * cv(i); cn += cv(i) * cv(i); i += 1
            }
            val sim = dot / (vnorm * math.sqrt(cn))
            if (java.lang.Double.compare(sim, best) > 0) { best = sim; bestI = b }
            b += 1
          }
          i = 0
          while (i < dim) { s(bestI * dim + i) += v(i).toDouble; i += 1 }
          n(bestI) += 1
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var i = 0
          while (i < s1.length) { s1(i) += s2(i); i += 1 }
          i = 0
          while (i < n1.length) { n1(i) += n2(i); i += 1 }
          (s1, n1)
        },
        depth = 2)
      bc.destroy()
      centroids = centroids.zipWithIndex.map { case (prev, b) =>
        if (counts(b) == 0L) prev
        else Array.tabulate(dim)(i => sums(b * dim + i) / counts(b))
      }
    }
    centroids.map(_.toSeq).toSeq
  }

  /** The `groupBy` aggregate a Lloyd round of `kMeans` ran before its
    * one-job reduction, kept as a reference model: per-bucket
    * `count` and one `sum` per dimension over the cached `(id, vec)`
    * select, the means collected, empty buckets keep their centroid. */
  private def aggregateKMeans(
      df: DataFrame, idCol: String, vecCol: String, c: Int, iters: Int): Seq[Seq[Double]] = {
    val vecs = df.select(col(idCol), col(vecCol)).cache()
    try {
      val (init, dim) =
        Similarity.sampleVectors(vecs.orderBy(col(idCol)).limit(c).select(col(vecCol)), "kMeans")
      var centroids: Seq[Seq[Double]] = init.map(_.toSeq).toSeq
      (1 to iters).foreach { _ =>
        val sums = Similarity.assignBuckets(vecs, idCol, vecCol, centroids)
          .select(col("bucket"), transform(col(vecCol), x => x.cast("double")).as("_v"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("_n"),
            array((0 until dim).map(i => sum(col("_v").getItem(i))): _*).as("_s"))
          .collect()
        val next = centroids.toArray
        sums.foreach { r =>
          next(r.getInt(0)) = r.getSeq[Double](2).map(_ / r.getLong(1).toDouble).toSeq
        }
        centroids = next.toSeq
      }
      centroids
    } finally { vecs.unpersist(); () }
  }

  /** `ProductQuantizer.train`'s aggregate form, the same way: the cached
    * `(id, subspace, subvector)` explode, each subvector's cell from the
    * codebook kernel, one `(subspace, cell)`-keyed `count` and per-dimension
    * `sum` per round. */
  private def aggregateTrain(
      df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int, iters: Int)
      : graft.operators.ProductQuantizer.PqModel = {
    import graft.operators.ProductQuantizer.PqModel
    import org.apache.spark.sql.catalyst.util.ArrayData
    val (first, dim) = Similarity.sampleVectors(
      df.orderBy(col(idCol)).limit(k).select(col(vecCol)), "ProductQuantizer.train")
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
        val bk = PqModel(m, dsub, books).toBooks
        val cell = udf((j: Int, sv: Seq[Double]) =>
          bk.nearest(j, ArrayData.toArrayData(sv.toArray), 0, false))
        val sums = subRows
          .select(col("_j"), cell(col("_j"), col("_sv").cast("array<double>")).as("_cell"),
            col("_sv"))
          .groupBy("_j", "_cell")
          .agg(count(lit(1)).as("_n"),
            array((0 until dsub).map(i =>
              sum(col("_sv").getItem(i).cast("double"))): _*).as("_s"))
          .collect()
        val next = books.map(_.toArray).toArray
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](3).map(_ / r.getLong(2).toDouble).toSeq
        }
        books = next.map(_.toSeq).toSeq
      }
      PqModel(m, dsub, books)
    } finally { subRows.unpersist(); () }
  }

  /** Whether `e` or any of its causes carries `text` in its message. */
  private def named(e: Throwable, text: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(text))

  test("bruteTopK orders by cosine desc with id tiebreak and excludes self") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.8f, 0.6f)),  // cos 0.8
      (2L, Array(1.0f, 0.1f)),  // cos ~0.995
      (3L, Array(0.0f, 1.0f)),  // cos 0
      (4L, Array(2.0f, 0.2f))   // same direction as 2 → same cosine, id tiebreak
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(vecs, "vec_id", "embedding",
      query = Seq(1.0, 0.0), k = 3, excludeId = Some(0L))
      .select("vec_id").as[Long].collect()
    assert(got === Seq(2L, 4L, 1L))
  }

  test("assignBuckets picks nearest centroid, lowest index on ties") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.05f)),
      (2L, Array(0.05f, 1.0f)),
      (3L, Array(1.0f, 1.0f)) // equidistant from both centroids → bucket 0
    ).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = Similarity.assignBuckets(vecs, "vec_id", "embedding", centroids)
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("kMeans: deterministic across runs, right shape, assigns all buckets") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val c1 = Similarity.kMeans(emb, "vec_id", "embedding", c = 4, iters = 2)
    val c2 = Similarity.kMeans(emb, "vec_id", "embedding", c = 4, iters = 2)
    assert(c1 === c2)
    assert(c1.length === 4 && c1.forall(_.length === 64))
    val buckets = Similarity.assignBuckets(emb, "vec_id", "embedding", c1)
      .select("bucket").distinct().as[Int].collect().toSet
    assert(buckets.nonEmpty && buckets.subsetOf((0 until 4).toSet))
  }

  test("kMeansTree: matches the columnar rounds; large-C dispatch works") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    // the one Lloyd loop against the deleted tree loop, at a C the
    // columnar rounds always served and one the tree served above C = 64
    for ((c, iters) <- Seq(8 -> 3, 70 -> 1)) {
      val columnar = Similarity.kMeans(emb, "vec_id", "embedding", c, iters)
      val tree = treeKMeans(emb, "vec_id", "embedding", c, iters)
      assert(columnar.length == c && columnar.forall(_.length == 64))
      // same assignments + means modulo combine-order float jitter
      val maxDiff = columnar.zip(tree)
        .flatMap { case (a, b) => a.zip(b).map { case (x, y) => math.abs(x - y) } }
        .max
      assert(maxDiff < 1e-9, s"c = $c: centroid drift $maxDiff")
    }
  }

  test("centroid kernel equals the greatest/coalesce column form: ties, NaN, nulls, float and double") {
    val dim = 8
    val rnd = new java.util.Random(7L)
    def gauss(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val axis = (j: Int) => Seq.tabulate(dim)(i => if (i == j) 1.0 else 0.0)
    val randomVecs = Seq.fill(400)(gauss())
    for (c <- Seq(2, 16, 70)) {
      // c0, c1 are axes (a vector on their diagonal ties exactly, and no
      // other centroid reaches into their plane); the last centroid
      // repeats c0, so every vector nearest c0 ties again
      val centroids =
        if (c == 2) Seq(axis(0), axis(1))
        else Seq(axis(0), axis(1)) ++
          Seq.fill(c - 3)(Seq(0.0, 0.0) ++ gauss().drop(2)) :+ axis(0)
      val special: Seq[Option[Seq[Double]]] = Seq(
        Some(Seq(1.0, 1.0) ++ Seq.fill(dim - 2)(0.0)),
        Some(Seq(3.0, 3.0) ++ Seq.fill(dim - 2)(0.0)),
        Some(Double.NaN +: Seq.fill(dim - 1)(1.0)),
        Some(Seq.fill(dim)(Double.NaN)),
        None) ++ centroids.map(Some(_))
      // bisectors of random centroid pairs: the two cosines agree to the
      // last few ulps, so the winner depends on the exact fold order
      def unit(v: Seq[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
      val bisectors = if (c == 2) Nil else Seq.fill(200) {
        val (i, j) = (2 + rnd.nextInt(c - 3), 2 + rnd.nextInt(c - 3))
        Some(unit(centroids(i)).zip(unit(centroids(j))).map { case (x, y) => x + y })
      }
      val vecs = (randomVecs.map(Some(_)) ++ special ++ bisectors).zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toArray)) }
        .toDF("vec_id", "embedding")
      for (v <- Seq(col("embedding"), col("embedding").cast("array<float>"))) {
        val df = vecs.select(col("vec_id"), v.as("embedding"))
        val kernel = Similarity.assignBuckets(df, "vec_id", "embedding", centroids)
          .select("vec_id", "bucket").as[(Long, Option[Int])].collect().toMap
        val model = columnFormBuckets(df, "embedding", centroids)
          .select("vec_id", "bucket").as[(Long, Option[Int])].collect().toMap
        val wrong = model.keys.filter(id => kernel.get(id) != Some(model(id)))
        assert(kernel.size == model.size, s"c = $c, $v: row counts differ")
        assert(wrong.isEmpty, s"c = $c, $v: ${wrong.size} buckets differ, e.g. ids ${wrong.take(3)}")
        val diag = randomVecs.length.toLong
        assert(kernel(diag) == Some(0) && kernel(diag + 1) == Some(0),
          s"c = $c: a diagonal tie goes to the lowest index")
        assert(kernel(diag + 2) == Some(0) && kernel(diag + 3) == Some(0),
          s"c = $c: a NaN score counts as greatest, the first one wins")
        assert(kernel(diag + 4).isEmpty, s"c = $c: a null vector gets a null bucket")
        if (c > 2)
          assert(kernel(diag + 5 + c - 1) == Some(0), s"c = $c: a repeated centroid ties low")
      }
    }
  }

  test("centroid kernel refuses bad shapes by name; C = 1 assigns bucket 0") {
    val vecs = Seq((1L, Array(1.0f, 0.5f)), (2L, Array(-1.0f, 2.0f))).toDF("vec_id", "embedding")
    val one = Similarity.assignBuckets(vecs, "vec_id", "embedding", Seq(Seq(0.3, 0.7)))
      .select("bucket").as[Int].collect()
    assert(one.toSeq == Seq(0, 0))
    val k1 = Similarity.kMeans(vecs, "vec_id", "embedding", c = 1, iters = 2)
    assert(k1.length == 1 && k1.head == Seq(0.0, 1.25))
    val asDouble = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    assert(Similarity.kMeans(asDouble, "vec_id", "embedding", c = 1, iters = 2) == k1)
    for (c <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        Similarity.kMeans(vecs, "vec_id", "embedding", c, iters = 1))
      assert(e.getMessage.contains("kMeans: c must be > 0"), e.getMessage)
    }
    for ((cents, text) <- Seq(
        Seq.empty[Seq[Double]] -> "CentroidTable: no centroids",
        Seq(Seq(1.0, 0.0), Seq(0.0, 0.0)) -> "CentroidTable: centroid 1 has zero norm",
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0, 0.0)) -> "CentroidTable: centroid 1 has length 3")) {
      val e = intercept[IllegalArgumentException](CentroidTable(cents))
      assert(e.getMessage.contains(text), e.getMessage)
    }
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    for ((v, text) <- Seq(
        Array(0.0f, 0.0f) -> "nearest centroid: zero-norm vector",
        Array(1.0f, 0.0f, 0.0f) -> "nearest centroid: vector length 3 != centroid dim 2",
        Array(1.0f) -> "nearest centroid: vector length 1 != centroid dim 2")) {
      val df = Seq((1L, Array(1.0f, 0.0f)), (2L, v)).toDF("vec_id", "embedding")
        .repartition(2)
      val e = intercept[Exception](
        Similarity.assignBuckets(df, "vec_id", "embedding", cents).collect())
      assert(named(e, text), e.toString)
    }
  }

  test("IVF recall vs brute force on the sf0.001 embeddings corpus") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val byId = emb.where(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    val centroids = (0L until 8L).map(byId)
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", byId(0L), k = 10,
      excludeId = Some(0L)).select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, byId(0L),
      nprobe = 2, k = 10, excludeId = Some(0L)).select("vec_id").as[Long].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@10 too low: $recall (ivf=$ivf brute=$brute)")
  }

  test("LSH recall vs brute force; buckets deterministic across runs") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", q, k = 10,
      excludeId = Some(0L)).select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", q,
      bitsPerTable = 4, tables = 6, seed = 42L, k = 10, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"LSH recall@10 too low: $recall (lsh=$lsh brute=$brute)")
    // determinism: identical plane seed → identical result set
    val again = Similarity.lshTopK(emb, "vec_id", "embedding", q,
      bitsPerTable = 4, tables = 6, seed = 42L, k = 10, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    assert(lsh == again)
    // the query's own bucket must contain the query vector itself
    val planes = Similarity.hyperplanes(10, q.length, 42L)
    val selfBucket = Similarity.lshBucket(col("embedding"), planes)
    val self = emb.where(col("vec_id") === 0L).select(selfBucket).as[Int].head()
    val qBucket = planes.zipWithIndex.map { case (p, j) =>
      if (p.zip(q).map { case (a, b) => a * b }.sum >= 0) 1 << j else 0
    }.sum
    assert(self == qBucket, "Scala-side and column-side bucket computation must agree")
  }

  test("multiprobe LSH: recall vs candidates-scanned across nprobe, clustered vectors") {
    // SURVEY §9 blamed the LSH recall floor on isotropic synthetic
    // vectors; cluster-structured data is what LSH exists for. Build 8
    // seeded Gaussian clusters and measure BOTH recall and candidate
    // count per nprobe — the multiprobe claim is "more recall per extra
    // bucket", so both sides of the trade are asserted.
    val rnd = new java.util.Random(5L)
    val dim = 64
    val centers = IndexedSeq.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding").cache()
    val byTable = Similarity.hyperplanes(4 * 6, dim, 42L).grouped(4).toSeq
    val qIds = Seq(0L, 3L, 10L, 17L, 21L, 30L)
    val stats = (1 to 3).map { np =>
      var rec = 0.0
      var cand = 0L
      qIds.foreach { qid =>
        val q = vecs(qid.toInt)._2.map(_.toDouble)
        val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(qid))
          .select("vec_id").as[Long].collect().toSet
        val got = Similarity.lshTopK(df, "vec_id", "embedding", q,
            bitsPerTable = 4, tables = 6, seed = 42L, k = 10,
            excludeId = Some(qid), nprobe = np)
          .select("vec_id").as[Long].collect().toSet
        rec += (got & brute).size.toDouble / brute.size
        val cond = byTable.map { planes =>
          Similarity.lshBucket(col("embedding"), planes)
            .isin(Similarity.multiprobeBuckets(planes, q, np): _*)
        }.reduce(_ || _)
        cand += df.where(cond).count()
      }
      (rec / qIds.size, cand / qIds.size)
    }
    val recalls = stats.map(_._1)
    val cands = stats.map(_._2)
    // recall climbs monotonically and clears the 0.8 bar by nprobe=2
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2), recalls.toString)
    assert(recalls(1) >= 0.8, s"multiprobe np=2 recall ${recalls(1)} < 0.8 ($recalls)")
    // ... at bounded candidate cost: probing np buckets per table scans at
    // most np× (and strictly more than 1×) the exact-bucket candidates
    assert(cands(0) < cands(1) && cands(1) < cands(2), cands.toString)
    assert(cands(1) <= 2 * cands(0) && cands(2) <= 3 * cands(0), cands.toString)
    // IVF on the same clustered corpus: the operator reaches ~full recall
    // when neighbor structure exists (the sf embeddings' mean ivf recall
    // is data-limited — their true top-10 neighbors share the query's
    // cluster label only ~16% of the time, so ANY fixed coarse partition
    // degrades toward its scan fraction there; this pins that the
    // OPERATOR, not the data, is sound)
    val cents = Similarity.kMeans(df, "vec_id", "embedding", c = 8, iters = 3)
    var ivfRec = 0.0
    qIds.foreach { qid =>
      val q = vecs(qid.toInt)._2.map(_.toDouble)
      val brute = Similarity.bruteTopK(df, "vec_id", "embedding", q, 10, Some(qid))
        .select("vec_id").as[Long].collect().toSet
      val got = Similarity.ivfTopK(df, "vec_id", "embedding", cents, q, 2, 10, Some(qid))
        .select("vec_id").as[Long].collect().toSet
      ivfRec += (got & brute).size.toDouble / brute.size
    }
    assert(ivfRec / qIds.size >= 0.9,
      s"IVF recall on clustered vectors: ${ivfRec / qIds.size}")
    df.unpersist()
    // probe-sequence properties: head is the exact bucket, perturbations
    // are hamming-1, no duplicates, margin order is deterministic
    val q0 = vecs(0)._2.map(_.toDouble)
    val probes = Similarity.multiprobeBuckets(byTable.head, q0, 5)
    assert(probes.size == 5 && probes.distinct.size == 5)
    probes.tail.foreach(b =>
      assert(java.lang.Integer.bitCount(b ^ probes.head) == 1, probes.toString))
    assert(probes == Similarity.multiprobeBuckets(byTable.head, q0, 5))
  }

  // Walk through AQE wrappers and materialized query stages to every scan.
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  private def parquetFilesUnder(dir: java.io.File): Seq[java.io.File] = {
    val here = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
    here.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
      here.filter(_.isDirectory).flatMap(parquetFilesUnder)
  }

  test("VectorIndex quantized IVF: per-element error bound holds, recall tracks float index") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val centroids = Similarity.kMeans(emb, "vec_id", "embedding", c = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfq8").toString
    VectorIndex.writeIvfQuantized(emb, "vec_id", "embedding", centroids, path)

    // storage really is int8 + one float scale
    val stored = spark.read.parquet(s"$path/corpus")
    assert(stored.schema("q8").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))

    // deterministic reconstruction bound: |x - q*scale/127| <= scale/254 (+eps)
    val bad = stored.join(emb, "vec_id")
      .select(expr(
        """exists(zip_with(embedding, q8, (x, q) ->
          |  abs(cast(x as double) - cast(q as double) * scale / 127.0)
          |    > scale / 254.0 + 1e-9), b -> b)""".stripMargin).as("viol"))
      .where(col("viol")).count()
    assert(bad === 0L, "quantization error bound violated")

    // probing EVERY bucket isolates pure quantization effect on the ranking
    val q = emb.where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val qTop = VectorIndex.ivfTopKQuantized(spark, path, "vec_id", q,
      nprobe = 8, k = 10, excludeId = Some(0L)).select("vec_id").as[Long].collect().toSet
    val fTop = Similarity.bruteTopK(emb, "vec_id", "embedding", q,
      k = 10, excludeId = Some(0L)).select("vec_id").as[Long].collect().toSet
    assert((qTop & fTop).size >= 8, s"recall@10 too low: ${(qTop & fTop).size}/10")
  }

  test("VectorIndex IVF: probe equals unindexed IVF and scans only nprobe buckets") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val byId = emb.where(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    val centroids = (0L until 8L).map(byId)
    val q = byId(0L)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString

    VectorIndex.writeIvf(emb, "vec_id", "embedding", centroids, path)
    assert(VectorIndex.readIvfCentroids(spark, path) == centroids,
      "centroid sidecar must round-trip")

    val indexed = VectorIndex.ivfTopK(spark, path, "vec_id", "embedding",
      q, nprobe = 2, k = 10, excludeId = Some(0L))
    val got = indexed.select("vec_id").as[Long].collect().toSeq
    val want = Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, q,
      nprobe = 2, k = 10, excludeId = Some(0L)).select("vec_id").as[Long].collect().toSeq
    assert(got == want, "indexed probe must return the unindexed IVF result")

    // the hard scale property: the scan reads ONLY the probed bucket dirs
    indexed.collect()
    val scan = allScans(indexed.queryExecution.executedPlan).head
    val corpus = new java.io.File(s"$path/corpus")
    val allBuckets = corpus.listFiles().filter(_.getName.startsWith("bucket=")).toSeq
    assert(allBuckets.size > 2, s"fixture must have >nprobe buckets, got ${allBuckets.size}")
    val totalFiles = parquetFilesUnder(corpus).size
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead < totalFiles,
      s"probe scanned the whole corpus: $filesRead of $totalFiles files")
    // exactly the files under the 2 cosine-nearest bucket directories
    val probedFiles = allBuckets.sortBy(_.getName)
      .map(b => b.getName.stripPrefix("bucket=").toInt -> parquetFilesUnder(b).size).toMap
    assert(scan.metadata("PartitionFilters").contains("bucket"),
      scan.metadata.toString)
    val twoSmallestPossible = probedFiles.values.toSeq.sorted.take(2).sum
    val twoLargestPossible = probedFiles.values.toSeq.sorted.takeRight(2).sum
    assert(filesRead >= twoSmallestPossible && filesRead <= twoLargestPossible,
      s"filesRead=$filesRead outside any-2-bucket range [$twoSmallestPossible,$twoLargestPossible]")
  }

  test("VectorIndex IVF append: new vectors land pruned-probe-visible, no rebuild") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val byId = emb.where(col("vec_id") < 4)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    val centroids = (0L until 4L).map(byId)
    val q = byId(0L)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString
    val base = emb.where(col("vec_id") < 100)
    val batch = emb.where(col("vec_id") >= 100 && col("vec_id") < 150)

    VectorIndex.writeIvf(base, "vec_id", "embedding", centroids, path)
    VectorIndex.appendIvf(batch, "vec_id", "embedding", path)

    // append must be invisible vs a full build over the union
    val full = java.nio.file.Files.createTempDirectory("graft-ivffull").toString
    VectorIndex.writeIvf(emb.where(col("vec_id") < 150), "vec_id", "embedding", centroids, full)
    def probe(p: String) = VectorIndex.ivfTopK(spark, p, "vec_id", "embedding",
        q, nprobe = 2, k = 15, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSeq
    assert(probe(path) == probe(full),
      "appended index must answer exactly like a full rebuild")
    // and the appended rows are actually reachable (some id >= 100 in top-15
    // of SOME probe — use a batch vector as its own query, rank 1 = itself)
    val q120 = emb.where(col("vec_id") === 120L)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val self = VectorIndex.ivfTopK(spark, path, "vec_id", "embedding",
        q120, nprobe = 4, k = 1)
      .select("vec_id").as[Long].collect()
    assert(self.headOption.contains(120L), "appended vector must be findable")
  }

  test("VectorIndex LSH append: identical to a full rebuild, batch findable") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val inc = java.nio.file.Files.createTempDirectory("graft-lshapp").toString
    val full = java.nio.file.Files.createTempDirectory("graft-lshfull").toString
    VectorIndex.writeLsh(emb.where(col("vec_id") < 100), "vec_id", "embedding",
      bitsPerTable = 3, tables = 4, seed = 7L, path = inc)
    VectorIndex.appendLsh(emb.where(col("vec_id") >= 100 && col("vec_id") < 150),
      "vec_id", "embedding", inc)
    VectorIndex.writeLsh(emb.where(col("vec_id") < 150), "vec_id", "embedding",
      bitsPerTable = 3, tables = 4, seed = 7L, path = full)
    def probe(p: String) = VectorIndex.lshTopK(spark, p, "vec_id", "embedding",
        q, k = 15, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSeq
    assert(probe(inc) == probe(full),
      "appended LSH index must answer exactly like a full rebuild")
    val q130 = emb.where(col("vec_id") === 130L)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val self = VectorIndex.lshTopK(spark, inc, "vec_id", "embedding", q130, k = 1)
      .select("vec_id").as[Long].collect()
    assert(self.headOption.contains(130L), "appended vector must be findable")
  }

  test("VectorIndex LSH: probe equals unindexed LSH and scans only the tables' buckets") {
    import graft.operators.VectorIndex
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-lshidx").toString

    VectorIndex.writeLsh(emb, "vec_id", "embedding",
      bitsPerTable = 4, tables = 6, seed = 42L, path = path)
    val indexed = VectorIndex.lshTopK(spark, path, "vec_id", "embedding",
      q, k = 10, excludeId = Some(0L))
    val got = indexed.select("vec_id").as[Long].collect().toSet
    val want = Similarity.lshTopK(emb, "vec_id", "embedding", q,
      bitsPerTable = 4, tables = 6, seed = 42L, k = 10, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    assert(got == want, "indexed probe must return the unindexed LSH result")

    indexed.collect()
    val scan = allScans(indexed.queryExecution.executedPlan).head
    val corpus = new java.io.File(s"$path/corpus")
    val totalFiles = parquetFilesUnder(corpus).size
    val filesRead = scan.metrics("numFiles").value
    // 6 tables × 1 bucket each out of 6×2^4 = 96 partitions
    assert(filesRead < totalFiles / 4,
      s"probe scanned too much: $filesRead of $totalFiles files")
    assert(scan.metadata("PartitionFilters").contains("bucket"), scan.metadata.toString)

    // multiprobe (nprobe=2): indexed equals unindexed, and the scan grows
    // to at most 2× the exact-probe directories — still partition-pruned
    val indexed2 = VectorIndex.lshTopK(spark, path, "vec_id", "embedding",
      q, k = 10, excludeId = Some(0L), nprobe = 2)
    val got2 = indexed2.select("vec_id").as[Long].collect().toSet
    val want2 = Similarity.lshTopK(emb, "vec_id", "embedding", q,
      bitsPerTable = 4, tables = 6, seed = 42L, k = 10, excludeId = Some(0L),
      nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(got2 == want2, "indexed multiprobe must return the unindexed result")
    indexed2.collect()
    val files2 = allScans(indexed2.queryExecution.executedPlan).head
      .metrics("numFiles").value
    assert(files2 >= filesRead && files2 <= 2 * filesRead,
      s"multiprobe np=2 read $files2 files vs $filesRead at np=1")

    // a sparse index (3 vectors → ≤18 occupied of 96 partitions): probing
    // buckets whose directories were never written prunes to nothing
    // instead of erroring on the missing paths
    val tiny = Seq(
      (1L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)),
      (2L, Array.tabulate(64)(i => (i % 5).toFloat - 2f)),
      (3L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val sparsePath = java.nio.file.Files.createTempDirectory("graft-lshsparse").toString
    VectorIndex.writeLsh(tiny, "vec_id", "embedding",
      bitsPerTable = 4, tables = 6, seed = 42L, path = sparsePath)
    val sparse = VectorIndex.lshTopK(spark, sparsePath, "vec_id", "embedding",
      Array.tabulate(64)(i => math.sin(i + 1.0)).toSeq, k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(sparse.subsetOf(Set(1L, 2L, 3L)), sparse.toString)
  }

  test("VectorIndex.compact: appended bucket files collapse, probes unchanged") {
    import graft.operators.{Similarity, VectorIndex}
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft-vcmp").toString + "/idx"
    val centroids = Similarity.kMeans(emb, "vec_id", "embedding", c = 4, iters = 1)
    val q = emb.where(col("vec_id") === 1L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    VectorIndex.writeIvf(emb.where(col("vec_id") % 3 === 0), "vec_id", "embedding", centroids, path)
    VectorIndex.appendIvf(emb.where(col("vec_id") % 3 === 1), "vec_id", "embedding", path)
    VectorIndex.appendIvf(emb.where(col("vec_id") % 3 === 2), "vec_id", "embedding", path)
    def probe() = VectorIndex.ivfTopK(spark, path, "vec_id", "embedding", q,
      nprobe = 2, k = 10, excludeId = Some(1L)).select("vec_id").as[Long].collect().toSeq
    val before = probe()
    val corpusDir = new java.io.File(s"$path/corpus")
    val filesBefore = parquetFilesUnder(corpusDir).size
    VectorIndex.compact(spark, path)
    val filesAfter = parquetFilesUnder(corpusDir).size
    val bucketDirs = corpusDir.listFiles().count(_.getName.startsWith("bucket="))
    assert(filesAfter < filesBefore && filesAfter == bucketDirs,
      s"$filesBefore -> $filesAfter over $bucketDirs buckets")
    assert(probe() == before)
    assert(before.nonEmpty)
  }

  test("lshTopKPlanes with planted axis-difference planes == driver model (q158 fixture)") {
    // The q158 oracle's load-bearing identities: with plane p = e_{2p} −
    // e_{2p+1}, each sign bit is exactly v[2p] − v[2p+1] >= 0, and the
    // nprobe=2 multiprobe flip is the lowest-|margin| plane (lowest-index
    // ties). The injected-planes entry point must equal a plain driver
    // model of buckets + probes + brute re-rank over candidates.
    val rnd = new java.util.Random(29L)
    val vecs = (0 until 240).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs.head._2.map(_.toDouble)
    val planes = QueryFixtures.lshGridPlanes
    val got = Similarity.lshTopKPlanes(df, "vec_id", "embedding", query, planes,
      k = 10, excludeId = Some(0L), nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

    def buckets(v: Seq[Double]): Seq[Int] = (0 until 6).map { t =>
      (0 until 4).map { b =>
        val p = 4 * t + b
        if (v(2 * p) - v(2 * p + 1) >= 0) 1 << b else 0
      }.sum
    }
    val qDiffs = (0 until 24).map(p => query(2 * p) - query(2 * p + 1))
    val qBkts = buckets(query)
    val probes: Seq[Set[Int]] = (0 until 6).map { t =>
      val flipB = (0 until 4).minBy(b => (math.abs(qDiffs(4 * t + b)), b))
      Set(qBkts(t), qBkts(t) ^ (1 << flipB))
    }
    val cand = vecs.filter { case (id, v) =>
      id != 0L && buckets(v.map(_.toDouble)).zip(probes).exists { case (bk, pr) => pr(bk) }
    }
    def cos(v: Seq[Double]): Double = {
      val d = v.zip(query).map { case (a, b) => a * b }.sum
      d / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(query.map(x => x * x).sum))
    }
    val want = cand
      .map { case (id, v) =>
        (id, BigDecimal(cos(v.map(_.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    assert(got == want, s"got=$got want=$want")
    assert(got.nonEmpty)
  }

  test("kMeans keeps its caller's cache and leaves no cache of its own") {
    import org.apache.spark.storage.StorageLevel
    val rnd = new java.util.Random(3L)
    val vecs = (0 until 100).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val cached = vecs.toDF("id", "vec").cache()
    cached.count()
    val level = cached.storageLevel
    assert(level != StorageLevel.NONE)
    val fromCached = Similarity.kMeans(cached, "id", "vec", c = 4, iters = 2)
    assert(cached.storageLevel == level, "kMeans evicted its caller's cache entry")
    cached.unpersist()

    val fresh = vecs.toDF("id", "vec")
    assert(Similarity.kMeans(fresh, "id", "vec", c = 4, iters = 2) == fromCached)
    assert(fresh.select(col("id"), col("vec")).storageLevel == StorageLevel.NONE,
      "kMeans left its own cache entry behind")
  }

  test("VectorIndex LSH: warm probes and appends read the meta sidecar in one job") {
    import graft.Traced.traced
    import graft.operators.VectorIndex
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where(col("vec_id") === 0L)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-lshmeta").toString
    VectorIndex.writeLsh(emb.where(col("vec_id") < 100), "vec_id", "embedding",
      bitsPerTable = 3, tables = 4, seed = 7L, path = path)
    def probe() = VectorIndex.lshTopK(spark, path, "vec_id", "embedding", q, k = 10,
      excludeId = Some(0L)).collect().toSeq
    val cold = probe()
    val Trace(warm, probeJobs, _, _, _) = traced(probe())
    assert(warm == cold)
    val Trace(_, appendJobs, _, _, _) = traced(VectorIndex.appendLsh(
      emb.where(col("vec_id") >= 100 && col("vec_id") < 150), "vec_id", "embedding", path))
    info(s"warm lshTopK(...).collect(): $probeJobs jobs; appendLsh: $appendJobs jobs")
    assert(probeJobs <= 4 && appendJobs <= 3,
      s"warm probe ran $probeJobs jobs, append $appendJobs")
  }

  test("the Lloyd reduction keeps the aggregate's bits: kMeans and PQ train, jobs") {
    import graft.Traced.traced
    import graft.operators.ProductQuantizer
    def bits(xs: Seq[Seq[Double]]): Seq[Seq[Long]] =
      xs.map(_.map(java.lang.Double.doubleToRawLongBits))
    val rnd = new java.util.Random(41L)
    val centers = IndexedSeq.fill(8)(Array.fill(32)(rnd.nextGaussian()))
    val rows = (0 until 600).map { i =>
      (i.toLong, centers(rnd.nextInt(8)).map(x => (x + 0.3 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val local = rows.toDF("id", "vec")
    def parquet(parts: Int): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-lloyd-$parts").toString
      local.repartition(parts).write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions == parts)
      df
    }
    val inputs = Seq("local" -> local, "parquet x1" -> parquet(1), "parquet x4" -> parquet(4))
    inputs.foreach { case (what, df) =>
      for ((c, iters) <- Seq(8 -> 2, 16 -> 3)) {
        assert(bits(Similarity.kMeans(df, "id", "vec", c, iters)) ==
          bits(aggregateKMeans(df, "id", "vec", c, iters)), s"kMeans c = $c on $what")
      }
      for ((m, k) <- Seq(4 -> 16, 8 -> 8)) {
        val got = ProductQuantizer.train(df, "id", "vec", m, k, iters = 2)
        val want = aggregateTrain(df, "id", "vec", m, k, iters = 2)
        assert(got.books.map(bits) == want.books.map(bits), s"train m = $m, k = $k on $what")
      }
    }

    // a duplicate among the first C rows by id: its twin wins every tie,
    // so in the first round bucket (and cell) 1 stays empty and keeps its
    // seed
    val a = Seq(1f, 0.5f, -0.25f, 2f)
    val twins = ((0L, a) +: (1L, a) +: (2L, Seq(-1f, 2f, 0.5f, -0.5f)) +:
      (3 until 60).map(i => (i.toLong, Seq.fill(4)(rnd.nextGaussian().toFloat)))).toDF("id", "vec")
    val seed = a.map(_.toDouble)
    val km = Similarity.kMeans(twins, "id", "vec", c = 3, iters = 1)
    assert(km(1) == seed, s"empty bucket moved: $km")
    assert(bits(km) == bits(aggregateKMeans(twins, "id", "vec", c = 3, iters = 1)))
    val pq = ProductQuantizer.train(twins, "id", "vec", m = 2, k = 3, iters = 1)
    assert(pq.books.map(_(1)) == Seq(seed.take(2), seed.drop(2)), s"empty cell moved: $pq")
    assert(pq.books.map(bits) ==
      aggregateTrain(twins, "id", "vec", m = 2, k = 3, iters = 1).books.map(bits))

    // one job per round, plus the init collect that fills the loop's cache
    val df = inputs.last._2
    val kMeansJobs = traced(Similarity.kMeans(df, "id", "vec", c = 8, iters = 2)).jobs
    val trainJobs = traced(ProductQuantizer.train(df, "id", "vec", 4, 16, iters = 2)).jobs
    info(s"jobs: kMeans(iters = 2) $kMeansJobs, ProductQuantizer.train(iters = 2) $trainJobs")
    assert(kMeansJobs <= 3, s"kMeans(iters = 2) ran $kMeansJobs jobs")
    assert(trainJobs <= 3, s"ProductQuantizer.train(iters = 2) ran $trainJobs jobs")
  }

  test("the Lloyd reduction merges on the executors: the driver gets C x dim sums, not a set per partition") {
    import org.apache.spark.graftshim.ListenerShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val (cells, width, parts) = (512, 64, 16)
    // one row per cell in every partition, so each partition's partials
    // cover all C cells: merged on the driver, that would be 16 × C × dim
    val rows = spark.range(0, cells.toLong * parts, 1, parts)
      .select(array((0 until width).map(i => ((col("id") * (i + 1)) % 97 - 48).cast("float")): _*)
        .as("vec"), col("id"))
    assert(rows.rdd.getNumPartitions == parts)
    val sc = spark.sparkContext
    val resultBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) { resultBytes.addAndGet(e.taskMetrics.resultSize); () }
    }
    ListenerShim.drain(sc)
    sc.addSparkListener(listener)
    val (n, s) =
      try {
        val out = Similarity.lloydSums(rows, cells, width)((row, _, _) => (row.getLong(1) % cells).toInt)
        ListenerShim.drain(sc)
        out
      } finally sc.removeSparkListener(listener)
    val sums = cells.toLong * width * 8
    info(s"result bytes to the driver: ${resultBytes.get} (C x dim x 8 = $sums, x $parts partitions = ${sums * parts})")
    assert(resultBytes.get <= 2 * sums, s"${resultBytes.get} result bytes for $sums bytes of sums")
    // and the sums are the partition-order fold: row `p * C + c` is
    // partition p's one row of cell c
    assert(n.toSeq == Seq.fill(cells)(parts.toLong))
    val want = (0 until cells).flatMap { c =>
      (0 until width).map { i =>
        (0 until parts).foldLeft(0.0) { (acc, p) =>
          acc + ((p.toLong * cells + c) * (i + 1) % 97 - 48).toFloat.toDouble
        }
      }
    }
    assert(s.toSeq.map(java.lang.Double.doubleToRawLongBits) == want.map(java.lang.Double.doubleToRawLongBits))
  }
}
