package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries run in sorted name order; the cache is cleared between queries so
  * one operator's cached lineage can't distort (or subsidize) another's
  * time. Results are fully materialized through the `noop` sink — a count()
  * would let column pruning skip most of the computed projections.
  *
  * The suite runs SPARK_GRAFT_BENCH_REPS (default 2) full passes and
  * reports the per-query MINIMUM: this host shows multi-minute windows of
  * hypervisor CPU steal that inflate whatever queries happen to be running
  * 10-50× (the same binary measured 101 s and 366 s total back-to-back);
  * min-over-passes estimates the unperturbed cost. "value" is the sum of
  * the reported per-query times.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark: SparkSession = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (scheduler, parquet reader, codegen pipeline) so the
    // alphabetically-first query doesn't absorb one-time JVM init costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // HOST CALIBRATION: a fixed corpus-independent microbenchmark (codegen
    // CPU pass + one real exchange), min of 2 runs, recorded as "calib_s".
    // This host drifts 15-20% between days with multi-minute steal windows
    // (SURVEY §13) — cross-artifact comparisons should read query ratios
    // AGAINST the calib ratio before believing a regression.
    val calib = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(50000000L).selectExpr("bit_xor(xxhash64(id))").collect()
      spark.range(10000000L).selectExpr("id % 1000000 as k")
        .groupBy("k").count().selectExpr("sum(count)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // SPARK_GRAFT_ONLY=q101_dup_spans,q45_ngram_topk runs a subset — for
    // iterating on one operator without paying the full suite. The
    // special values "recall" and "regime" run ONLY that gated suite
    // (floors / router assert still enforced) with zero board queries —
    // so the sf1 recall gate can be exercised without a 20-minute board.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val suiteOnly = only.exists(s => s == Set("recall") || s == Set("regime"))
    val names =
      if (suiteOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
    // Only SUCCESSFUL runs feed the per-query minimum: a throwing query's
    // near-zero elapsed time must not masquerade as a speedup. A query with
    // zero successful reps is reported in "failed" (value -1) and excluded
    // from the total, so a regression that breaks a query is visible in the
    // JSON rather than flattering it.
    val best = scala.collection.mutable.Map[String, Double]()
    val worst = scala.collection.mutable.Map[String, Double]()
    val shufMb = scala.collection.mutable.Map[String, Double]()
    val spillMb = scala.collection.mutable.Map[String, Double]()
    val everFailed = scala.collection.mutable.Set[String]()
    // Per-query shuffle-WRITE bytes (runtime evidence for the zero-shuffle
    // fusion claims — a plan audit shows intent, this shows what moved):
    // a listener accumulates stage shuffle writes; the bus is drained
    // before each delta is read so attribution follows the query.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          spillBytes.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
          ()
        }
      })
    (1 to reps).foreach { _ =>
      names.foreach { case (name, fn) =>
        org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
        val b0 = shuffleBytes.get()
        val sp0 = spillBytes.get()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // localCheckpoint RDD blocks are NOT cache-manager entries, so
        // clearCache leaves them resident; across a 147-query × 2-rep
        // board they accumulate into storage pressure that inflated
        // mid-board queries 3-5× in the round-9 closing run (same-day
        // subset A/B: q32 5.4 s vs 26.9 s in board context, identical
        // shuffle bytes). Queries are independent here, so release every
        // persisted RDD between them.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // Shuffle files and broadcast blocks are ContextCleaner's to
        // reclaim, and its queue only fills on GC — which a 128 GiB heap
        // may not trigger for whole minutes while finished queries' files
        // pile up under the local dirs (page-cache pollution + I/O
        // contention for live queries: the round-9 residual board-context
        // inflation on q33/q130/q120, byte-identical shuffle, ~2× wall).
        // Drain deterministically once the residue crosses 1 GiB; the
        // telemetry line records before/after so the mechanism stays
        // visible in every board log.
        val diskB = org.apache.spark.graftshim.EnvShim.localDirBytes(spark.sparkContext)
        val bcast0 = org.apache.spark.graftshim.EnvShim.broadcastBlocks(spark.sparkContext)
        // dead broadcasts hold STORAGE memory until the cleaner runs, and
        // storage pressure steals from execution — drain on either residue
        val diskAfter =
          if (diskB > (1L << 30) || bcast0 > 256)
            org.apache.spark.graftshim.EnvShim.drainDisk(spark.sparkContext)
          else diskB
        val bcast = org.apache.spark.graftshim.EnvShim.broadcastBlocks(spark.sparkContext)
        // open-fd accounting (Linux): a leaking reader/writer shows up as
        // monotone growth here long before "Too many open files" kills a
        // 100 TB run — stderr only, never in the JSON contract
        val fds = try new java.io.File("/proc/self/fd").list().length
                  catch { case _: Throwable => -1 }
        if (fds >= 0) System.err.println(
          f"[bench] $name%-28s ${dt}%8.2fs fds=$fds " +
            f"disk=${diskB / 1e6}%.0f->${diskAfter / 1e6}%.0fMB bcast=$bcast0->$bcast")
        if (ok) {
          if (dt < best.getOrElse(name, Double.MaxValue)) {
            org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
            shufMb(name) =
              math.round((shuffleBytes.get() - b0) / 1e6 * 100.0) / 100.0
            spillMb(name) =
              math.round((spillBytes.get() - sp0) / 1e6 * 100.0) / 100.0
          }
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
          worst(name) = math.max(worst.getOrElse(name, 0.0), dt)
        } else everFailed += name
      }
    }
    val failed = names.map(_._1).filterNot(best.contains)
    val qs = names.map { case (k, _) => "\"" + k + "\":" + best.getOrElse(k, -1.0) }
      .mkString("{", ",", "}")
    val total = best.values.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-query max/min ratio across reps: a CPU-steal window shows up as a
    // handful of queries with spread ≫ 1 while their min stays sane, letting
    // a reader distinguish host noise from a real regression without re-runs.
    val spread = names.collect { case (k, _) if best.contains(k) =>
      "\"" + k + "\":" + math.round(worst(k) / best(k) * 100.0) / 100.0
    }.mkString("{", ",", "}")
    val shuffleJson = names.collect { case (k, _) if shufMb.contains(k) =>
      "\"" + k + "\":" + shufMb(k)
    }.mkString("{", ",", "}")
    // disk spill per query (same listener): nonzero values flag partition
    // sizing problems long before they become cluster incidents
    val spillJson = names.collect {
      case (k, _) if spillMb.getOrElse(k, 0.0) > 0.0 =>
        "\"" + k + "\":" + spillMb(k)
    }.mkString("{", ",", "}")
    // The recall floors and the router assertions are enforced at the
    // board SFs (r8 VERDICT #2); there a gated suite that THROWS checked
    // nothing, so it counts as a breach and the bench exits 1 instead of
    // printing an empty tail.
    val gatedSf = Seq("sf0.1", "sf1")
      .exists(s => sfDir.stripSuffix("/").endsWith(s))
    // Approximate-ANN recall@10 vs brute force at this SF (SURVEY §9):
    // timings alone can't show an index trading away its recall, so the
    // floor is tracked longitudinally alongside them. Mean over 10 spread
    // query ids (a single query's recall is ±0.3 noise at this corpus
    // size); candidates-scanned rides along so the multiprobe recall lift
    // is readable AGAINST its candidate cost, not in isolation.
    // subset runs (SPARK_GRAFT_ONLY) are single-operator iteration — skip
    // the recall suite there; the driver's full run always computes it
    val recallJson = if (only.isDefined && only != Some(Set("recall"))) (false, "") else try {
      import graft.operators.Similarity
      import org.apache.spark.sql.functions.col
      val emb = graft.core.Tables.load(spark, sfDir, "embeddings").cache()
      val total = emb.count()
      // Scale-aware rerank shortlist (SURVEY §4.c): with fixed code
      // quality, ADC ranking quality per candidate is corpus-size
      // invariant, so holding the SHORTLIST/CORPUS ratio fixed holds
      // shortlist+rerank recall roughly fixed (IVFADC's R parameter,
      // Jégou et al. 2011 — R grows with N for iso-recall). A constant
      // R=100 was why the round-8 sf1 board read 0.14/0.43/0.41 on the
      // rerank paths vs 0.45/0.76/0.82 at sf0.1: a 10x corpus at the same
      // R starves the exact re-rank, which is an OPERATOR-PARAMETER
      // artifact, not a code regression. R = max(100, N/20) = 5% of the
      // corpus, exactly 100 at the sf0.1 calibration point.
      val shortlist = math.max(100L, total / 20L).toInt
      val qIds = (0 until 10).map(i => (i * 199L) % total)
      val qvecs = emb.where(col("vec_id").isin(qIds: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("vec_id").collect().map(_.getLong(0)).toSet
      val centroids = Similarity.kMeans(emb, "vec_id", "embedding", c = 8, iters = 2)
      var rIvf = 0.0
      var rIvf4 = 0.0
      val rLsh = Array(0.0, 0.0, 0.0)
      val cLsh = Array(0L, 0L, 0L)
      qvecs.foreach { case (qid, q) =>
        val brute = ids(Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10, Some(qid)))
        def r(s: Set[Long]) = (s & brute).size.toDouble / brute.size
        rIvf += r(ids(Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, q, 2, 10, Some(qid))))
        rIvf4 += r(ids(Similarity.ivfTopK(emb, "vec_id", "embedding", centroids, q, 4, 10, Some(qid))))
        val byTable = Similarity.hyperplanes(4 * 6, q.length, 42L).grouped(4).toSeq
        (1 to 3).foreach { np =>
          val cond = byTable.map { planes =>
            Similarity.lshBucket(col("embedding"), planes)
              .isin(Similarity.multiprobeBuckets(planes, q, np): _*)
          }.reduce(_ || _)
          cLsh(np - 1) += emb.where(cond).count()
          rLsh(np - 1) += r(ids(Similarity.lshTopK(
            emb, "vec_id", "embedding", q, 4, 6, 42L, 10, Some(qid), nprobe = np)))
        }
      }
      // PQ code quality, plain vs residual: raw ADC at shortlist = k so
      // the exact re-rank cannot mask the codes (full-probe — no IVF
      // pruning in the way). On cluster-free embeddings both floors are
      // expected low and close (SURVEY §9); the comparison is the point.
      import graft.operators.{ProductQuantizer, VectorIndex}
      val pqPlain = ProductQuantizer.train(emb, "vec_id", "embedding", 4, 16, 2)
      val encP = ProductQuantizer.encode(emb, "vec_id", "embedding", pqPlain).cache()
      val pqRes = VectorIndex.trainResidualPq(emb, "vec_id", "embedding", centroids, 4, 16, 2)
      val encR = Similarity.assignBuckets(emb, "vec_id", "embedding", centroids)
        .select((col("vec_id") +: ProductQuantizer.codeCols(col("embedding"), pqRes,
          Some(col("bucket") -> centroids))) :+ col("bucket"): _*).cache()
      // OPQ (Ge et al. 2013): same 4-byte payload, learned rotation. Two
      // variants — k=16 isolates what the ROTATION buys over pqPlain
      // (nothing on isotropic embeddings, by design), k=256 fills the four
      // stored bytes completely (4x8-bit codes vs 4x4-bit) and is the
      // deployed same-budget configuration.
      import graft.operators.Opq
      val opq16 = Opq.train(emb, "vec_id", "embedding", 4, 16)
      val encO16 = Opq.encode(emb, "vec_id", "embedding", opq16).cache()
      val opq256 = Opq.train(emb, "vec_id", "embedding", 4, 256)
      val encO256 = Opq.encode(emb, "vec_id", "embedding", opq256).cache()
      // Deployed-index recall (q116/q142 partitioned shapes): plain
      // residual codes vs the OPQ rotation at the SAME 4-byte budget
      // (k=256 both), probed full (nprobe=C) at shortlist=k so the codes
      // — not the rerank, not the pruning — set the floor.
      val resPq256 = VectorIndex.trainResidualPq(emb, "vec_id", "embedding", centroids, 4, 256, 2)
      val resOpq256 = VectorIndex.trainResidualOpq(emb, "vec_id", "embedding", centroids, 4, 256)
      val idxDirP = java.nio.file.Files.createTempDirectory("bench-ivfpqres").toString
      val idxDirO = java.nio.file.Files.createTempDirectory("bench-ivfpqopq").toString
      VectorIndex.writeIvfPq(emb, "vec_id", "embedding", centroids, resPq256, idxDirP, residual = true)
      VectorIndex.writeIvfPqOpq(emb, "vec_id", "embedding", centroids, resOpq256, idxDirO, residual = true)
      var rPq = 0.0
      var rPqRes = 0.0
      var rPqRerank = 0.0
      var rOpq16 = 0.0
      var rOpqRerank = 0.0
      var rIdxRes = 0.0
      var rIdxOpq = 0.0
      var rIdxOpqRerank = 0.0
      qvecs.foreach { case (qid, q) =>
        val brute = ids(Similarity.bruteTopK(emb, "vec_id", "embedding", q, 10, Some(qid)))
        def r(s: Set[Long]) = (s & brute).size.toDouble / brute.size
        rPq += r(ids(ProductQuantizer.adcTopK(encP, "vec_id", pqPlain, q, 10, Some(qid))))
        // The deployed form (q110): ADC shortlist=100 + exact re-rank —
        // the raw-ADC floors above isolate CODE quality, this one reports
        // what the operator actually returns.
        rPqRerank += r(ids(ProductQuantizer.rerankTopK(
          emb, "vec_id", "embedding", encP, pqPlain, q, 10, shortlist, Some(qid))))
        rOpq16 += r(ids(Opq.adcTopK(encO16, "vec_id", opq16, q, 10, Some(qid))))
        rOpqRerank += r(ids(Opq.rerankTopK(
          emb, "vec_id", "embedding", encO256, opq256, q, 10, shortlist, Some(qid))))
        rIdxRes += r(ids(VectorIndex.ivfTopKPq(
          spark, idxDirP, "vec_id", "embedding", q, 8, 10, 10, Some(qid))))
        rIdxOpq += r(ids(VectorIndex.ivfTopKPq(
          spark, idxDirO, "vec_id", "embedding", q, 8, 10, 10, Some(qid))))
        rIdxOpqRerank += r(ids(VectorIndex.ivfTopKPq(
          spark, idxDirO, "vec_id", "embedding", q, 8, 10, shortlist, Some(qid))))
        val off = org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.array(
            centroids.map(c => org.apache.spark.sql.functions.lit(
              c.zip(q).map { case (a, b) => a * b }.sum)): _*),
          col("bucket").cast("int") + 1)
        rPqRes += r(ids(ProductQuantizer.adcTopK(
          encR, "vec_id", pqRes, q, 10, Some(qid), dotOffset = off)))
      }
      encP.unpersist(); encR.unpersist(); encO16.unpersist(); encO256.unpersist()
      val nq = qvecs.length
      emb.unpersist()
      def f(x: Double) = math.rint(x / nq * 1000) / 1000.0
      val vals = Seq(
        "ivf_c8_nprobe2" -> f(rIvf), "ivf_c8_np4" -> f(rIvf4),
        "lsh_4bit_6tab" -> f(rLsh(0)), "lsh_np2" -> f(rLsh(1)),
        "lsh_np3" -> f(rLsh(2)), "pq_adc_m4" -> f(rPq),
        "pq_adc_res_m4" -> f(rPqRes), "pq_rerank_m4" -> f(rPqRerank),
        "pq_adc_opq16" -> f(rOpq16), "pq_rerank_opq" -> f(rOpqRerank),
        "ivfpq_res_k256" -> f(rIdxRes), "ivfpq_opq_k256" -> f(rIdxOpq),
        "ivfpq_opq_rerank" -> f(rIdxOpqRerank))
      // ASSERTED floors (SURVEY §9), not just measured: a silent ANN
      // regression — a rotation sidecar bug, a broken shortlist — must
      // fail the bench, not ride along as a smaller number. Calibrated at
      // sf0.1 (the driver's bench SF) with ~40% headroom below the
      // longitudinal values; enforced only there because recall is a
      // corpus-statistics quantity, and only on the deployed
      // (shortlist+rerank / multiprobe) forms — raw-ADC floors are
      // diagnostic by design.
      val floors = Map(
        "ivf_c8_nprobe2" -> 0.30, "ivf_c8_np4" -> 0.55,
        "lsh_4bit_6tab" -> 0.35, "lsh_np2" -> 0.60, "lsh_np3" -> 0.70,
        "pq_rerank_m4" -> 0.30, "pq_rerank_opq" -> 0.55,
        "ivfpq_opq_rerank" -> 0.60)
      val vmap = vals.toMap
      // gated at BOTH board SFs (r8 VERDICT #2): the scaled shortlist
      // makes the deployed-form floors scale-transportable, so a
      // recall cliff that only appears at 10x data now FAILS the bench
      // instead of hiding outside the sf0.1-only gate
      val breached =
        if (gatedSf)
          floors.toSeq.sortBy(_._1).collect {
            case (k, fl) if vmap.getOrElse(k, 1.0) < fl =>
              s""""$k":{"got":${vmap(k)},"floor":$fl}"""
          }
        else Seq.empty
      val breachJson =
        if (breached.isEmpty) ""
        else s""","recall_breach":${breached.mkString("{", ",", "}")}"""
      val kv = vals.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
      (breached.nonEmpty,
        s""","recall":{$kv,"shortlist":$shortlist,"lsh_cands":{"np1":${cLsh(0) / nq},"np2":${cLsh(1) / nq},"np3":${cLsh(2) / nq},"corpus":$total},"queries":$nq}$breachJson""")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] recall failed: $e")
        (gatedSf, if (gatedSf) ""","recall_breach":{"suite":"threw"}""" else "")
    }
    val (recallBreached, recallTail) = recallJson
    // Corpus-regime evidence for the adaptive Jaccard router (SURVEY §13):
    // the sf synthetic documents share shingles UNIFORMLY (40-word
    // vocabulary, no hot head), so the board's q31 family always routes
    // dense and never shows the prefix filter's real-text win. This block
    // synthesizes a deterministic BOILERPLATE corpus — the regime real
    // text guarantees (license headers, navigation chrome, stock
    // phrases): 40k docs each carrying one of 200 hot 10-token templates
    // inside otherwise-unique text, plus 400 planted near-dup families.
    // The frequency order demotes the hot template shingles out of every
    // prefix, so prefix candidates collapse to the planted near-dups,
    // while the dense equi-join must meet every same-template pair —
    // quadratic in template popularity. Reports, side by side: the
    // router's decision on each corpus, the prefix candidate volume vs
    // the dense meet volume, and both generators' walls. Evidence, not
    // a gate — output identity across paths is spec-pinned.
    var routeBreach = "" // non-empty => router regression, bench exits 1
    val regimeTail = if (only.isDefined && only != Some(Set("regime"))) "" else try {
      import graft.operators.Dedup
      import spark.implicits._
      val rnd = new scala.util.Random(1234L)
      val boiler = (0 until 200).map(t => (0 until 10).map(j => s"b${t}x$j").mkString(" "))
      val zbase = (0 until 40000).map { i =>
        val uniq = (0 until 50).map(j => s"u${i}w$j")
        val ins = rnd.nextInt(40)
        (i.toLong, (uniq.take(ins) ++ Seq(boiler(i % 200)) ++ uniq.drop(ins)).mkString(" "))
      }
      val fams = (0 until 400).map { i =>
        val t = zbase(i)._2.split(" ")
        val a = t.clone()
        (0 until 1 + i % 2).foreach(_ => a(rnd.nextInt(a.length)) = s"m${i}z${rnd.nextInt(100)}")
        (100000L + i, a.mkString(" "))
      }
      val tau = 0.8
      val setsZ = Dedup.shingleSets(
        (zbase ++ fams).toDF("doc_id", "text"), "doc_id", "text", 3).cache()
      setsZ.count()
      // route IS the production decision path (one code path, so
      // this probe cannot drift from what the board executes) — and the
      // tier choice is ASSERTED, not just reported: the Zipfian
      // boilerplate corpus must route prefix (tier 2) and the uniform-
      // sharing sf documents must take the tier-0 dense exit, or the
      // bench fails the same way a recall-floor breach does (r8 VERDICT
      // #4 — previously a silently-dense router rode along as numbers).
      // its third element is the dense meet mass, and on tier 2 its
      // prefix yields the very candidates the routed path verifies
      val (tierZ, pfxZ, meets) = Dedup.route(setsZ, tau, 1 << 20)
      // (null when the corpus misroutes: no prefix, no candidates)
      val cand = pfxZ.map(Dedup.prefixPairs(_).count().toString).getOrElse("null")
      pfxZ.foreach(_.unpersist())
      if (tierZ != 2)
        routeBreach += s"boilerplate corpus routed tier $tierZ, expected prefix (2); "
      // shuffle bytes per path ride the same listener as the board: on a
      // network-bound cluster the exchange volume — not the local wall,
      // where 32 in-memory cores hide it — is what the candidate
      // reduction buys, so both numbers are reported side by side
      def timedShuffle(f: => Unit): (Double, Double) = {
        org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
        val b0 = shuffleBytes.get()
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
        (dt, (shuffleBytes.get() - b0) / 1e6)
      }
      var nPairs = 0L
      val (tp, shufP) =
        timedShuffle { nPairs = Dedup.prefixJaccard(setsZ, tau).count() }
      val (td, shufD) =
        timedShuffle { Dedup.denseJaccard(setsZ, tau).count(); () }
      setsZ.unpersist()
      val setsSf = Dedup.shingleSets(
        graft.core.Tables.load(spark, sfDir, "documents"), "doc_id", "text", 3).cache()
      setsSf.count()
      val (tierSf, pfxSf, _) = Dedup.route(setsSf, tau, 1 << 20)
      pfxSf.foreach(_.unpersist())
      // the sf documents must take a DENSE exit at board SFs — tier 0 at
      // sf0.1 (no shingle crosses hotMinDf, mass over the limit) and
      // tier 1 at sf1 (the 10× marker construction pushes 27k shingles
      // over hotMinDf, so the hot set is nonempty and the prefix
      // meet-mass probe makes the call — §13 measured both). Tier 2
      // anywhere here means the router burned a prefix plan it provably
      // throws away; tier-0-vs-1 is corpus statistics, not a regression.
      val sfBase = sfDir.stripSuffix("/")
      if (sfBase.endsWith("sf0.1") && tierSf != 0)
        routeBreach += s"sf0.1 documents routed tier $tierSf, expected tier-0 dense; "
      else if (sfBase.endsWith("sf1") && tierSf == 2)
        routeBreach += s"sf1 documents routed tier 2 (prefix), expected a dense exit; "
      setsSf.unpersist()
      def s2(x: Double) = math.rint(x * 100) / 100.0
      s""","jaccard_regime":{"boilerplate":{"tier":$tierZ,""" +
        s""""cand":$cand,"meets":$meets,"pairs":$nPairs,""" +
        s""""adaptive_s":${s2(tp)},"dense_s":${s2(td)},""" +
        s""""adaptive_shuffle_mb":${s2(shufP)},"dense_shuffle_mb":${s2(shufD)}},""" +
        s""""sf_docs":{"tier":$tierSf}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] jaccard_regime failed: $e")
        if (gatedSf) routeBreach += s"jaccard_regime suite threw ($e); "
        ""
    }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"shuffle_mb":$shuffleJson,"spill_mb":$spillJson,"failed":$failedJson$recallTail$regimeTail,"calib_s":${math.rint(calib * 100) / 100.0},"sf":"$sfDir","reps":$reps}"""
    println(line)
    // The driver's artifact keeps only a tail of stdout, which truncates
    // the per-query map on a 140+-key board — ALWAYS leave the complete
    // line on disk too (SPARK_GRAFT_BENCH_FILE overrides the default), so
    // every round has a full board for longitudinal comparison.
    val benchFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "BENCH_local_last.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(benchFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $benchFile failed: $e") }
    // COMPACT FINAL LINE (round 15, r14 VERDICT item 2): the driver keeps
    // only a ~2000-char tail of stdout and parses a JSON line out of it;
    // the full line above (158 unrounded floats + spread/shuffle/recall/
    // regime ≈ 15 KB) has overflowed that tail since round 2 — every
    // BENCH_r*.json carries "parsed": null because the tail begins
    // mid-line. A complete per-query map cannot fit either: the 158 key
    // names alone are ~2.7 KB before a single value. So the LAST stdout
    // line is a compact summary that provably fits the tail: total /
    // calib / failed plus the SLOWEST queries' seconds (0.01-rounded),
    // greedily packed to a fixed character budget (slowest-first, so the
    // keys that carry the board's wall are the ones the driver can read).
    // Additions-only: the canonical full-precision line above and the
    // full board in SPARK_GRAFT_BENCH_FILE are unchanged; "value" remains
    // the sum over ALL queries, and "n_queries"/"q_shown" make the
    // truncation explicit rather than silent.
    val r2 = (v: Double) => math.rint(v * 100) / 100.0
    val bySec = names.map(_._1).filter(best.contains).sortBy(k => (-best(k), k))
    val compactBudget = 1400
    val headC = s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":{"""
    val js = new StringBuilder(headC)
    var first = true
    var shown = 0
    val itC = bySec.iterator
    var fullC = false
    while (itC.hasNext && !fullC) {
      val k = itC.next()
      val e = (if (first) "" else ",") + "\"" + k + "\":" + r2(best(k))
      // tailC is recomputed per iteration only via shown; approximate its
      // length with a fixed-worst-case reserve instead (shown ≤ 999)
      val reserve = 120 + failedJson.length + sfDir.length
      if (js.length + e.length + reserve <= compactBudget) {
        js.append(e); first = false; shown += 1
      } else fullC = true
    }
    js.append("}")
    js.append(s""","n_queries":${names.length},"q_shown":$shown""")
    js.append(s""","failed":$failedJson,"calib_s":${r2(calib)}""")
    js.append(s""","sf":"$sfDir","reps":$reps}""")
    println(js.toString)
    spark.stop()
    if (recallBreached) {
      System.err.println("[bench] RECALL FLOOR BREACH (or the recall suite threw) — see recall_breach in the JSON line")
      sys.exit(1)
    }
    if (routeBreach.nonEmpty) {
      System.err.println(s"[bench] JACCARD ROUTER REGRESSION — $routeBreach")
      sys.exit(1)
    }
  }
}
