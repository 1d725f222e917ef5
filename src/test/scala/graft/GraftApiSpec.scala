package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("extract: options + colTypes compose like reference dataset options") {
    val df = Seq(
      (1L, 10.0, "A", "keep"),
      (2L, 55.0, "B", "keep"),
      (3L, 90.0, "A", "keep")
    ).toDF("permno", "prc", "exch", "junk_col")
    val out = Graft.extract(df,
      drop = Some("junk:"),
      rename = Some("prc=price"),
      where = Some("price ge 20 and exch eq 'A'"),
      colTypes = Map("permno" -> "integer"))
    assert(out.columns.toSeq === Seq("permno", "price", "exch"))
    assert(out.schema("permno").dataType.typeName === "integer")
    assert(out.select("permno").as[Int].collect().toSeq === Seq(3))
  }

  test("extract: where references post-rename names, obs limits") {
    val df = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "v")
    val out = Graft.extract(df, obs = Some(7L))
    assert(out.count() === 7)
  }

  test("listTables and splitSqlFile delegate correctly") {
    assert(Graft.listTables(spark, "/root/testdata/sf0.001").count() === 10)
    assert(Graft.splitSqlFile("CREATE TABLE a (x int);\nDROP TABLE b; ;") ===
      Seq("CREATE TABLE a (x int)", "DROP TABLE b"))
  }

  test("dedupSuite: one shingle pass feeds jaccard, minhash, and top-ngrams") {
    val rnd = new scala.util.Random(3L)
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val docs0 = Seq(
      (1L, base + " bank"),
      (2L, base + " shore"), // near-dup of 1
      (3L, (1 to 12).map(_ => f"u${rnd.nextInt(100000)}%05d").mkString(" ")),
      (4L, (1 to 12).map(_ => f"u${rnd.nextInt(100000)}%05d").mkString(" "))
    ).toDF("doc_id", "text")
    // count every input-row read: the suite must tokenize the corpus once
    // (shared shingle pass) plus one winner-string resolution scan — 2N,
    // where the three standalone operators would pay 4N
    val acc = spark.sparkContext.longAccumulator("doc_reads")
    val docs = docs0.as[(Long, String)]
      .map { r => acc.add(1); r }.toDF("doc_id", "text")
    val suite = Graft.dedupSuite(docs, "doc_id", "text", n = 3, tau = 0.6,
      k = 64, bands = 16, topK = 5)
    try {
      val jac = suite.jaccardPairs.collect()
      val mh = suite.minhashPairs.collect()
      val top = suite.topNgrams.as[(String, Long)].collect().toSeq
      assert(acc.value == 2 * 4, s"expected 2 passes over 4 docs, got ${acc.value} reads")
      // results identical to the standalone operators
      val jacExp = graft.operators.Dedup.ngramJaccardPairs(docs0, "doc_id", "text", 3, 0.6).collect()
      val mhExp = graft.operators.MinHashLSH.nearDupPairs(docs0, "doc_id", "text", 3, 64, 16, 0.6).collect()
      val topExp = graft.operators.Dedup.topNgrams(docs0, "doc_id", "text", 3, 5)
        .as[(String, Long)].collect().toSeq
      assert(jac.toSet == jacExp.toSet && jac.nonEmpty)
      assert(mh.toSet == mhExp.toSet && mh.nonEmpty)
      assert(top == topExp && top.size == 5)
    } finally suite.unpersist()
  }

  test("dedupSuite and the dense tier never regroup shingle rows by document") {
    import graft.Traced.traced
    import graft.operators.Dedup
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every node of an executed plan, through AQE stages and into the
    // plans that fill the caches it reads
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def byDocAggregates(plans: Seq[SparkPlan]): Seq[SparkPlan] = plans.flatMap(nodes).filter {
      case a: BaseAggregateExec => a.groupingExpressions match {
        case Seq(e: NamedExpression) => e.name == "_id"
        case _ => false
      }
      case _ => false
    }
    // the fixture of the shared-pass case above
    val rnd = new scala.util.Random(3L)
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val docs = Seq(
      (1L, base + " bank"),
      (2L, base + " shore"),
      (3L, (1 to 12).map(_ => f"u${rnd.nextInt(100000)}%05d").mkString(" ")),
      (4L, (1 to 12).map(_ => f"u${rnd.nextInt(100000)}%05d").mkString(" "))
    ).toDF("doc_id", "text")
    val Trace(_, suiteJobs, _, suitePlans, _) = traced {
      val suite = Graft.dedupSuite(docs, "doc_id", "text", n = 3, tau = 0.6,
        k = 64, bands = 16, topK = 5)
      try {
        suite.jaccardPairs.collect(); suite.minhashPairs.collect(); suite.topNgrams.collect()
      } finally suite.unpersist()
    }
    info(s"dedupSuite build + three collects: $suiteJobs jobs")
    assert(byDocAggregates(suitePlans).isEmpty,
      s"dedupSuite regrouped by _id: ${byDocAggregates(suitePlans).map(_.nodeName)}")
    // the uniform corpus of DedupSpec's tier-0 case: hot set empty, dense
    // mass over the limit
    val rndU = new scala.util.Random(7L)
    val vocab = (0 until 12).map(i => s"u$i")
    val baseU = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rndU.nextInt(vocab.size))).mkString(" "))
    }
    val uniform = (baseU ++ baseU.take(5).map { case (id, tx) => (id + 500L, tx) })
      .toDF("doc_id", "text")
    val (tier, _, _) = Dedup.jaccardRoute(
      Dedup.shingleHashes(uniform, "doc_id", "text", 3), 0.5, 100)
    assert(tier == 0, s"the uniform corpus routed tier $tier")
    val Trace(pairs, _, _, densePlans, _) = traced(
      Dedup.ngramJaccardPairsPrefix(uniform, "doc_id", "text", 3, 0.5, broadcastPairLimit = 100)
        .collect())
    assert(pairs.nonEmpty)
    assert(byDocAggregates(densePlans).isEmpty,
      s"the dense tier regrouped by _id: ${byDocAggregates(densePlans).map(_.nodeName)}")
    assert(suiteJobs <= 30, s"dedupSuite ran $suiteJobs jobs")
  }

  test("semDedup and stripDupSpans facades delegate to the operators") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (10L, Array(0.9f, 0.1f)), (11L, Array(1.8f, 0.2f)) // 2×vec10: cosine 1
    ).toDF("vec_id", "embedding")
    val kept = Graft.semDedup(vecs, "vec_id", "embedding", c = 2, iters = 2, tau = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 1L, 10L))
    val docs = Seq(
      (1L, "abcde0123456789fghij"),
      (2L, "klmno0123456789pqrst")).toDF("doc_id", "text")
    val stripped = Graft.stripDupSpans(docs, "doc_id", "text", l = 6, s = 1)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(stripped(1L) === "abcde0123456789fghij" && stripped(2L) === "klmnopqrst")
  }

  test("lmPerplexity, classifyQuality, dsirResample facades delegate") {
    val s = spark
    import s.implicits._
    val corpus = Seq(1L -> "a b", 2L -> "z z").toDF("doc_id", "text")
    val ref = Seq(100L -> "a b a c").toDF("doc_id", "text")
    val ppl = Graft.lmPerplexity(corpus, ref, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(ppl(0).getDouble(3) == 2.6667 && ppl(1).getDouble(3) == 4.0)
    val train = Seq((10L, "good good", true), (11L, "bad", false))
      .toDF("doc_id", "text", "label")
    val scored = Graft.classifyQuality(
      Seq(1L -> "good").toDF("doc_id", "text"), train, "doc_id", "text", "label")
      .collect()
    assert(scored(0).getInt(3) == 1)
    val raw = ((1L to 10L).map(i => i -> s"aa bb u$i") ++
      (11L to 20L).map(i => i -> s"xx yy u$i")).toDF("doc_id", "text")
    val sel = Graft.dsirResample(
      raw, Seq(100L -> "aa bb cc").toDF("doc_id", "text"),
      "doc_id", "text", sampleN = 5)
      .select("doc_id").as[Long].collect()
    assert(sel.length == 5 && sel.count(_ <= 10) >= 4)
  }

  test("curateCorpus: scrub → gate → dedup → decontaminate → chunk, end to end") {
    val s = spark
    import s.implicits._
    // a doc that passes the quality gate: 25 words, mwl in window, stopwords
    def good(tag: String) =
      ((1 to 20).map(i => f"${tag}wd$i%02d") ++ Seq("the", "a", "of", "is", "in"))
        .mkString(" ")
    val bench = Seq(100L -> good("x")).toDF("doc_id", "text")
    val docs = Seq(
      1L -> (good("a") + " reach me at bob@example.com"), // survives (PII scrubbed)
      2L -> "way too short",                              // fails quality gate
      3L -> good("b"),                                    // survives
      4L -> good("b"),                                    // exact dup of 3 → dropped
      5L -> good("x")                                     // contaminated vs bench → dropped
    ).toDF("doc_id", "text")
    val out = Graft.curateCorpus(docs, "doc_id", "text", bench,
      maxContam = 0.2, chunkSize = 16, overlap = 0)
    val byDoc = out.collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2))).toMap
    assert(byDoc.keySet == Set(1L, 3L), s"kept ${byDoc.keySet}")
    // doc 1 kept its text with the email tokenized, chunked at 16/0
    val doc1 = byDoc(1L).mkString(" ").split("\\s+")
    assert(doc1.contains("<EMAIL>") && !doc1.contains("bob@example.com"))
    assert(byDoc(3L).length == 2 && byDoc(3L)(0).split(" ").length == 16)
  }

  test("curateCorpusAudit: one disposition per doc, consistent with curateCorpus") {
    val s = spark
    import s.implicits._
    def good(tag: String) =
      ((1 to 20).map(i => f"${tag}wd$i%02d") ++ Seq("the", "a", "of", "is", "in"))
        .mkString(" ")
    val bench = Seq(100L -> good("x")).toDF("doc_id", "text")
    val docs = Seq(
      1L -> (good("a") + " reach me at bob@example.com"),
      2L -> "way too short",
      3L -> good("b"),
      4L -> good("b"),
      5L -> good("x")
    ).toDF("doc_id", "text")
    val audit = Graft.curateCorpusAudit(docs, "doc_id", "text", bench, maxContam = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(audit.keySet === Set(1L, 2L, 3L, 4L, 5L)) // every input doc, exactly once
    assert(audit(1L)._1 === "kept")
    assert(audit(2L) === (("quality", None, None)))
    assert(audit(3L)._1 === "kept")
    assert(audit(4L) === (("duplicate", Some(3L), None)))
    assert(audit(5L)._1 === "contaminated" && audit(5L)._3.exists(_ >= 0.2))
    // kept docs carry their measured margin to the threshold
    assert(audit(1L)._3.exists(_ < 0.2) && audit(3L)._3.exists(_ < 0.2))
    // lineage agrees with the pipeline: audit's kept set IS the doc set
    // curateCorpus emits chunks for
    val kept = audit.collect { case (id, ("kept", _, _)) => id }.toSet
    val survived = Graft.curateCorpus(docs, "doc_id", "text", bench,
      maxContam = 0.2, chunkSize = 16, overlap = 0)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(kept === survived)
  }

  test("crawl facades: readWarc, ingestCrawlHtml, imageFeatures, pageRankTol delegate") {
    val s2 = spark
    import s2.implicits._
    val warcDir = new java.io.File("src/test/resources/warc").getAbsolutePath
    assert(Graft.readWarc(spark, warcDir).count() == 7)
    val docs = Graft.ingestCrawlHtml(spark, warcDir)
    assert(docs.columns.toSeq == Seq("record_id", "target_uri", "warc_date", "text"))
    assert(docs.where(org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("text")) > 0).count() == 1)
    val feats = Graft.imageFeatures(
      graft.multimodal.Images.withPatternPayload(Seq(3L).toDF("doc_id"), "doc_id", 32, 24),
      "doc_id", "payload")
    assert(feats.columns.contains("ahash") && feats.count() == 1)
    val pr = Graft.pageRankTol(
      Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("s", "t"), "s", "t", tol = 1e-8)
    assert(math.abs(pr.agg(org.apache.spark.sql.functions.sum("rank"))
      .head.getDouble(0) - 1.0) < 1e-9)
  }
}
