package graft

import graft.functions.ArrayMath
import graft.Traced.traced
import graft.operators.{Banding, Dedup, MinHashLSH, SimHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long)].collect()
    assert(got === Seq(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("ngram jaccard finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set(1L -> 2L, 1L -> 4L, 2L -> 4L))
  }

  test("topNgrams: two-phase hashed equals the string aggregate, boundary ties exact") {
    // 2 popular shingles + a wide count-1 tie group: the k-th slot boundary
    // sits INSIDE the tie group, so exactness requires resolving tied
    // strings before the final (n_docs desc, shingle asc) cut.
    val rnd = new scala.util.Random(7L)
    val popular = (1 to 12).map(i => (i.toLong, s"alpha beta gamma pad$i"))
    val uniq = (13 to 40).map { i =>
      val w = (1 to 5).map(_ => f"w${rnd.nextInt(10000)}%04d").mkString(" ")
      (i.toLong, w)
    }
    val df = (popular ++ uniq).toDF("doc_id", "text")
    for (k <- Seq(1, 3, 7, 25)) {
      val exp = Dedup.shingles(df, "doc_id", "text", n = 3)
        .groupBy("shingle").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("shingle").asc).limit(k)
        .as[(String, Long)].collect().toSeq
      val got = Dedup.topNgrams(df, "doc_id", "text", n = 3, k = k)
        .as[(String, Long)].collect().toSeq
      assert(got == exp, s"k=$k")
    }
    // a tie group wider than tieCap fails loudly instead of truncating
    val e = intercept[IllegalArgumentException] {
      Dedup.topNgrams(df, "doc_id", "text", n = 3, k = 2, tieCap = 1).collect()
    }
    assert(e.getMessage.contains("tieCap"))
  }

  test("prefix-filtered jaccard equals the full equi-join at every tau, with fewer candidates") {
    // randomized corpus with planted mutation families: doc i and its copies
    // at increasing edit counts span similarities from ~0.95 down past any
    // tested tau, so every threshold cuts INSIDE a family.
    val rnd = new scala.util.Random(11L)
    val vocab = (0 until 200).map(i => f"w$i%03d")
    val base = (0 until 25).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val mutated = base.flatMap { case (id, text) =>
      (1 to 3).map { m =>
        val w = text.split(" ")
        (0 until m * 3).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
        (id + 1000L * m, w.mkString(" "))
      }
    }
    // exact copies keep every tau (incl. 1.0) non-vacuous
    val copies = base.take(5).map { case (id, tx) => (id + 5000L, tx) }
    val corpus = (base ++ mutated ++ copies).toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.6, 0.8, 1.0)) {
      val sh = Dedup.shingleHashes(corpus, "doc_id", "text", n = 3).cache()
      val sets = Dedup.shingleSets(corpus, "doc_id", "text", n = 3).cache()
      val exp = Dedup.denseJaccard(sets, tau)
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      val got = Dedup.prefixJaccard(sets, tau)
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      assert(got == exp, s"tau=$tau")
      // the fused path (prefix tagged inside the shingle pass) too
      val fused = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", n = 3, tau)
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      assert(fused == exp, s"fused tau=$tau")
      if (tau >= 0.6) {
        // candidate pairs from prefixes alone must undercut the full
        // equi-join's distinct meeting pairs — the whole point of the filter
        val full = sh.as("x").join(sh.as("y"), col("x.sh") === col("y.sh"))
          .where(col("x._id") < col("y._id"))
          .select(col("x._id"), col("y._id")).distinct().count()
        // the routed path's own prefix (limit MaxValue: always tier 2)
        val prefix = Dedup.jaccardRoute(sh, tau, Int.MaxValue)._2.get
        val pref = Dedup.prefixPairs(prefix).count()
        prefix.unpersist()
        assert(pref < full, s"tau=$tau: prefix $pref !< full $full")
      }
      assert(exp.nonEmpty, s"tau=$tau cut above every planted pair")
      sh.unpersist(); sets.unpersist()
    }
  }

  test("ngram containment: directed semantics with the asymmetric divisor") {
    // doc 2 embeds doc 1's text whole inside extra context: C(1->2) = 1.0
    // (every shingle of 1 appears in 2) while C(2->1) = 8/12 and the
    // symmetric Jaccard sits at 8/12 too — containment sees the
    // quoted-in-full relation Jaccard underranks as the container grows
    val c = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (2L, "x1 x2 a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 y1 y2"),
      (3L, "completely unrelated words here only once")).toDF("doc_id", "text")
    val hi = Dedup.ngramContainmentPairs(c, "doc_id", "text", n = 3, tau = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(hi === Set((1L, 2L, 1.0)))
    val lo = Dedup.ngramContainmentPairs(c, "doc_id", "text", n = 3, tau = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(lo === Set((1L, 2L, 1.0), (2L, 1L, 0.666667)))
  }

  test("containment prefix path equals the dense directed join at every tau") {
    val rnd = new scala.util.Random(13L)
    val vocab = (0 until 200).map(i => f"w$i%03d")
    val base = (0 until 25).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // containment-shaped plants: doc i's text embedded whole in longer
    // docs, plus mutated copies so thresholds cut inside families
    val containers = base.take(10).map { case (id, tx) =>
      val pad = (0 until 10).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id + 5000L, s"$pad $tx ${vocab(rnd.nextInt(vocab.size))}")
    }
    val mutated = base.flatMap { case (id, text) =>
      (1 to 2).map { m =>
        val w = text.split(" ")
        (0 until m * 3).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
        (id + 1000L * m, w.mkString(" "))
      }
    }
    val corpus = (base ++ containers ++ mutated).toDF("doc_id", "text")
    for (tau <- Seq(0.4, 0.6, 0.8, 1.0)) {
      val sets = Dedup.shingleSets(corpus, "doc_id", "text", n = 3).cache()
      val exp = Dedup.denseContainment(sets, tau)
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      val got = Dedup.prefixContainment(sets, tau)
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      assert(got == exp, s"tau=$tau")
      assert(exp.nonEmpty, s"tau=$tau cut above every planted containment")
      // the shared _set verifier's shuffle arm (pair rows not broadcast,
      // and nothing broadcast by size) plus the containment divide,
      // candidates = all directed pairs so completeness can't mask a
      // verify bug
      val allPairs = sets.select(col("_id").as("a"))
        .crossJoin(sets.select(col("_id").as("b")))
        .where(col("a") =!= col("b")).distinct().localCheckpoint()
      val conf = spark.conf
      try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val Trace(nb, _, plans, _, _) = traced(Dedup.containmentScores(
            Dedup.setPairCounts(sets, allPairs, broadcastPairs = false), tau)
          .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq)
        assert(nb == exp, s"no-broadcast tau=$tau")
        assert(!plans.exists(_.contains("BroadcastHashJoin")), s"tau=$tau: shuffle arm expected")
      } finally conf.unset("spark.sql.autoBroadcastJoinThreshold")
      sets.unpersist()
    }
  }

  test("edge-bounded broadcast guard: distributed fallback equals the broadcast path") {
    // broadcastPairLimit/broadcastLoserLimit = 0 force the limit-probe to
    // refuse every broadcast, degrading to unhinted shuffle joins — the
    // output must be byte-identical to the (default) broadcast path
    val base = (1 to 20).map(i => s"g$i").mkString(" ")
    val corpus = Seq(
      (1L, base), (2L, base + " tail"), (3L, base),
      (4L, "own words entirely different document four"),
      (5L, "y1 y2 y3 y4 y5 y6 y7 y8 y9"), (6L, "y1 y2 y3 y4 y5 y6 y7 y8 y9")
    ).toDF("doc_id", "text")
    val bc = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    val dist = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", n = 3, tau = 0.6,
        broadcastPairLimit = 0)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(bc == dist && bc.nonEmpty, s"broadcast $bc vs distributed $dist")
    val score = size(graft.operators.TextAnalysis.tokens(col("text")))
    val bcBy = Dedup.dedupCorpusBy(corpus, "doc_id", "text", n = 3, tau = 0.6, score)
      .select("doc_id").as[Long].collect().toSet
    val distBy = Dedup.dedupCorpusBy(corpus, "doc_id", "text", n = 3, tau = 0.6, score,
        broadcastLoserLimit = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(bcBy == distBy, s"broadcast $bcBy vs distributed $distBy")
    val bcCorpus = Dedup.dedupCorpus(corpus, "doc_id", "text", n = 3, tau = 0.6)
      .select("doc_id").as[Long].collect().toSet
    val distCorpus = Dedup.dedupCorpus(corpus, "doc_id", "text", n = 3, tau = 0.6,
        broadcastLoserLimit = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(bcCorpus == distCorpus, s"broadcast $bcCorpus vs distributed $distCorpus")
  }

  test("tier-0 df routing: hot-empty uniform sharing goes dense before any prefix, Zipfian stays prefix") {
    // uniform degenerate corpus (the sf1-audit shape): tiny vocabulary,
    // every shingle df well under hotMinDf, sharing pervasive — dense
    // mass blows the limit while the hot set stays empty
    val rnd = new scala.util.Random(7L)
    val vocab = (0 until 12).map(i => s"u$i")
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // exact copies keep the identity check non-vacuous at any tau
    val uniform = (base ++ base.take(5).map { case (id, tx) => (id + 500L, tx) })
      .toDF("doc_id", "text")
    val setsU = Dedup.shingleSets(uniform, "doc_id", "text", n = 3).cache()
    val (hotU, t0U, _) = Dedup.jaccardDfRouting(setsU, broadcastPairLimit = 100)
    assert(hotU.isEmpty && t0U, s"uniform corpus must tier-0 dense (hot=${hotU.length})")
    // Zipfian-shaped corpus: one stock phrase in >hotMinDf docs plus
    // unique filler — the hot head exists, so tier 0 must NOT fire even
    // at limit 0 (tier 1's exact prefix mass owns the decision there)
    val zipf = (0 until 80).map { i =>
      (i.toLong, s"alpha beta gamma delta o${i}a o${i}b o${i}c o${i}d o${i}e o${i}f")
    }.toDF("doc_id", "text")
    val setsZ = Dedup.shingleSets(zipf, "doc_id", "text", n = 3).cache()
    val (hotZ, t0Z, _) = Dedup.jaccardDfRouting(setsZ, broadcastPairLimit = 0)
    assert(hotZ.nonEmpty && !t0Z, s"hot-headed corpus must not tier-0 (hot=${hotZ.length})")
    // below the limit nothing fires regardless of shape
    val (_, t0Small, _) = Dedup.jaccardDfRouting(setsU, broadcastPairLimit = Int.MaxValue)
    assert(!t0Small, "mass under the limit must not tier-0")
    // and the routed output still equals the dense reference on the
    // degenerate corpus (the tier-0 path end-to-end)
    val exp = Dedup.denseJaccard(setsU, 0.5)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    val got = Dedup.prefixJaccard(setsU, 0.5, broadcastPairLimit = 100)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(got == exp && exp.nonEmpty, s"tier-0 output mismatch (${exp.size} expected pairs)")
    // a replayed batch (rows repeated whole, an exact-copy pair's among
    // them) leaves the tier-0 pairs as they are: no self-pairs, no
    // double-counted shingles
    val replayed = uniform.unionByName(uniform.where(col("doc_id") % 7 === 0))
    val gotReplayed = Dedup.ngramJaccardPairsPrefix(replayed, "doc_id", "text", n = 3, tau = 0.5,
        broadcastPairLimit = 100)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(gotReplayed == exp, s"replayed rows changed the tier-0 pairs: $gotReplayed")
    setsU.unpersist(); setsZ.unpersist()
  }

  test("dedupCorpusBy keeps the highest-score member per cluster, min id on ties") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, base),                            // cluster A, short
      (2L, base + " extra tail words here"), // cluster A, longest -> keeper
      (3L, base),                            // cluster A, short
      (4L, "a lonely singleton document with its own words"),
      (5L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"), // cluster B, equal length
      (6L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")  // -> tie, min id 5 wins
    ).toDF("doc_id", "text")
    val score = size(graft.operators.TextAnalysis.tokens(col("text")))
    val best = Dedup.dedupCorpusBy(corpus, "doc_id", "text", n = 3, tau = 0.6, score)
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(2L, 4L, 5L), s"got $best")
    // min-id keeper for contrast: same clusters, different survivor in A
    val minId = Dedup.dedupCorpus(corpus, "doc_id", "text", n = 3, tau = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 4L, 5L), s"got $minId")
  }

  test("dedupCorpusBy: an id column named `id` keeps the same survivors as `doc_id`") {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (1L, base), (2L, base + " extra tail words here"), (3L, base),
      (4L, "a lonely singleton document with its own words"),
      (5L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"), (6L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
    val score = size(graft.operators.TextAnalysis.tokens(col("text")))
    def survivors(idCol: String, limit: Int): Set[Long] =
      Dedup.dedupCorpusBy(rows.toDF(idCol, "text"), idCol, "text", n = 3, tau = 0.6, score,
          broadcastLoserLimit = limit)
        .select(idCol).as[Long].collect().toSet
    // both join shapes: broadcast members, and the unhinted shuffle
    for (limit <- Seq(1 << 20, 0)) {
      val byDocId = survivors("doc_id", limit)
      assert(byDocId == Set(2L, 4L, 5L), s"doc_id, limit $limit: got $byDocId")
      assert(survivors("id", limit) == byDocId, s"id, limit $limit")
    }
    // shuffle joins only: the member join must carry (id, score), so the
    // one exchange holding `text` is the final anti-join's corpus side (a
    // reused exchange counts: the member join would read `text` again)
    val conf = spark.conf
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (idCol <- Seq("doc_id", "id")) {
        val out = Dedup.dedupCorpusBy(rows.toDF(idCol, "text"), idCol, "text", n = 3,
          tau = 0.6, score, broadcastLoserLimit = 0)
        assert(out.collect().map(_.getAs[Long](idCol)).toSet == Set(2L, 4L, 5L), idCol)
        val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        val textShuffles = helper.collect(out.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.output.exists(_.name == "text") => e
          case e: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
              if e.output.exists(_.name == "text") => e
        }
        assert(textShuffles.size == 1, s"$idCol: ${out.queryExecution.executedPlan}")
      }
    } finally conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the shingle pass shuffles the text only of an input narrower than the default parallelism") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val par = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-shingle-fanout").toString
    val corpus = (1 to 64).map(i => (i.toLong, s"doc $i shares the words of doc ${i % 7} and more"))
      .toDF("doc_id", "text")
    corpus.repartition(par).write.parquet(s"$dir/wide")
    corpus.coalesce(1).write.parquet(s"$dir/one")
    val helper = new AdaptiveSparkPlanHelper {}
    def shingled(input: org.apache.spark.sql.DataFrame) = {
      val sets = Dedup.shingleSets(input, "doc_id", "text", 3)
      val rows = sets.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val textShuffles = helper.collect(sets.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
      }
      (rows, textShuffles.size)
    }
    val wide = spark.read.parquet(s"$dir/wide")
    assert(wide.rdd.getNumPartitions >= par)
    val (wideSets, wideShuffles) = shingled(wide)
    assert(wideShuffles == 0, "an input split at least the default parallelism wide shuffled its text")
    val one = spark.read.parquet(s"$dir/one")
    assert(one.rdd.getNumPartitions == 1)
    val (oneSets, oneShuffles) = shingled(one)
    assert(oneShuffles == 1, "a one-split input must still fan out")
    assert(wideSets == oneSets && wideSets.size == 64)
  }

  test("simhashes shuffles the text only of an input narrower than the default parallelism") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val par = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-simhash-fanout").toString
    val corpus = (1 to 64).map(i => (i.toLong, s"doc $i shares the words of doc ${i % 7} and more"))
      .toDF("doc_id", "text")
    corpus.repartition(par).write.parquet(s"$dir/wide")
    corpus.coalesce(1).write.parquet(s"$dir/one")
    val helper = new AdaptiveSparkPlanHelper {}
    def hashed(input: org.apache.spark.sql.DataFrame) = {
      val sims = SimHash.simhashes(input, "doc_id", "text")
      val rows = sims.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val textShuffles = helper.collect(sims.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
      }
      (rows, textShuffles.size)
    }
    val wide = spark.read.parquet(s"$dir/wide")
    assert(wide.rdd.getNumPartitions >= par)
    val (wideHashes, wideShuffles) = hashed(wide)
    assert(wideShuffles == 0, "an input split at least the default parallelism wide shuffled its text")
    val one = spark.read.parquet(s"$dir/one")
    assert(one.rdd.getNumPartitions == 1)
    val (oneHashes, oneShuffles) = hashed(one)
    assert(oneShuffles == 1, "a one-split input must still fan out")
    assert(wideHashes == oneHashes && wideHashes.size == 64)
  }

  test("minhash LSH candidates verify to the same pairs as exact ngram jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect()
    val lsh = MinHashLSH.nearDupPairs(docs, "doc_id", "text", n = 3, k = 64, bands = 16, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect()
    // high-similarity pairs (>=0.9 jaccard) are guaranteed; here ALL planted
    // pairs are >= 0.8 so LSH recall should be total, with identical jaccards
    assert(lsh === exact)
  }

  test("minhash: both _set verification arms equal exact ngram jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(exact.nonEmpty)
    def run(limit: Int): (Seq[(Long, Long, Double)], Seq[String]) = {
      val Trace(got, _, plans, _, _) = traced(MinHashLSH.nearDupPairsOf(
          Dedup.shingleSets(docs, "doc_id", "text", 3), k = 64, bands = 16, tau = 0.6,
          broadcastPairLimit = limit)
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq)
      (got, plans)
    }
    // default limit: both _set lookups stream the doc table against a
    // broadcast of the candidate side
    val (dflt, dfltPlans) = run(1 << 20)
    assert(dflt == exact)
    assert(dfltPlans.exists(_.contains("BroadcastHashJoin")), "broadcast arm expected")
    // limit 0 with no size-based broadcast: both lookups become shuffle
    // joins with identical rows
    val conf = spark.conf
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (shuffled, plans) = run(0)
      assert(shuffled == exact)
      assert(!plans.exists(_.contains("BroadcastHashJoin")), "shuffle arm expected")
    } finally conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhash verification broadcasts pair rows only, never a _set") {
    // few candidate pairs (well under the broadcast limit) over large sets:
    // four ~3000-token near-copies of one text and two unrelated texts
    val rnd = new scala.util.Random(23L)
    def text(): IndexedSeq[String] = IndexedSeq.fill(3000)(s"t${rnd.nextInt(50000)}")
    val base = text()
    val copies = (1 to 4).map { i =>
      val edited = (0 until 20).foldLeft(base)((ws, _) => ws.updated(rnd.nextInt(3000), s"e$i"))
      (i.toLong, edited.mkString(" "))
    }
    val big = (copies ++ Seq((5L, text().mkString(" ")), (6L, text().mkString(" "))))
      .toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(big, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(exact.size == 6)
    // the prefix calls below verify their candidates through the same
    // _set verifier: both must take the prefix tier here, and equal the
    // dense generator
    val sets = Dedup.shingleSets(big, "doc_id", "text", 3).cache()
    val (tier, prefix, _) = Dedup.route(sets, 0.6, 1 << 20)
    prefix.foreach(_.unpersist())
    assert(tier == 2, s"the large-set corpus routed tier $tier")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    assert(rows(Dedup.denseJaccard(sets, 0.6)) == exact)
    val expC = rows(Dedup.denseContainment(sets, 0.6))
    assert(expC.size == 12)
    sets.unpersist()
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    val conf = spark.conf
    try {
      // only the operators' own hints may broadcast here
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val calls = Seq[(String, () => Seq[(Long, Long, Double)], Seq[(Long, Long, Double)])](
        ("minhash", () => rows(MinHashLSH.nearDupPairs(big, "doc_id", "text", n = 3, k = 64,
          bands = 16, tau = 0.6)), exact),
        ("prefix jaccard", () => rows(Dedup.ngramJaccardPairsPrefix(big, "doc_id", "text",
          n = 3, tau = 0.6)), exact),
        ("prefix containment", () => rows(Dedup.ngramContainmentPairs(big, "doc_id", "text",
          n = 3, tau = 0.6)), expC))
      for ((what, call, expected) <- calls) {
        val Trace(got, _, _, plans, _) = traced(call())
        assert(got == expected, what)
        val broadcasts = plans.flatMap(p => helper.collect(p) { case b: BroadcastExchangeExec => b })
        assert(broadcasts.nonEmpty, s"$what: the candidate side should be broadcast")
        for (b <- broadcasts)
          assert(!b.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
            s"$what: a broadcast carries an array column: ${b.output.mkString(", ")}")
        // one intersection per verified pair: a pushed-down column filter
        // over the score would evaluate it again in its condition
        def intersections(p: SparkPlan): Int =
          helper.flatMap(p)(_.expressions.flatMap(_.collect { case e: ArrayIntersect => e })).size
        val verifying = plans.map(intersections).filter(_ > 0)
        assert(verifying.nonEmpty, s"$what: no plan verifies by _set intersection")
        assert(verifying.forall(_ == 1), s"$what: array_intersect per plan: $verifying")
      }
    } finally conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("minhash signature kernel equals the xxhash64 column form; shingle sets equal the hash rows") {
    val rnd = new scala.util.Random(47L)
    val fuzz = (1 to 80).map { i =>
      val words = (0 until rnd.nextInt(30)).map(_ => f"w${rnd.nextInt(12)}")
      (i.toLong * (if (i % 3 == 0) -1L else 1L) + (if (i % 4 == 0) 3000000000L else 0L),
        words.mkString(if (rnd.nextBoolean()) " " else "  "))
    }
    val edge = Seq(
      (-1001L, ""), (-1002L, "   "), (-1003L, null: String), (-1004L, "one two"),
      (Int.MaxValue.toLong + 1L, "a a a a a a a"), // one shingle, repeated
      (Long.MinValue, "x y z x y z x y z"), // repeated shingles
      (Long.MaxValue, "p q r"))
    val df = (fuzz ++ edge).toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(df, "doc_id", "text", 3).cache()
    val rows = sh.as[(Long, Long)].collect().groupBy(_._1)
      .map { case (id, r) => id -> r.map(_._2).sorted.toSeq }
    // empty, null and short docs get no row; the others keep every shingle
    assert(Seq(-1001L, -1002L, -1003L, -1004L).forall(id => !rows.contains(id)))
    assert(rows(Int.MaxValue.toLong + 1L).size == 1 && rows(Long.MinValue).size == 3)
    val sets = Dedup.shingleSets(df, "doc_id", "text", 3).cache()
    assert(sets.as[(Long, Seq[Long])].collect().toMap == rows)
    for (k <- Seq(8, 64)) {
      val model = MinHashLSH.signaturesWith(sh, k, (i, c) => xxhash64(lit(i), c))
        .as[(Long, Seq[Long])].collect().toMap
      assert(model.keySet == rows.keySet)
      assert(MinHashLSH.signatures(sh, k).as[(Long, Seq[Long])].collect().toMap == model,
        s"k=$k: signatures(sh, k) differs from the column form")
      val fromSets = MinHashLSH.signed(sets, k).select("_id", "sig")
        .as[(Long, Seq[Long])].collect().toMap
      assert(fromSets == model, s"k=$k: the kernel over the shingle sets differs")
    }
    // the kernel reads (_id, sh) as longs: a string id is refused by Spark's up-cast
    intercept[org.apache.spark.sql.AnalysisException](
      MinHashLSH.signatures(sh.withColumn("_id", col("_id").cast("string")), 8))
    sets.unpersist()
    sh.unpersist()
  }

  test("planted-md5 minhash (q162 seam): verified subset of exact pairs, exact dups guaranteed, driver-model signatures") {
    val shs = Dedup.shingles(docs, "doc_id", "text", n = 3)
      .withColumnRenamed("shingle", "sh").cache()
    val got = MinHashLSH.nearDupPairsMd5(shs, k = 8, bands = 4, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    // verification is exact: every emitted pair is a true >=tau pair with
    // the same 6dp jaccard
    assert(got.toSet.subsetOf(exact.toSet), s"got ${got.toSeq} vs $exact")
    // identical shingle sets have identical signatures in EVERY band, so
    // exact duplicates (jaccard 1.0) can never be lost to banding
    val dups = exact.filter(_._3 == 1.0)
    assert(dups.toSet.subsetOf(got.toSet))
    // and the signature itself is replicable arithmetic: a driver-side
    // model (min over md5 hex of "shingle:i") matches the engine's
    val sets = shs.as[(Long, String)].collect().groupBy(_._1)
      .map { case (id, rows) => id -> rows.map(_._2).toSet }
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    val engineSigs = MinHashLSH.signaturesWith(shs, 8,
        (i, c) => md5(concat(c, lit(":" + i))))
      .as[(Long, Seq[String])].collect().toMap
    sets.foreach { case (id, set) =>
      val model = (0 until 8).map(i => set.map(s => md5hex(s"$s:$i")).min)
      assert(engineSigs(id) === model, s"doc $id signature mismatch")
    }
    shs.unpersist()
  }

  test("shinglesFused equals the declarative shingles on fuzzed and edge-case text") {
    val rnd = new scala.util.Random(31L)
    val fuzz = (1 to 60).map { i =>
      val nWords = rnd.nextInt(12)
      val words = (0 until nWords).map(_ => f"w${rnd.nextInt(8)}")
      (i.toLong, words.mkString(if (rnd.nextBoolean()) " " else "  "))
    }
    val edge = Seq(
      (100L, ""), (101L, "   "), (102L, null: String),
      (103L, "one two"), (104L, "a b c"), (105L, "a\tb\nc  d"),
      (106L, "x x x x x")) // repeated token: per-doc distinct must dedup
    val df = (fuzz ++ edge).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val exp = Dedup.shingles(df, "doc_id", "text", n)
        .orderBy("_id", "shingle").as[(Long, String)].collect().toSeq
      val got = Dedup.shinglesFused(df, "doc_id", "text", n)
        .orderBy("_id", "shingle").as[(Long, String)].collect().toSeq
      assert(got == exp, s"n=$n mismatch")
    }
  }

  test("densePairCounts: refuses loudly when the pair shuffle exceeds the disk budget") {
    val sets = Dedup.shingleSets(docs, "doc_id", "text", n = 3)
    val conf = spark.conf
    try {
      conf.set("graft.dedup.maxPairShuffleBytes", "1")
      val e = intercept[IllegalStateException](
        Dedup.denseJaccard(sets, tau = 0.6))
      // the refusal names the estimated bytes, the mass, and the knob
      assert(e.getMessage.contains("pairs x 8 B/pair"), e.getMessage)
      assert(e.getMessage.contains("graft.dedup.maxPairShuffleBytes"))
      // -1 disables the budget; the same call then runs to completion
      conf.set("graft.dedup.maxPairShuffleBytes", "-1")
      assert(Dedup.denseJaccard(sets, tau = 0.6).count() > 0)
    } finally conf.unset("graft.dedup.maxPairShuffleBytes")
  }

  test("densePairCounts: the size-ordered generator equals a brute-force model on four id layouts") {
    // randomized mutation families (thresholds cut inside a family); each
    // copy is also SHORTER than its base, so set sizes differ inside a
    // family and rank order (size, then id) disagrees with id order
    val rnd = new scala.util.Random(23L)
    val vocab = (0 until 150).map(i => f"v$i%03d")
    val docs0 = (0 until 20).flatMap { i =>
      val w = Array.fill(22 + i)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, w.mkString(" ")) +: (1 to 2).map { m =>
        val v = w.dropRight(m)
        (0 until m * 2).foreach(_ => v(rnd.nextInt(v.length)) = vocab(rnd.nextInt(vocab.size)))
        (i + 1000L * m, v.mkString(" "))
      }
    }
    val sets0 = docs0.map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet }.toMap
    // the largest set gets the smallest id: rank order is the reverse of
    // id order, so a pair emitted in rank orientation shows as a > b
    val bySizeDesc = sets0.toSeq.sortBy { case (id, s) => (-s.size, id) }
      .map(_._1).zipWithIndex.toMap
    val layouts = Seq[(String, Long => Long)](
      "ids as given" -> identity,
      "ids + 5e9" -> (_ + 5_000_000_000L),
      "negative ids" -> (id => -id - 1L),
      "size falls as id rises" -> (id => bySizeDesc(id).toLong))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    def check(what: String, got: Seq[(Long, Long, Double)], exp: Seq[(Long, Long, Double)]): Unit = {
      assert(got.map(r => (r._1, r._2)) == exp.map(r => (r._1, r._2)) && exp.nonEmpty, what)
      got.zip(exp).foreach { case (g, e) => assert(math.abs(g._3 - e._3) <= 5e-7, s"$what: $g vs $e") }
    }
    val conf = spark.conf
    for ((name, f) <- layouts) {
      val sets = sets0.map { case (id, s) => f(id) -> s }
      val ids = sets.keys.toSeq.sorted
      val common = (for (a <- ids; b <- ids if a != b) yield (a, b) -> (sets(a) & sets(b)).size).toMap
      val expJ = for ((a, b) <- common.keys.toSeq.sorted if a < b;
                      c = common((a, b)); j = c.toDouble / (sets(a).size + sets(b).size - c)
                      if j >= 0.5) yield (a, b, j)
      val expC = for ((a, b) <- common.keys.toSeq.sorted;
                      x = common((a, b)).toDouble / sets(a).size if x >= 0.6) yield (a, b, x)
      val shSets = Dedup.shingleSets(docs0.map { case (id, t) => (f(id), t) }.toDF("doc_id", "text"),
        "doc_id", "text", n = 3).cache()
      val (tier, prefix, _) = Dedup.route(shSets, 0.5, 1 << 20)
      prefix.foreach(_.unpersist())
      assert(tier == 2, s"$name: the prefix path must be the routed one")
      check(s"$name dense jaccard", rows(Dedup.denseJaccard(shSets, 0.5)), expJ)
      check(s"$name prefix jaccard", rows(Dedup.prefixJaccard(shSets, 0.5)), expJ)
      check(s"$name dense containment", rows(Dedup.denseContainment(shSets, 0.6)), expC)
      check(s"$name prefix containment", rows(Dedup.prefixContainment(shSets, 0.6)), expC)
      // the raw generator, with the rank table forced through shuffle joins
      // and the rank sort left uncoalesced (several sorted partitions to
      // number): every meeting pair once, oriented smaller set first (ties:
      // smaller id), with exact sizes and intersection
      val raw = try {
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        Dedup.densePairCounts(shSets, -1L, rankBroadcastLimit = 0)(identity)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      } finally {
        conf.unset("spark.sql.autoBroadcastJoinThreshold")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      }
      val expRaw = common.collect { case ((a, b), c) if c > 0 &&
          (sets(a).size < sets(b).size || sets(a).size == sets(b).size && a < b) =>
        (a, b, sets(a).size.toLong, sets(b).size.toLong, c.toLong) }.toSet
      assert(raw == expRaw, s"$name raw counts")
      shSets.unpersist()
    }
  }

  test("densePairCounts: slim packed-pair path equals the legacy wide-key path") {
    // the wide-key generator is gone from Dedup; this keeps it as a
    // reference model (long ids, (id, size) structs in the postings, every
    // i < j meeting grouped on (a, b, sa, sb)) and pins the packed-pair
    // path's Jaccard and directed-containment output to it, row for row
    val rnd = new scala.util.Random(23L)
    val vocab = (0 until 150).map(i => f"v$i%03d")
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 25).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val mutated = base.flatMap { case (id, text) =>
      (1 to 2).map { m =>
        val w = text.split(" ")
        (0 until m * 2).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
        (id + 1000L * m, w.mkString(" "))
      }
    }
    val corpus = (base ++ mutated).toDF("doc_id", "text")
    def wideKeyCounts(sh: org.apache.spark.sql.DataFrame) = {
      val sizes = sh.groupBy("_id").agg(count(lit(1)).as("sz"))
      sh.join(sizes, "_id")
        .groupBy("sh")
        .agg(sort_array(collect_list(struct(col("_id").as("i"), col("sz").as("z")))).as("ps"))
        .select(posexplode(col("ps")).as(Seq("_p", "x")), col("ps"))
        .select(col("x"), explode(slice(col("ps"), col("_p") + lit(2),
          size(col("ps")) - col("_p") - lit(1))).as("y"))
        .groupBy(col("x.i").as("a"), col("y.i").as("b"), col("x.z").as("sa"), col("y.z").as("sb"))
        .agg(count(lit(1)).as("common"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
    def run(df: org.apache.spark.sql.DataFrame) = {
      val sh = Dedup.shingleHashes(df, "doc_id", "text", n = 3).cache()
      val sets = Dedup.shingleSets(df, "doc_id", "text", n = 3).cache()
      val j = rows(Dedup.denseJaccard(sets, 0.5))
      val c = rows(Dedup.denseContainment(sets, 0.6))
      val wide = wideKeyCounts(sh)
      val legJ = rows(wide
        .withColumn("jaccard",
          col("common").cast("double") / (col("sa") + col("sb") - col("common")))
        .where(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard")))
      val legC = rows(wide
        .select(explode(array(
          struct(col("a"), col("b"),
            (col("common").cast("double") / col("sa")).as("containment")),
          struct(col("b").as("a"), col("a").as("b"),
            (col("common").cast("double") / col("sb")).as("containment")))).as("r"))
        .select(col("r.a").as("a"), col("r.b").as("b"), col("r.containment"))
        .where(col("containment") >= 0.6)
        .select(col("a"), col("b"), round(col("containment"), 6).as("containment")))
      sh.unpersist(); sets.unpersist()
      (j, c, legJ, legC)
    }
    val (slimJ, slimC, legJ, legC) = run(corpus)
    assert(slimJ == legJ && slimJ.nonEmpty)
    assert(slimC == legC && slimC.nonEmpty)
    // ids past 2^31 (the wide-key path's old territory) give the
    // offset-identical pair set, and still match the reference
    val big = corpus.withColumn("doc_id", col("doc_id") + lit(5_000_000_000L))
    val (bigJ, bigC, bigLegJ, bigLegC) = run(big)
    assert(bigJ == bigLegJ && bigC == bigLegC)
    assert(bigJ == slimJ.map { case (a, b, x) =>
      (a + 5_000_000_000L, b + 5_000_000_000L, x) })
  }

  test("candidatePairs: each banded pair exactly once, set equals the naive shared-bucket model") {
    // hand-built k=8 signatures over 4 bands of 2: docs 1/2 identical
    // (share ALL four bands), 3 meets them only in band 0, 4 meets 1/2 in
    // the non-contiguous bands 1 and 3, 5 isolated. The first-shared-band
    // arithmetic must emit multi-band pairs ONCE — a duplicate would
    // reach the `_set` intersection verify twice and emit its pair twice.
    val sigs = Seq(
      (1L, Seq(10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L)),
      (2L, Seq(10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L)),
      (3L, Seq(10L, 11L, 99L, 98L, 97L, 96L, 95L, 94L)),
      (4L, Seq(77L, 76L, 20L, 21L, 75L, 74L, 40L, 41L)),
      (5L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    ).toDF("_id", "sig")
    val got = MinHashLSH.candidatePairs(sigs, bands = 4, rowsPerBand = 2)
      .as[(Long, Long)].collect()
    assert(got.length == got.distinct.length, s"duplicate pairs in ${got.toSeq}")
    val rows = sigs.as[(Long, Seq[Long])].collect()
    val model = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      if (0 until 4).exists(j => sa.slice(2 * j, 2 * j + 2) == sb.slice(2 * j, 2 * j + 2))
    } yield (a, b)).toSet
    assert(model == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)))
    assert(got.toSet == model)
  }

  /** Whether a plan repartitions the banded rows to a user-numbered count
    * on (band, key): the sized arm of Banding.pairs. */
  private def sizedBanding(plans: Seq[String]): Boolean = {
    val sized = """hashpartitioning\(band#\d+L?, key#\d+L?, \d+\), REPARTITION_BY_NUM""".r
    plans.exists(p => sized.findFirstIn(p).isDefined)
  }

  /** Pairs of `run(rowsPerTask)` with the banded join forced to its sized
    * arm (rowsPerTask = 1) and at the default, each checked for its plan
    * shape; both must equal `model`. */
  private def assertBothArms(what: String, model: Set[(Long, Long)])(
      run: Long => org.apache.spark.sql.DataFrame): Unit =
    for ((rowsPerTask, sized) <- Seq(1L -> true, Banding.RowsPerTask -> false)) {
      val Trace(got, _, plans, _, _) = traced(
        run(rowsPerTask).select("a", "b").as[(Long, Long)].collect())
      assert(got.length == got.distinct.length, s"$what: duplicate pairs")
      assert(got.toSet == model, s"$what, rowsPerTask $rowsPerTask: pairs differ from the model")
      assert(sizedBanding(plans) == sized,
        s"$what, rowsPerTask $rowsPerTask: sized repartition expected $sized")
    }

  test("banded join, sized and default arms: MinHash xxhash and md5 keys equal the shared-bucket model") {
    val sigs = Seq(
      (1L, Seq(10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L)),
      (2L, Seq(10L, 11L, 20L, 21L, 30L, 31L, 40L, 41L)),
      (3L, Seq(10L, 11L, 99L, 98L, 97L, 96L, 95L, 94L)),
      (4L, Seq(77L, 76L, 20L, 21L, 75L, 74L, 40L, 41L)),
      (5L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)),
      (6L, Seq(1L, 2L, 20L, 21L, 0L, 0L, 7L, 8L))
    ).toDF("_id", "sig")
    val rows = sigs.as[(Long, Seq[Long])].collect()
    val model = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      if (0 until 4).exists(j => sa.slice(2 * j, 2 * j + 2) == sb.slice(2 * j, 2 * j + 2))
    } yield (a, b)).toSet
    assertBothArms("xxhash", model)(r =>
      MinHashLSH.candidatePairsWith(sigs, 4, 2, MinHashLSH.xxhashBandKey, r))
    val hexSigs = sigs.select(col("_id"), transform(col("sig"), _.cast("string")).as("sig"))
    assertBothArms("md5", model)(r =>
      MinHashLSH.candidatePairsWith(hexSigs, 4, 2, MinHashLSH.md5BandKey, r))
  }

  test("banded join, sized and default arms: text and perceptual simhash equal brute-force hamming") {
    import graft.multimodal.Binary
    // every 5th document planted again with its last byte changed: a
    // near-dup payload and text (the q97 fixture)
    val base = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val corpus = base.unionByName(base.where(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 1)"), lit("x")).as("text")))
    val perceptual = Binary.aHashes(spark, Binary.withPayload(corpus, "text"), "doc_id")
      .where(col("simhash") =!= 0L)
    val text = SimHash.simhashes(corpus, "doc_id", "text")
    for ((what, sig) <- Seq("perceptual" -> perceptual, "text" -> text)) {
      val hs = sig.select("_id", "simhash").as[(Long, Long)].collect()
      val brute = (for {
        (a, ha) <- hs; (b, hb) <- hs if a < b
        if java.lang.Long.bitCount(ha ^ hb) <= 3
      } yield (a, b)).toSet
      assert(brute.nonEmpty, s"$what: the model must have pairs")
      assertBothArms(what, brute)(r => SimHash.hammingPairs(sig, 3, r))
    }
  }

  test("banding sizes itself in one aggregate: MinHash and SimHash job counts per call") {
    val sigs = MinHashLSH.signatures(Dedup.shingleHashes(docs, "doc_id", "text", 3), 64)
    val Trace(_, minhashJobs, _, _, _) = traced(MinHashLSH.candidatePairs(sigs, 16, 4))
    val simhashes = SimHash.simhashes(docs, "doc_id", "text")
    val Trace(_, simhashJobs, _, _, _) = traced(SimHash.hammingPairs(simhashes, 3))
    // the call runs the signature checkpoint and the one sizing aggregate
    // (its AQE map stage, then the result); the pair join stays lazy. A
    // separate row count of the checkpoint would add two more jobs.
    assert(minhashJobs <= 6, s"candidatePairs ran $minhashJobs jobs")
    assert(simhashJobs <= 5, s"hammingPairs ran $simhashJobs jobs")
  }

  test("embedding LSH sizes its banded join from its cell aggregate: jobs per call") {
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val Trace(_, jobs, _, _, _) = traced(
      Dedup.embeddingCosinePairsLsh(emb, "vec_id", "embedding", tau = 0.9))
    // the dim probe, the bucketed-row checkpoint (its AQE map stage, then
    // the result), the one cell aggregate (two map stages, the result) and
    // the candidate checkpoint (map stage, result); the cosine join stays
    // lazy. A second sizing aggregate, a checkpoint of the keyed rows or a
    // broadcast limit-probe the pair bound already answers would each add
    // jobs: with all three the call ran 13.
    assert(jobs <= 8, s"embeddingCosinePairsLsh ran $jobs jobs")
  }

  test("minhash nearDupPairs runs from one per-doc table: jobs per call") {
    val Trace(_, jobs, _, _, _) = traced(
      MinHashLSH.nearDupPairs(docs, "doc_id", "text", n = 3, k = 64, bands = 16, tau = 0.6)
        .collect())
    // the shingling pass's width exchange (map stage, then the table
    // checkpoint), Banding's signature checkpoint and its sizing aggregate
    // (two map stages, the result), the banded join's map stage and the
    // candidate checkpoint (which counts the candidates as it runs), then
    // the end-row broadcast, the pair regroup's map stage and the collect:
    // 11. The shingle-row path
    // it replaces (cached (_id, sh) rows, a signature regroup, a limit
    // probe and two counting joins) ran 17 on the same call.
    assert(jobs <= 11, s"nearDupPairs ran $jobs jobs")
  }

  test("prefix jaccard tier 2 verifies from one per-doc table: jobs per call") {
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3).cache()
    sets.count()
    val (tier, prefix, _) = Dedup.route(sets, 0.6, 1 << 20)
    prefix.foreach(_.unpersist())
    assert(tier == 2, s"the fixture routed tier $tier")
    val Trace(_, jobs, _, _, _) = traced(Dedup.prefixJaccard(sets, 0.6).collect())
    sets.unpersist()
    // with the set table cached: routing (the vocab aggregate's stages and
    // its hot-set collect), the prefix-mass aggregate (which fills the
    // prefix cache as it runs), the candidate self-join's stages and the
    // end-row broadcast, the pair regroup's map stage, the checkpoint and
    // the collect: 12.
    // The self-join verifier it replaces (a sizes aggregate, a limit probe
    // over the cached candidates, a candidate-doc semi-join and a counting
    // join semi-joined to the pair list) ran 23 on the same call.
    assert(jobs <= 13, s"tier-2 prefixJaccard ran $jobs jobs")
  }

  test("a repeated plan shape compiles nothing after 100+ other classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def corpus(seed: Long): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(seed)
      val words = (0 until 40).map(i => s"w$i")
      val base = (1 to 30).map(i =>
        (i.toLong, Seq.fill(14)(words(rnd.nextInt(words.size))).mkString(" ")))
      // planted near-dups: each of the first five docs with its last word changed
      (base ++ base.take(5).map { case (i, t) => (i + 100, t.split(" ").init.mkString(" ") + " x") })
        .toDF("doc_id", "text")
    }
    def minhash(df: org.apache.spark.sql.DataFrame) =
      MinHashLSH.nearDupPairs(df, "doc_id", "text", n = 3, k = 64, bands = 16, tau = 0.6).collect()
    minhash(corpus(1L))
    // other plans in between: a keep-best and a containment pass over
    // another corpus, then distinct one-literal projections until more than
    // the default cache capacity (100) of classes has compiled
    val y = corpus(2L)
    val before = compiles()
    Dedup.dedupCorpusBy(y, "doc_id", "text", n = 3, tau = 0.6, score = length(col("text")))
      .collect()
    Dedup.ngramContainmentPairs(y, "doc_id", "text", n = 3, tau = 0.6).collect()
    Iterator.from(0).takeWhile(i => i < 400 && compiles() - before <= 150)
      .foreach(i => spark.range(2).select(col("id") * lit(7919L * 1000 + i)).collect())
    assert(compiles() - before > 150, s"${compiles() - before} classes compiled in between")
    val mark = compiles()
    assert(minhash(corpus(3L)).nonEmpty)
    assert(compiles() - mark == 0,
      s"nearDupPairs on a same-schema corpus recompiled ${compiles() - mark} classes")
  }

  test("candidatePairs/nearDupPairs refuse a non-positive band shape by name") {
    val sigs = Seq((1L, Seq(1L, 2L)), (2L, Seq(1L, 2L))).toDF("_id", "sig")
    for ((bands, rows) <- Seq(0 -> 2, 2 -> 0, -1 -> 2)) {
      val e = intercept[IllegalArgumentException](
        MinHashLSH.candidatePairs(sigs, bands, rows))
      assert(e.getMessage.contains("bands") && e.getMessage.contains("rowsPerBand"))
    }
    for (bands <- Seq(0, -4)) {
      val e = intercept[IllegalArgumentException](
        MinHashLSH.nearDupPairs(docs, "doc_id", "text", n = 3, k = 64, bands = bands, tau = 0.6))
      assert(e.getMessage.contains("bands"))
    }
  }

  test("candidatePairs: a signature longer or shorter than bands x rowsPerBand fails by name") {
    for (len <- Seq(9, 7)) {
      val sigs = Seq((1L, Seq.tabulate(8)(_.toLong)), (2L, Seq.tabulate(len)(_.toLong)))
        .toDF("_id", "sig")
      val e = intercept[Exception](
        MinHashLSH.candidatePairs(sigs, bands = 4, rowsPerBand = 2).collect())
      assert(e.getMessage.contains(s"MinHash signature length $len != bands x rowsPerBand = 4 x 2"),
        e.getMessage)
    }
  }

  test("simhash: identical docs at hamming 0; unrelated docs not paired") {
    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 4L, 0)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash mapPartitions signature equals the declarative xxhash64 form") {
    // independently recompute one signature with Spark SQL primitives
    val toks = docs.where(col("doc_id") === 1L)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(xxhash64(col("tok")).as("h")).as[Long].collect()
    var expected = 0L
    (0 until 64).foreach { i =>
      val votes = toks.map(h => if (((h >>> i) & 1L) == 1L) 1 else -1).sum
      if (votes > 0) expected |= (1L << i)
    }
    val got = SimHash.simhashes(docs.where(col("doc_id") === 1L), "doc_id", "text")
      .select("simhash").as[Long].head()
    assert(got === expected)
  }

  test("connectedComponents: chain and triangle collapse to min label") {
    // chain 10-20-30-40 (needs multiple propagation rounds) + triangle 1-2-3
    val edges = Seq((10L, 20L), (20L, 30L), (30L, 40L), (1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect()
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L))
  }

  test("connectedComponents refuses loudly when maxIter < component diameter") {
    // a 12-hop chain: min-label propagation needs ~11 rounds; at maxIter=3
    // the old loop returned silently wrong labels for the chain's far end
    val chain = (1L to 12L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 3,
        driverEdgeLimit = 1).collect() // force the distributed path
    }
    assert(e.getMessage.contains("not converged"))
    // with adequate maxIter the same graph labels correctly
    val ok = Dedup.connectedComponents(chain, "a", "b", maxIter = 20,
      driverEdgeLimit = 1).as[(Long, Long)].collect().toMap
    assert(ok == (1L to 12L).map(_ -> 1L).toMap)
  }

  test("connectedComponents: driver union-find and distributed paths agree") {
    // chain, triangle, cross-link, self-loop, reversed-order edges
    val edges = Seq((10L, 20L), (20L, 30L), (30L, 40L), (40L, 20L), (1L, 2L),
      (3L, 2L), (1L, 3L), (5L, 5L), (100L, 7L)).toDF("a", "b")
    val fast = Dedup.connectedComponents(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect()
    val dist = Dedup.connectedComponents(edges, "a", "b", driverEdgeLimit = 0)
      .orderBy("id").as[(Long, Long)].collect()
    assert(fast === dist)
    assert(fast.toMap.apply(100L) === 7L)
    assert(fast.toMap.apply(40L) === 10L)
  }

  test("nearDupClusters labels singletons with their own id") {
    val got = Dedup.nearDupClusters(docs, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L))
  }

  test("dedupCorpus keeps the min-id survivor per cluster with all columns") {
    val tagged = docs.withColumn("extra", col("doc_id") * 10)
    val kept = Dedup.dedupCorpus(tagged, "doc_id", "text", n = 3, tau = 0.6)
      .orderBy("doc_id").collect()
    // 1,2,4 cluster → 1 survives; 3 is a singleton
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // survivors keep every original column, untouched
    assert(kept.map(_.getLong(2)).toSeq == Seq(10L, 30L))
    assert(kept.head.schema.fieldNames.toSeq == Seq("doc_id", "text", "extra"))
  }

  test("embeddingCosinePairsLsh: exact precision, recall vs the exact pairs") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val exact = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", tau = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingCosinePairsLsh(emb, "vec_id", "embedding", tau = 0.9,
      bitsPerTable = 8, tables = 4, seed = 42L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // precision is exact by construction: every LSH pair must be an exact pair
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // recall on the high-similarity band should be strong at 4×8 bits
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH pair recall too low: $recall (${lsh.size}/${exact.size})")
    }
    // determinism: same seed, same pairs
    val again = Dedup.embeddingCosinePairsLsh(emb, "vec_id", "embedding", tau = 0.9,
      bitsPerTable = 8, tables = 4, seed = 42L)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(lsh == again)
  }

  test("embeddingCosinePairsLsh: first-shared-table pairs identical to the dropDuplicates plan") {
    import graft.operators.Similarity
    import graft.functions.ArrayMath
    // the OLD candidate plan, verbatim semantics: explode every (table,
    // bucket) cell, self-join, dropDuplicates(a,b) carrying vectors — the
    // rewrite must return EXACTLY these pairs (hot split disengaged)
    def reference(df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
        tau: Double, bits: Int, tables: Int, seed: Long) = {
      val dim = df.select(size(col(vecCol))).head().getInt(0)
      val byTable = Similarity.hyperplanes(bits * tables, dim, seed)
        .grouped(bits).toSeq
      val cells = byTable.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("t"), Similarity.lshBucket(col(vecCol), planes).as("b"))
      }
      val bucketed = df.select(col(idCol), col(vecCol))
        .select(col(idCol), col(vecCol), explode(array(cells: _*)).as("_cell"))
      val x = bucketed.select(col(idCol).as("a"), col(vecCol).as("_va"), col("_cell"))
      val y = bucketed.select(col(idCol).as("b"), col(vecCol).as("_vb"), col("_cell"))
      x.join(y, Seq("_cell")).where(col("a") < col("b"))
        .select("a", "b", "_va", "_vb").dropDuplicates("a", "b")
        .withColumn("cosine", ArrayMath.cosine(col("_va"), col("_vb")))
        .where(col("cosine") >= tau)
        .select(col("a"), col("b"))
    }
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    for (tau <- Seq(0.5, 0.9)) {
      val want = reference(emb, "vec_id", "embedding", tau, 8, 4, 42L)
        .as[(Long, Long)].collect().toSet
      val got = Dedup.embeddingCosinePairsLsh(emb, "vec_id", "embedding", tau,
        bitsPerTable = 8, tables = 4, seed = 42L)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == want, s"tau=$tau: rewrite must be pair-identical to the reference plan")
    }
  }

  test("embeddingCosinePairsLsh: planted hot cell sub-splits, bounded candidates, dups survive") {
    import graft.operators.Similarity
    val dim = 16; val bits = 6; val seed = 11L; val m = 400
    // orthonormal basis of span(base planes) — members share the anchor's
    // exact dot with every base plane (perturbations live in the null
    // space), so ALL land in one (table, bucket) cell: a planted hot cell
    val planes = Similarity.hyperplanes(bits, dim, seed).map(_.toArray)
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def dot(u: Array[Double], v: Array[Double]) =
      u.zip(v).map { case (a, b) => a * b }.sum
    planes.foreach { p =>
      val w = p.clone()
      basis.foreach { b => val c = dot(w, b); (0 until dim).foreach(i => w(i) -= c * b(i)) }
      val n = math.sqrt(dot(w, w))
      if (n > 1e-12) basis += w.map(_ / n)
    }
    def nullProject(v: Array[Double]): Array[Double] = {
      val w = v.clone()
      basis.foreach { b => val c = dot(w, b); (0 until dim).foreach(i => w(i) -= c * b(i)) }
      w
    }
    val rnd = new java.util.Random(3L)
    val anchor = Array.fill(dim)(rnd.nextGaussian())
    val rows = (0 until m).map { i =>
      val z = nullProject(Array.fill(dim)(rnd.nextGaussian()))
      val zn = math.sqrt(dot(z, z)).max(1e-12)
      val v = (0 until dim).map(j => anchor(j) + 3.0 * z(j) / zn).toArray
      (i.toLong, v.map(_.toFloat))
    }
    // plant 10 exact duplicates — identical vectors agree on EVERY hash,
    // so no amount of sub-splitting may lose them
    val dups = (0 until 10).map(i => (10000L + i, rows(i * 7)._2))
    val df = (rows ++ dups).toDF("id", "vec")
    val candsAll = Dedup.lshCandidates(df, "id", "vec", bits, 1, seed,
      hotCellLimit = Int.MaxValue).count()
    val n = m + 10
    assert(candsAll == n.toLong * (n - 1) / 2,
      "construction check: every row must share the one base cell")
    val candsHot = Dedup.lshCandidates(df, "id", "vec", bits, 1, seed,
      hotCellLimit = 32).count()
    assert(candsHot < candsAll / 4,
      s"hot-cell sub-split must cut the quadratic term: $candsHot vs $candsAll")
    val pairsHot = Dedup.embeddingCosinePairsLsh(df, "id", "vec", tau = 0.99,
      bitsPerTable = bits, tables = 1, seed = seed, hotCellLimit = 32)
      .select("a", "b").as[(Long, Long)].collect().toSet
    dups.zipWithIndex.foreach { case ((did, _), i) =>
      assert(pairsHot.contains((rows(i * 7)._1, did)),
        s"planted identical pair ${rows(i * 7)._1}<->$did lost by the hot split")
    }
    // precision stays exact under the split: every emitted pair >= tau
    val exact = Dedup.embeddingCosinePairs(df, "id", "vec", tau = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairsHot.subsetOf(exact))
  }

  test("embeddingCosinePairsLsh refuses a bad LSH shape by name") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f))).toDF("id", "vec")
    for ((bits, tables, named) <- Seq((8, 0, "tables"), (0, 4, "bitsPerTable"),
        (33, 4, "bitsPerTable"), (31, 1, "bitsPerTable"))) {
      val e = intercept[IllegalArgumentException](
        Dedup.embeddingCosinePairsLsh(emb, "id", "vec", tau = 0.9,
          bitsPerTable = bits, tables = tables))
      assert(e.getMessage.startsWith(s"requirement failed: $named must be"), e.getMessage)
    }
  }

  test("banded join, sized and default arms: embedding LSH candidates equal the dropDuplicates cells") {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (bits, tables, seed) = (6, 3, 42L)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    def planes(sd: Long) = Similarity.hyperplanes(bits * tables, dim, sd).grouped(bits).toSeq
    val cells = planes(seed).zip(planes(seed ^ 0x9E3779B97F4A7C15L)).zipWithIndex.map {
      case ((base, sub), t) => struct(lit(t).as("t"),
        Similarity.lshBucket(col("embedding"), base).as("b"),
        Similarity.lshBucket(col("embedding"), sub).as("s"))
    }
    val bucketed = emb.select(col("vec_id").cast("long").as("_id"),
        explode(array(cells: _*)).as("c"))
      .select(col("_id"), col("c.t"), col("c.b"), col("c.s"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("t", "b")))
    // the candidate plan before the shared join: one (table, bucket) cell
    // per row and table, sub-split by the second hash when the cell holds
    // more than hotCellLimit rows; self-join, dropDuplicates
    def reference(hotCellLimit: Int): Set[(Long, Long)] = {
      val keyed = bucketed.select(col("_id"), col("t"), col("b"),
        when(col("n") > hotCellLimit, col("s")).otherwise(lit(-1)).as("s"))
      keyed.withColumnRenamed("_id", "a")
        .join(keyed.withColumnRenamed("_id", "b_id"), Seq("t", "b", "s"))
        .where(col("a") < col("b_id")).select(col("a"), col("b_id").as("b"))
        .dropDuplicates("a", "b").as[(Long, Long)].collect().toSet
    }
    val (cool, hot) = (reference(Int.MaxValue), reference(8))
    assert(hot.nonEmpty && hot.size < cool.size, "the hot split must engage and cut pairs")
    for ((hotCellLimit, model) <- Seq(Int.MaxValue -> cool, 8 -> hot))
      assertBothArms(s"hotCellLimit $hotCellLimit", model)(r =>
        Dedup.lshCandidates(emb, "vec_id", "embedding", bits, tables, seed, hotCellLimit, r))
  }

  test("embedding cosine pairs: exact values, norm precompute matches direct") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)), // cosine(1,2) ~ 0.9939
      (3L, Array(0.0f, 1.0f, 0.0f)), // orthogonal to 1
      (4L, Array(-1.0f, 0.0f, 0.0f)) // opposite
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", tau = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.map(p => (p._1, p._2)) === Set(1L -> 2L))
    val c = got.head._3
    assert(math.abs(c - 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)) < 1e-6)
  }

  test("DotProduct expression: codegen result equals scala fold, null-safe") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0)),
      (Array(0.5f, -1.5f, 2.0f), Array(1.0, 1.0, 1.0))
    ).toDF("a", "b")
    val got = df.select(ArrayMath.dot(col("a"), col("b"))).as[Double].collect()
    assert(got(0) === (1.0 * 4 + 2.0 * 5 + 3.0 * 6))
    assert(got(1) === (0.5 - 1.5 + 2.0))
    val withNull = df.select(ArrayMath.dot(col("a"), lit(null).cast("array<double>")))
      .collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("bloom incremental dedup equals the anti-join path exactly, and the plan is shuffle-free") {
    val corpus = Seq(
      (10L, "alpha bravo charlie"), (11L, "delta echo foxtrot"),
      (12L, "golf hotel india"), (13L, "alpha bravo charlie")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha bravo charlie"),    // dup of corpus
      (21L, "golf hotel india"),       // dup of corpus
      (22L, "brand new document one"), // new
      (23L, "brand new document two"), // new
      (24L, "brand new document two")  // new, within-batch dup kept (q84 semantics)
    ).toDF("doc_id", "text")
    val exp = Dedup.incrementalDedup(batch, corpus, "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val bloom = Dedup.corpusBloom(corpus, "text", expectedItems = 1000)
    val deduped = Dedup.bloomIncrementalDedup(batch, corpus, "text", bloom)
    assert(deduped.orderBy("doc_id").as[(Long, String)].collect().toSeq == exp)
    assert(exp.map(_._1) == Seq(22L, 23L, 24L))
    // recurring-ingest plan shape: zero shuffles — the corpus scans stay in
    // place and both joins broadcast the (tiny) maybe-set side
    val plan = deduped.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bloom false positives die in the confirmation scan: saturated bloom still exact") {
    // a 2-bit bloom over 60 inserts is saturated: nearly every fresh row
    // false-positives into the maybe path, and the result must not change
    val corpus = (0 until 60).map(i => (i.toLong, s"corpus doc number $i body"))
      .toDF("doc_id", "text")
    val batch = (0 until 30)
      .map(i => (100L + i, if (i % 2 == 0) s"corpus doc number ${i} body" else s"fresh doc $i"))
      .toDF("doc_id", "text")
    val bloom = Dedup.corpusBloom(corpus, "text", expectedItems = 1, fpp = 0.5)
    val exp = Dedup.incrementalDedup(batch, corpus, "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val got = Dedup.bloomIncrementalDedup(batch, corpus, "text", bloom)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == exp)
    assert(got.size == 15) // the odd-i fresh docs
  }

  test("corpusBloom refuses sizes the session caps would silently clamp") {
    val corpus = Seq((1L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.corpusBloom(corpus, "text", expectedItems = 100000000L)
    }
    assert(e.getMessage.contains("maxNumItems"), e.getMessage)
  }

  test("registered q74 is non-vacuous at gate SF: planted exact copies recovered") {
    // the round-9 verdict's vacuous-gate-row fix, pinned: every 25th
    // vector doubles at −(id+1) (negated, not offset — a fixed offset
    // collides with real ids past 1M rows, r10 ADVICE), an exact copy
    // shares all sign buckets, so the rows-only driver check now asserts
    // real recovered pairs; pair (a,b) has a = −(b+1) with a < 0 ≤ b
    val got = SparkEntry.queries("q74_dedup_embedding_lsh")(
      spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect()
    assert(got.length >= 20, s"expected >= 20 planted pairs, got ${got.length}")
    val planted = got.filter(p => p._1 == -(p._2 + 1L))
    assert(planted.length == 20 && planted.forall(_._3 == 1.0),
      "all 20 planted exact copies must be recovered at cosine 1.0")
  }

  test("embeddedDocs labels contained docs; containers survive; mutual keeps min id") {
    // 10: the container (aggregator); 11: quoted-in-full inside 10
    // (one-directional containment — 11 drops, 10 survives);
    // 20/21: exact duplicates (mutual containment — 21 drops, min id 20
    // survives, the q66 convention); 30: unrelated singleton.
    val chunk = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (10L, s"$chunk iota kappa lambda mu nu xi omicron pi rho sigma tau"),
      (11L, chunk),
      (20L, "one two three four five six seven eight nine ten"),
      (21L, "one two three four five six seven eight nine ten"),
      (30L, "totally different words that stand entirely alone here")
    ).toDF("doc_id", "text")
    val emb = Dedup.embeddedDocs(corpus, "doc_id", "text", n = 3, tau = 0.8)
      .as[(Long, Long)].collect().toSet
    assert(emb === Set((11L, 10L), (21L, 20L)),
      "embedded docs must be the contained one-directional doc and the larger mutual id")
    val kept = Dedup.dedupCorpusContainment(corpus, "doc_id", "text", n = 3, tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(10L, 20L, 30L), "containers and singletons survive")
    // Jaccard dedup at the same tau misses the quoted-in-full case (the
    // container dilutes resemblance below tau) — the reason this verb exists
    val jacKept = Dedup.dedupCorpus(corpus, "doc_id", "text", n = 3, tau = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(jacKept.contains(11L), "Jaccard at tau=0.8 keeps the embedded doc")
  }
}
