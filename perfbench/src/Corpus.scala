package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.operators.{Curation, Dedup, MinHashLSH}
import graft.sinks.JsonlSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One source of the corpus with everything the pipeline should conclude
  * about it. */
final case class CorpusInputs(sources: Seq[Source])
final case class Source(
    name: String,
    docs: IndexedSeq[(Long, String, Double)],
    lowQuality: Set[Long],
    exactCopies: Set[Long],
    /** planted pairs (a < b) with their true word-trigram Jaccard */
    planted: Map[(Long, Long), Double]) {
  def edges: Set[(Long, Long)] = planted.filter(_._2 >= Corpus.Tau).keySet
  def survivorsOfExact: Seq[Long] =
    docs.map(_._1).filterNot(i => lowQuality(i) || exactCopies(i))
}

object Corpus {
  val Tau = 0.8
  val N = 3
  private val Stop = Seq("the", "a", "of", "and", "in", "to", "is")

  def trigrams(text: String): Set[String] =
    text.trim.split("\\s+").sliding(N).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (trigrams(a), trigrams(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  private def word(rnd: scala.util.Random, len: Int): String =
    (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  /** A document that passes `Curation.qualityFlags`' default thresholds with
    * margin (20-80 words, mean word length 4.2-4.8, stopwords >= 2%,
    * distinct words >= 35%), so which documents the filter drops is known
    * from the generator alone. */
  private def healthy(text: String): Boolean = {
    val w = text.split(" ")
    val mean = w.map(_.length).sum.toDouble / w.length
    w.length >= 30 && w.length <= 70 && mean >= 4.3 && mean <= 4.7 &&
      w.count(Stop.contains).toDouble / w.length >= 0.04 &&
      w.distinct.length.toDouble / w.length >= 0.45
  }

  /** Two sources. `web` documents each carry one of a few Zipf-popular
    * boilerplate templates inside otherwise unique text, so the Jaccard
    * router demotes the hot template shingles and takes the prefix tier.
    * `uniform` documents draw every word from one small vocabulary, so no
    * shingle is hot yet the dense meet mass is large: a dense tier. Both
    * carry exact copies, low-quality documents, and near-duplicate
    * families whose pairwise Jaccard the generator computes. */
  def generate(seed: Long): CorpusInputs = CorpusInputs(Seq(
    source("web", seed, 800, { rnd =>
      val vocab = (0 until 20000).map(_ => word(rnd, 4 + rnd.nextInt(2) + (if (rnd.nextDouble() < 0.2) 1 else 0)))
      val templates = (0 until 40).map(_ => (0 until 12).map(_ => vocab(rnd.nextInt(vocab.size))))
      // Zipf(1) template popularity
      val weights = templates.indices.map(i => 1.0 / (i + 1))
      val total = weights.sum
      () => {
        var u = rnd.nextDouble() * total
        val tpl = templates(weights.indexWhere { w => u -= w; u <= 0 } max 0)
        val body = (0 until 36 + rnd.nextInt(12)).map { _ =>
          if (rnd.nextDouble() < 0.08) Stop(rnd.nextInt(Stop.size)) else vocab(rnd.nextInt(vocab.size))
        }
        val at = rnd.nextInt(body.size)
        (body.take(at) ++ tpl ++ body.drop(at)).mkString(" ")
      }
    }),
    source("uniform", seed, 5400, { rnd =>
      // 22 words of 4-5 letters plus two stopwords: mean word length ~4.5
      val vocab = (Seq("the", "of") ++ (0 until 22).map(i => word(rnd, if (i < 15) 5 else 4))).distinct
      () => (0 until 36 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    })))

  private def source(name: String, seed: Long, n: Int,
      mk: scala.util.Random => () => String): Source = {
    val rnd = new scala.util.Random(seed * 31 + name.hashCode)
    val next = mk(rnd)
    def fresh(): String = Iterator.continually(next()).find(healthy).get
    val docs = mutable.ArrayBuffer[(Long, String, Double)]()
    def add(text: String): Long = {
      val id = docs.size.toLong
      docs += ((id, text, rnd.nextDouble()))
      id
    }
    val families = n / 30
    val copies = n / 30
    val low = n / 25
    val planted = mutable.HashMap[(Long, Long), Double]()
    val exactCopies = mutable.HashSet[Long]()
    val lowQuality = mutable.HashSet[Long]()
    // near-duplicate families: a base and two variants, 1 or 2 or 6 words
    // replaced, so some pairs land above tau and some below
    (0 until families).foreach { _ =>
      val base = fresh()
      val members = (base +: Seq(1 + rnd.nextInt(2), 2 + rnd.nextInt(5)).map { r =>
        Iterator.continually {
          val w = base.split(" ")
          (0 until r).foreach(_ => w(rnd.nextInt(w.length)) = word(rnd, 5))
          w.mkString(" ")
        }.find(healthy).get
      }).distinct
      val ids = members.map(add)
      for (i <- ids.indices; j <- i + 1 until ids.size)
        planted((ids(i), ids(j))) = jaccard(members(i), members(j))
    }
    val singles = (0 until n - docs.size - copies - low).map(_ => add(fresh()))
    (0 until copies).foreach { _ =>
      val orig = singles(rnd.nextInt(singles.size))
      exactCopies += add(docs(orig.toInt)._2)
    }
    (0 until low).foreach { i =>
      val w = docs(rnd.nextInt(docs.size))._2.split(" ")
      // too short, or one word repeated
      lowQuality += add(if (i % 2 == 0) w.take(8).mkString(" ") else Seq.fill(40)(w(0)).mkString(" "))
    }
    Source(name, docs.toIndexedSeq, lowQuality.toSet, exactCopies.toSet, planted.toMap)
  }
}

final class Dedup(spark: SparkSession, run: Run, in: CorpusInputs, out: Path) {
  import Corpus._
  private val tr = run.tracer
  private val docsPerPass = in.sources.map(_.docs.size).sum
  private val passSeconds = mutable.ArrayBuffer[Double]()
  private var docsDropped = 0L
  private var found = 0L
  private var plantedAbove = 0L

  private def frame(s: Source): DataFrame = {
    import spark.implicits._
    s.docs.toDF("doc_id", "text", "score")
  }

  /** Connected components of the expected edges, as sorted member lists. */
  private def components(ids: Seq[Long], edges: Set[(Long, Long)]): Set[Seq[Long]] = {
    val parent = mutable.HashMap[Long, Long]() ++ ids.map(i => i -> i)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    ids.groupBy(find).values.map(_.sorted).toSet
  }

  private def stage[T](name: String)(body: => T): T =
    run.op(name)(run.timed(name)(body)._1)

  /** One pass of the batch pipeline over one source, every stage checked. */
  private def pipeline(s: Source, pass: Int): Double = {
    val docs = frame(s).cache()
    docs.count()
    val ids = s.survivorsOfExact
    val comps = components(ids, s.edges)
    val score = s.docs.map(d => d._1 -> d._3).toMap
    val (_, dt) = run.timed("dedup.source") {
      val kept = stage("curation.quality") {
        val k = tr.span("curation.filter")(tr.force(docs.join(
          Curation.qualityFlags(docs, "doc_id", "text").where(col("keep") === 1).select("doc_id"),
          Seq("doc_id"), "left_semi")))
        val dropped = s.docs.map(_._1).toSet -- k.select("doc_id").collect().map(_.getLong(0))
        run.check(dropped == s.lowQuality,
          s"${s.name}: quality filter dropped ${dropped.size} docs, expected ${s.lowQuality.size}")
        docsDropped += dropped.size
        k
      }
      val unique = stage("dedup.exact") {
        val u = tr.span("dedup.exact")(tr.force(kept.join(
          Dedup.exact(kept, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi"))).cache()
        val got = u.select("doc_id").collect().map(_.getLong(0)).toSet
        run.check(got == ids.toSet,
          s"${s.name}: exact dedup kept ${got.size} docs, expected ${ids.size}")
        u
      }
      val best = stage("dedup.keep_best") {
        val b = tr.span("dedup.keep_best")(tr.force(
          Dedup.dedupCorpusBy(unique, "doc_id", "text", N, Tau, col("score"))))
        val got = b.select("doc_id").collect().map(_.getLong(0)).toSet
        val want = comps.map(_.maxBy(i => (score(i), -i))).toSet
        run.check(got == want, s"${s.name}: keep-best kept ${got.size} docs, expected ${want.size}")
        b
      }
      stage("dedup.minhash") {
        val pairs = tr.span("dedup.minhash")(
          MinHashLSH.nearDupPairs(unique, "doc_id", "text", N, 64, 16, Tau).collect())
          .map(r => (r.getLong(0), r.getLong(1))).map { case (a, b) => (a min b, a max b) }.toSet
        // the generator plants every pair at or above tau
        val below = pairs -- s.edges
        run.check(below.isEmpty,
          s"${s.name}: MinHash reported ${below.size} pairs that are not planted pairs >= tau")
        found += (pairs intersect s.edges).size
        plantedAbove += s.edges.size
      }
      stage("sinks.jsonl") {
        val m = tr.span("sinks.jsonl_write")(JsonlSink.writeSharded(
          best.select("doc_id", "text"), out.resolve(s"${s.name}-$pass").toString, Seq("doc_id"), 64 << 10))
          .collect()
        val rows = m.map(_.getAs[Long]("n_rows")).sum
        run.check(rows == comps.size, s"${s.name}: JSONL manifest holds $rows rows, expected ${comps.size}")
      }
      unique.unpersist()
    }
    docs.unpersist()
    if (tr.enabled) layerProbe(s, ids, comps)
    dt
  }

  private val tier = mutable.LinkedHashMap[String, Double]()
  private val candidates = mutable.ArrayBuffer[Double]()
  private val pairsOut = mutable.ArrayBuffer[Double]()

  /** Traced only: the steps inside keep-best (shingling, routing, exact
    * pair generation, clustering), called on their own so that each gets a
    * span. The exact pair list must equal the planted pairs at or above
    * tau, and the clusters the planted families. */
  private def layerProbe(s: Source, ids: Seq[Long], comps: Set[Seq[Long]]): Unit = run.op("dedup.layers") {
    val docs = {
      import spark.implicits._
      val keep = ids.toSet
      s.docs.filter(d => keep(d._1)).toDF("doc_id", "text", "score")
    }
    val sh = tr.span("dedup.shingle")(tr.force(Dedup.shingleHashes(docs, "doc_id", "text", N))).cache()
    val (t, prefix, denseMass) = tr.span("dedup.route")(Dedup.jaccardRoute(sh, Tau, 1 << 20))
    tier(s.name) = t
    candidates += prefix.map { p =>
      val c = p.as("x").join(p.as("y"), col("x.sh") === col("y.sh"))
        .where(col("x._id") < col("y._id")).select(col("x._id"), col("y._id")).distinct().count()
      p.unpersist()
      c.toDouble
    }.getOrElse(denseMass.toDouble)
    sh.unpersist()
    val pairs = tr.span("dedup.pairs")(Dedup.ngramJaccardPairs(docs, "doc_id", "text", N, Tau).collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    run.check(pairs == s.edges, s"${s.name}: exact Jaccard pairs differ from the planted pairs >= tau")
    pairsOut += pairs.size
    val comp = tr.span("dedup.cluster")(Dedup.connectedComponents(
      spark.createDataFrame(pairs.toSeq).toDF("a", "b"), "a", "b").collect())
    // components list clustered docs only; every other survivor stands alone
    val got = comp.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSeq.sorted).toSet
    run.check(got == comps.filter(_.size > 1),
      s"${s.name}: near-duplicate clusters differ from the planted families")
  }

  def run(budgetS: Double): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 1 || (System.nanoTime() - t0) / 1e9 + passSeconds.last < budgetS) {
      passSeconds += in.sources.map(pipeline(_, pass)).sum
      pass += 1
    }
    val perPass = in.sources.size
    run.e2e("build_s") = (Stats.median(
      run.opSeconds("dedup.keep_best").grouped(perPass).map(_.sum).toSeq), "s")
    run.e2e("rows_per_s") = (docsPerPass / Stats.median(passSeconds.toSeq), "rows/s")
    run.e2e("query_ms_p50") = (Stats.median(run.opSeconds("dedup.minhash").toSeq) * 1000, "ms")
    run.e2e("quality") = (found.toDouble / plantedAbove, "ratio")
    if (tr.enabled) report()
  }

  private def report(): Unit = {
    val L = run.layer
    def perPass(name: String, f: Span => Double) = tr.named(name).map(f).sum / passSeconds.size
    L("curation.filter_s") = perPass("curation.filter", _.seconds)
    L("curation.docs_dropped") = docsDropped.toDouble / passSeconds.size
    L("dedup.shingle_s") = perPass("dedup.shingle", _.seconds)
    tier.foreach { case (src, t) => L(s"dedup.route_tier.$src") = t }
    L("dedup.candidates") = candidates.sum / passSeconds.size
    L("dedup.pairs_out") = pairsOut.sum / passSeconds.size
    L("dedup.candidate_yield") = pairsOut.sum / candidates.sum
    L("dedup.pairs_s") = perPass("dedup.pairs", _.seconds)
    L("dedup.cluster_s") = perPass("dedup.cluster", _.seconds)
    L("dedup.keep_best_s") = perPass("dedup.keep_best", _.seconds)
    L("dedup.minhash_s") = perPass("dedup.minhash", _.seconds)
    L("sinks.jsonl_write_s") = perPass("sinks.jsonl_write", _.seconds)
  }
}
