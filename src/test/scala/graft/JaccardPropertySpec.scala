package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz for the adaptive Jaccard pair generator: across
  * randomized corpora spanning the three routing regimes — Zipfian with
  * a hot head (prefix path), uniform tiny-vocabulary sharing (tier-0
  * dense), and sparse near-unique text (tier-1 prefix, trivial mass) —
  * the routed output must equal BOTH the dense reference join and an
  * independent plain-Scala model, at every τ, on every path the limit
  * knob can force. The model recomputes exact Jaccard over true shingle
  * SETS, so it also re-derives the xxhash64-collision-free contract the
  * engine's hashed paths assume at these corpus sizes. */
class JaccardPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rng = new scala.util.Random(20260815L)

  private def words(v: Int, prefix: String) = (0 until v).map(i => s"$prefix$i")

  /** One corpus per regime; each plants exact + mutated copies so every
    * τ cut lands inside a family. */
  private def corpora: Seq[(String, Seq[(Long, String)])] = {
    def doc(vocab: IndexedSeq[String], len: Int) =
      Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    def withFamilies(base: Seq[(Long, String)], vocab: IndexedSeq[String]) = {
      val fams = base.take(8).zipWithIndex.flatMap { case ((id, t), i) =>
        val m = 1 + i % 3
        val w = t.split(" ")
        (0 until m).foreach(_ => w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.size)))
        Seq((id + 5000L, t), (id + 6000L, w.mkString(" ")))
      }
      base ++ fams
    }
    val zipfV = words(400, "z")
    val zipf = withFamilies((0L until 40L).map { i =>
      // rank ~ i^2 sampling skews toward the head — a crude Zipf
      val t = (0 until 25).map { _ =>
        zipfV(math.min(399, (math.pow(rng.nextDouble(), 2) * 400).toInt))
      }.mkString(" ")
      (i, t)
    }, zipfV)
    val uniV = words(10, "u")
    val uniform = withFamilies(
      (0L until 50L).map(i => (i, doc(uniV, 30))), uniV)
    val sparseV = words(5000, "s")
    val sparse = withFamilies(
      (0L until 40L).map(i => (i, doc(sparseV, 20))), sparseV)
    Seq(("zipf", zipf), ("uniform", uniform), ("sparse", sparse))
  }

  /** Independent model: true shingle sets, exact pairwise Jaccard. */
  private def modelPairs(
      docs: Seq[(Long, String)], n: Int, tau: Double): Set[(Long, Long)] = {
    val sets = docs.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      id -> (if (toks.length < n) Set.empty[String]
             else toks.sliding(n).map(_.mkString(" ")).toSet)
    }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa.size + sb.size - inter) >= tau - 1e-12
    } yield (a, b)).toSet
  }

  test("adaptive jaccard fuzz: routed == dense reference == model, every regime, every tau, both limits") {
    corpora.foreach { case (regime, docs) =>
      val df = docs.toDF("doc_id", "text")
      val sets = Dedup.shingleSets(df, "doc_id", "text", n = 3).cache()
      for (tau <- Seq(0.4, 0.7, 0.9, 1.0)) {
        val model = modelPairs(docs, 3, tau)
        val dense = Dedup.denseJaccard(sets, tau)
          .select("a", "b").as[(Long, Long)].collect().toSet
        assert(dense == model, s"$regime tau=$tau: dense != model")
        // default limit (router picks), and limit 0 (forces dense tier-0
        // on hot-empty corpora, tier-1 fallback otherwise)
        for (limit <- Seq(1 << 20, 0)) {
          val routed = Dedup.prefixJaccard(sets, tau, limit)
            .select("a", "b").as[(Long, Long)].collect().toSet
          assert(routed == model, s"$regime tau=$tau limit=$limit: routed != model")
        }
      }
      assert(modelPairs(docs, 3, 0.9).nonEmpty, s"$regime plants must survive tau=0.9")
      sets.unpersist()
    }
  }

  /** Independent model for DIRECTED containment: true shingle sets,
    * divisor |Sa| only, both directions kept. */
  private def modelContainment(
      docs: Seq[(Long, String)], n: Int, tau: Double): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      id -> (if (toks.length < n) Set.empty[String]
             else toks.sliding(n).map(_.mkString(" ")).toSet)
    }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = (sa & sb).size
      c = inter.toDouble / sa.size
      if inter > 0 && c >= tau - 1e-12
    } yield (a, b) -> math.rint(c * 1e6) / 1e6).toMap
  }

  test("containment fuzz: routed == model with exact values, every regime, every tau, both paths") {
    corpora.foreach { case (regime, docs) =>
      // add whole-embed plants so the DIRECTED relation is exercised at
      // high tau even where mutated families fall below it
      val embeds = docs.take(6).map { case (id, t) =>
        (id + 9000L, s"pad${id}x pad${id}y $t tail${id}z")
      }
      val all = docs ++ embeds
      val df = all.toDF("doc_id", "text")
      val sets = Dedup.shingleSets(df, "doc_id", "text", n = 3).cache()
      for (tau <- Seq(0.5, 0.8, 1.0)) {
        val model = modelContainment(all, 3, tau)
        // limit 0 forces the dense fallback; 2^30 forces the prefix
        // path (these corpora's meet masses sit far below it); both must
        // agree with the set model on PAIRS and VALUES
        for (limit <- Seq(0, 1 << 30)) {
          val got = Dedup.prefixContainment(sets, tau, limit)
            .as[(Long, Long, Double)].collect()
            .map(r => (r._1, r._2) -> r._3).toMap
          assert(got.keySet == model.keySet,
            s"$regime tau=$tau limit=$limit: pair sets differ " +
              s"(extra=${got.keySet -- model.keySet}, missing=${model.keySet -- got.keySet})")
          got.foreach { case (k, v) =>
            assert(math.abs(v - model(k)) <= 1e-6, s"$regime tau=$tau $k: $v vs ${model(k)}")
          }
        }
        // the directed plants must appear one-way at tau=1.0: embedded
        // doc fully contained, container not (its pads are its own)
        if (tau == 1.0) {
          val ids = docs.take(6).map(_._1).toSet
          ids.foreach { id =>
            assert(model.contains((id, id + 9000L)), s"$regime: embed plant ($id) missing")
            assert(!model.contains((id + 9000L, id)), s"$regime: reverse direction must fail")
          }
        }
      }
      sets.unpersist()
    }
  }
}
