package graft

import graft.operators.FrameOverlap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FrameOverlapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Planted degenerate frames: fps 100 and 200 appear in ALL ten docs (the
  // solid-black-frame class). Cold structure: docs 1/2 share cold fps 1,2;
  // docs 3/4 share cold fp 3; every other cold fp is unique to its doc.
  private def planted = {
    val hotRows = for (d <- 1L to 10L; f <- Seq(100L, 200L)) yield (d, f)
    val coldShared = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L), (4L, 3L))
    val coldUnique = (1L to 10L).map(d => (d, 1000L + d))
    (hotRows ++ coldShared ++ coldUnique).toDF("doc_id", "luma_fp")
  }

  test("degenerate fps never generate candidates; shared counts stay exact") {
    // hotFpLimit=4: fps 100/200 (df=10) are degenerate, all others cold.
    val got = FrameOverlap.pairs(planted, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 4)
      .as[(Long, Long, Long)].collect().toSet
    // (1,2): 2 cold + 2 hot = 4; (3,4): 1 cold + 2 hot = 3. Every other
    // pair shares ONLY the two degenerate frames -> no candidate, even
    // though the unguarded count (2) would clear minShared.
    assert(got === Set((1L, 2L, 4L), (3L, 4L, 3L)))
  }

  test("unguarded path emits every hot-only pair (the f-squared shape the guard removes)") {
    val got = FrameOverlap.pairs(planted, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 1000)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.size === 45) // all C(10,2) pairs share the two planted frames
    assert(got.contains((1L, 2L, 4L)) && got.contains((3L, 4L, 3L)))
    assert(got.count(p => p._3 == 2L) === 43)
  }

  test("coldFrames drops exactly the planted degenerate fps from candidate generation") {
    val cold = FrameOverlap.coldFrames(planted, "luma_fp", hotFpLimit = 4)
    assert(cold.where(col("luma_fp").isin(100L, 200L)).count() === 0L)
    assert(cold.count() === planted.count() - 20L)
  }

  test("> 64 hot fps take the join-back path; counts exact, semantics uniform") {
    // Three docs share 70 fps, each fp df=3 > limit 2: ALL 70 are
    // degenerate (beyond the one-long mask), so no pair has a cold shared
    // fp and nothing surfaces — the documented semantics now hold
    // uniformly past 64 hot fps (round 10; previously overflow fps fell
    // back to exact f² candidate generation and these pairs surfaced).
    val rows = for (d <- 1L to 3L; f <- 1L to 70L) yield (d, f)
    val fr = rows.toDF("doc_id", "luma_fp")
    val got = FrameOverlap.pairs(fr, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.isEmpty, "all-degenerate pairs must not surface")
    // one planted COLD fp on docs 1/2 rescues that pair with FULL credit
    // for all 70 degenerate frames — the unbounded join-back counts what
    // the mask cannot hold
    val fr2 = (rows ++ Seq((1L, 999L), (2L, 999L))).toDF("doc_id", "luma_fp")
    val got2 = FrameOverlap.pairs(fr2, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 === Set((1L, 2L, 71L)),
      "cold-rescued pair must count every degenerate frame exactly")
  }

  test("mask path and join-back path emit identical rows at the 64-fp boundary") {
    // same corpus driven through both implementations: 63 hot fps (mask)
    // vs 65 hot fps (join-back), with identical cold structure — the two
    // paths must agree pair-for-pair on the shared cold+planted corpus
    def corpus(nHot: Int) = (
      (for (d <- 1L to 6L; f <- 1L to nHot.toLong) yield (d, 10000L + f)) ++
        Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 2L), (3L, 3L), (4L, 3L))
      ).toDF("doc_id", "luma_fp")
    def run(nHot: Int, limit: Int = 1 << 20) =
      FrameOverlap.pairs(corpus(nHot), "doc_id", "luma_fp", minShared = 2,
        hotFpLimit = 4, maskBroadcastLimit = limit)
        .as[(Long, Long, Long)].collect().toSet
    val mask = run(63)   // 63 hot fps -> mask fast path
    val join = run(65)   // 65 hot fps -> join-back path
    // same structure, counts differ only by the 2 extra hot fps
    assert(mask === Set((1L, 2L, 64L), (3L, 4L, 65L)))
    assert(join === Set((1L, 2L, 66L), (3L, 4L, 67L)))
    // the largest broadcast limit is a limit like any other on both paths
    assert(run(63, Int.MaxValue) === mask && run(65, Int.MaxValue) === join)
  }

  test("empty hot set executes the PLAIN plan: no mask join, no bit_count, one pair join") {
    // the "bit-identical when no fp is degenerate" claim, pinned at the
    // plan level: with every df under the limit the guarded entry point
    // must build exactly the unguarded equi-join — no membership-mask
    // machinery in the executed plan at all
    val out = FrameOverlap.pairs(planted, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 1000)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("bit_count") && !plan.contains("_mask"),
      "plain path must carry no mask machinery")
    // and the guarded path (limit 4) does carry it
    val guarded = FrameOverlap.pairs(planted, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 4)
    guarded.collect()
    val gplan = guarded.queryExecution.executedPlan.toString
    assert(gplan.contains("bit_count"), "guarded path must verify via the mask")
  }

  test("registered q154 executes the GUARDED plan at gate SF (mask join-back live)") {
    // the round-9 verdict's gap: the guard was spec-pinned but never
    // oracle-exercised — no board corpus had a hot fp at gate SF. q154's
    // designed corpus keeps 16 fps at df = docs/2 > hotFpLimit at EVERY
    // SF, so the gate row runs the mask machinery, not the plain join.
    val out = SparkEntry.queries("q154_frame_overlap_guarded")(
      spark, "/root/testdata/sf0.001")
    assert(out.count() > 0, "guarded pairs must surface")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("bit_count"),
      "q154 must execute the guarded path (mask join-back) at gate SF")
  }

  test("hot-credit rescues a pair with one cold frame at minShared=2") {
    // docs 5/6: one shared cold fp + one degenerate -> 1 + 1 = 2 passes.
    val fr = Seq(
      (5L, 7L), (6L, 7L),
      (5L, 9L), (6L, 9L), (7L, 9L), (8L, 9L), (9L, 9L), (10L, 9L)
    ).toDF("doc_id", "luma_fp")
    val got = FrameOverlap.pairs(fr, "doc_id", "luma_fp", minShared = 2,
      hotFpLimit = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((5L, 6L, 2L)))
  }
}
