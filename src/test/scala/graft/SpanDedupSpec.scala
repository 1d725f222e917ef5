package graft

import graft.operators.SpanDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpanDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // B = "0123456789" shared by docs 1/2; C = "ABCDEFGH" repeated inside doc 3;
  // doc 4 is clean; doc 5 is shorter than the window and must emit nothing.
  private def fixture = Seq(
    (1L, "abcde0123456789fghij"),
    (2L, "klmno0123456789pqrst"),
    (3L, "zzABCDEFGHwwABCDEFGHvv"),
    (4L, "uniquetextwithnorepeats!"),
    (5L, "tiny")
  ).toDF("doc_id", "text")

  test("spans enumerates l-windows at stride s, 1-based") {
    val got = SpanDedup.spans(Seq((7L, "abcdef")).toDF("doc_id", "text"), "doc_id", "text",
      l = 4, s = 2)
      .select("doc_id", "pos", "span").as[(Long, Int, String)].collect().toSet
    assert(got === Set((7L, 1, "abcd"), (7L, 3, "cdef")))
  }

  test("dupSpanStats counts duplicated windows per doc (0 for clean docs)") {
    val got = SpanDedup.dupSpanStats(fixture, "doc_id", "text", l = 6, s = 1)
      .as[(Long, Long)].collect().toMap
    // docs 1/2 share B: windows at pos 6..10 (5 each); doc 3 repeats C:
    // pos 3..5 and 13..15 all duplicated (6); docs 4/5 clean.
    assert(got === Map(1L -> 5L, 2L -> 5L, 3L -> 6L, 4L -> 0L, 5L -> 0L))
  }

  test("hashed scale path matches the exact string-keyed sites on the sf corpus") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = SpanDedup.dupSpanSites(docs, "doc_id", "text", l = 40, s = 1)
      .select("doc_id", "pos", "sites").as[(Long, Int, Long)].collect().toSet
    val hashed = SpanDedup.dupSpanSitesHashed(docs, "doc_id", "text", l = 40, s = 1)
      .select("doc_id", "pos", "sites").as[(Long, Int, Long)].collect().toSet
    assert(exact.nonEmpty) // the synthetic corpus has real repeated structure
    assert(hashed === exact)
  }

  test("stripDupSpans keeps the first site corpus-wide and excises merged ranges") {
    val got = SpanDedup.stripDupSpans(fixture, "doc_id", "text", l = 6, s = 1)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got(1L) === "abcde0123456789fghij")  // owns every first site: intact
    assert(got(2L) === "klmnopqrst")            // B excised as ONE merged range
    assert(got(3L) === "zzABCDEFGHwwvv")        // second C excised, first kept
    assert(got(4L) === "uniquetextwithnorepeats!")
    assert(got(5L) === "tiny")
  }

  test("contamSpanStats counts benchmark-overlapping windows at any alignment") {
    // corpus doc 1 quotes the benchmark block B mid-text at an offset the
    // corpus stride (s=2) does not land on — the stride-1 benchmark side
    // must still catch the windows the corpus does enumerate
    val corpus = Seq(
      (1L, "xy0123456789AB"), // quotes B="0123456789" at pos 3
      (2L, "nothingincommon!")).toDF("doc_id", "text")
    val bench = Seq("qq0123456789zz").toDF("text")
    val got = SpanDedup.contamSpanStats(corpus, "doc_id", "text", bench, "text",
      l = 6, s = 1).as[(Long, Long)].collect().toMap
    // windows of doc 1 inside B: pos 3..7 ("012345".."56789"), all in bench
    assert(got === Map(1L -> 5L, 2L -> 0L))
  }

  test("stripContamSpans excises every benchmark quote, keeps clean docs") {
    val corpus = Seq(
      (1L, "xy0123456789AB"),
      (2L, "nothingincommon!")).toDF("doc_id", "text")
    val bench = Seq("qq0123456789zz").toDF("text")
    val got = SpanDedup.stripContamSpans(corpus, "doc_id", "text", bench, "text",
      l = 6, s = 1).select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got(1L) === "xyAB") // [3, 13) = exactly B excised as one range
    assert(got(2L) === "nothingincommon!")
  }

  test("stripDupSpans preserves non-text columns and row count") {
    val withCols = fixture.withColumn("lang", lit("en"))
    val out = SpanDedup.stripDupSpans(withCols, "doc_id", "text", l = 6, s = 1)
    assert(out.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(out.count() === 5L)
    assert(out.where(col("lang") === "en").count() === 5L)
  }

  test("winnowGatedIds keeps every doc owning a duplicated site, drops clean docs") {
    val gated = SpanDedup.winnowGatedIds(fixture, "doc_id", "text", l = 6, k = 3)
      .as[Long].collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(gated)) // soundness: all dup-owning docs in
    assert(!gated.contains(5L))             // too short to even hold a window
  }

  test("winnow-gated stats and strip equal the ungated exact pass") {
    val stats = SpanDedup.dupSpanStats(fixture, "doc_id", "text", l = 6, s = 1)
      .as[(Long, Long)].collect().toMap
    val statsG = SpanDedup.dupSpanStatsWinnowed(fixture, "doc_id", "text", l = 6, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(statsG === stats)
    val strip = SpanDedup.stripDupSpans(fixture, "doc_id", "text", l = 6, s = 1)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val stripG = SpanDedup.stripDupSpansWinnowed(fixture, "doc_id", "text", l = 6, k = 3)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(stripG === strip)
  }

  test("dup-hash bloom pre-gate: forced-on equals forced-off, empty-spine shortcut exact") {
    // force the gate at tiny scale (knob = 1 row) and pin the output
    // against the ungated plan — bloom false positives must die in the
    // exact string count, and the dup-hash spine must lose no true pair
    val conf = spark.conf
    val ungated = SpanDedup.dupSpanStats(fixture, "doc_id", "text", l = 6, s = 1)
      .as[(Long, Long)].collect().toMap
    try {
      conf.set("graft.spandedup.hashGateMinRows", "1")
      val gated = SpanDedup.dupSpanStatsWinnowed(fixture, "doc_id", "text", l = 6, k = 3)
        .as[(Long, Long)].collect().toMap
      assert(gated === ungated)
      // a corpus with no duplicated span takes the nDup == 0 shortcut:
      // every doc reports 0, schema unchanged
      val clean = (1L to 8L).map(i =>
        i -> (1 to 10).map(j => s"c$i-$j.${i * 53 + j}").mkString(" "))
        .toDF("doc_id", "text")
      val z = SpanDedup.dupSpanStatsWinnowed(clean, "doc_id", "text", l = 20, k = 8)
      assert(z.columns.toSeq == Seq("doc_id", "dup_spans"))
      val zm = z.as[(Long, Long)].collect().toMap
      assert(zm.size == 8 && zm.values.forall(_ == 0L))
    } finally conf.unset("graft.spandedup.hashGateMinRows")
  }

  test("winnow gate cuts the enumerated window count on a mostly-clean corpus") {
    // 60 clean docs + 3 sharing one long span: the gate must shrink the
    // stride-1 window enumeration to roughly the dirty docs' share while
    // the output stays byte-identical (the equality specs above). This is
    // the measured-cut evidence for the q101 winnow gate.
    val l = 20
    val shared = "THIS-SPAN-REPEATS-ACROSS-THREE-DOCUMENTS"
    // clean docs interleave the doc id into EVERY word — no cross-doc
    // substring can reach l=20 chars
    val docs = ((1L to 60L).map(i =>
      i -> (1 to 12).map(j => s"w$i-$j.${i * 37 + j}").mkString(" ")) ++
      Seq(101L -> s"prefix one $shared suffix one",
        102L -> s"prefix two! $shared suffix two",
        103L -> s"$shared alone")).toDF("doc_id", "text")
    val allWindows = SpanDedup.spans(docs, "doc_id", "text", l, 1).count()
    val gatedIds = SpanDedup.winnowGatedIds(docs, "doc_id", "text", l, k = 8)
    val gatedDocs = docs.join(gatedIds, Seq("doc_id"), "left_semi")
    val gatedWindows = SpanDedup.spans(gatedDocs, "doc_id", "text", l, 1).count()
    assert(gatedWindows * 5 <= allWindows,
      s"gate enumerated $gatedWindows of $allWindows windows — expected >= 5x cut")
    // and the gated stats still equal the ungated exact pass
    val stats = SpanDedup.dupSpanStats(docs, "doc_id", "text", l, 1)
      .as[(Long, Long)].collect().toMap
    val statsG = SpanDedup.dupSpanStatsWinnowed(docs, "doc_id", "text", l, k = 8)
      .as[(Long, Long)].collect().toMap
    assert(statsG === stats)
    assert(stats(101L) > 0 && stats(102L) > 0 && stats(103L) > 0)
    assert(stats(1L) == 0)
  }

  test("hot corpus-wide span: combinable confirmation equals exact, broadcast and shuffle paths agree") {
    // every doc carries the SAME boilerplate block — the hot-key case where
    // one span (and one winnow fingerprint) owns sites in every document.
    // The old window-sort confirmation piled all of them into one task;
    // the min-struct/groupBy shape must produce identical output, on both
    // the broadcast spine (default) and the forced-shuffle fallback
    // (spanBroadcastLimit = 0).
    val boiler = "ALL-RIGHTS-RESERVED-BOILERPLATE-BLOCK"
    val docs = (1L to 40L).map(i => (i, s"doc$i start $boiler end u${i}x${i * 31}"))
      .toDF("doc_id", "text")
    val l = 20
    val stats = SpanDedup.dupSpanStats(docs, "doc_id", "text", l, 1)
      .as[(Long, Long)].collect().toMap
    assert(stats.values.forall(_ > 0), "every doc owns duplicated boilerplate windows")
    val statsG = SpanDedup.dupSpanStatsWinnowed(docs, "doc_id", "text", l, k = 8)
      .as[(Long, Long)].collect().toMap
    assert(statsG === stats)
    val statsShuffle = SpanDedup.dupSpanStatsWinnowed(docs, "doc_id", "text", l, k = 8,
      spanBroadcastLimit = 0).as[(Long, Long)].collect().toMap
    assert(statsShuffle === stats)
    val strip = SpanDedup.stripDupSpans(docs, "doc_id", "text", l, 1)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val stripG = SpanDedup.stripDupSpansWinnowed(docs, "doc_id", "text", l, k = 8)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(stripG === strip)
    val stripShuffle = SpanDedup.stripDupSpans(docs, "doc_id", "text", l, 1,
      spanBroadcastLimit = 0).select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(stripShuffle === strip)
    // doc 1 keeps the first sites; every other doc loses the boilerplate
    assert(strip(1L).contains(boiler) && !strip(2L).contains(boiler))
  }

  test("spanBroadcastLimit = Int.MaxValue gives the same rows as the default limit") {
    val boiler = "ALL-RIGHTS-RESERVED-BOILERPLATE-BLOCK"
    val docs = (1L to 12L).map(i => (i, s"doc$i start $boiler end u${i}x${i * 31}"))
      .toDF("doc_id", "text")
    val (l, max) = (20, Int.MaxValue)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val sites = rows(SpanDedup.dupSpanSites(docs, "doc_id", "text", l, 1))
    assert(sites.nonEmpty)
    assert(rows(SpanDedup.dupSpanSites(docs, "doc_id", "text", l, 1, max)) === sites)
    assert(rows(SpanDedup.stripDupSpans(docs, "doc_id", "text", l, 1, max)) ===
      rows(SpanDedup.stripDupSpans(docs, "doc_id", "text", l, 1)))
    assert(rows(SpanDedup.dupSpanStatsWinnowed(docs, "doc_id", "text", l, spanBroadcastLimit = max)) ===
      rows(SpanDedup.dupSpanStatsWinnowed(docs, "doc_id", "text", l)))
    assert(rows(SpanDedup.stripDupSpansWinnowed(docs, "doc_id", "text", l, spanBroadcastLimit = max)) ===
      rows(SpanDedup.stripDupSpansWinnowed(docs, "doc_id", "text", l)))
  }

  test("winnow gate is sound on self-overlapping periodic repeats") {
    // "abababab…": the duplicated window at pos p and p+2 OVERLAPS itself;
    // the gate stays sound because the two winnow alignment windows are
    // shifted copies selecting the same relative argmin — same fp at two
    // DISTINCT positions. This is the adversarial case for any
    // fingerprint-sparsification gate.
    val docs = Seq((1L, "ababababab"), (2L, "cdefghijkl")).toDF("doc_id", "text")
    val stats = SpanDedup.dupSpanStats(docs, "doc_id", "text", l = 6, s = 1)
      .as[(Long, Long)].collect().toMap
    val statsG = SpanDedup.dupSpanStatsWinnowed(docs, "doc_id", "text", l = 6, k = 3)
      .as[(Long, Long)].collect().toMap
    assert(stats(1L) > 0L) // the periodic doc really does have duplicated windows
    assert(statsG === stats)
  }
}
