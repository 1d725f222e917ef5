package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.BroadcastGuard.hintIfSmall

/** Exact "ids sharing >= minShared identical fingerprints" pairs with a
  * degenerate-fingerprint guard (q73 byte-window frames, q145 GIF frames).
  *
  * The naive shape — self-join on the fingerprint, group by the id pair,
  * count — meets f² rows for a fingerprint present at f sites. Pair output
  * that genuinely shares frames is semantics, but ONE ubiquitous junk frame
  * (the solid-black frame across millions of videos, an intro card, a
  * tracking pixel) makes a single join key quadratic at corpus scale, and
  * AQE skew-split only caps partition size, not the f² row count itself.
  *
  * Guard (prefix-filter discipline — rare features PROPOSE, all features
  * VERIFY): fingerprints whose document frequency exceeds `hotFpLimit` are
  * degenerate. They never generate candidate pairs — per-fp candidate cost
  * is bounded by hotFpLimit² — but they still count toward `shared_frames`
  * EXACTLY, joined back on the (already output-bounded) candidate set. Net
  * semantics: a pair must share at least one non-degenerate fingerprint to
  * surface; its reported count then includes every shared fingerprint,
  * degenerate or not. Two docs whose only common content is black frames
  * are not near-dups; two docs sharing a real frame get full credit for
  * the black frames too.
  *
  * The hot set is UNBOUNDED (round 10; previously a 64-bit membership
  * mask capped the guard at 64 fps and any overflow fp fell back to exact
  * f² candidate generation — the sf10 audit's designed-degenerate probe
  * showed a corpus whose whole fp universe goes hot saturating the mask
  * and reverting to quadratic). Hot counts now come from the verify-side
  * join discipline: the candidate list (edge-bounded by construction) is
  * joined to each side's hot frames on (id, fp) — per-pair cost is the
  * docs' OWN hot-frame counts (≤ frames per doc), linear in candidates,
  * for any number of degenerate fingerprints. ≤ 64 hot fps keep the
  * one-long membership-mask fast path (no second join of `cand`); both
  * paths emit identical rows (spec-pinned).
  *
  * When NO fingerprint exceeds the limit the plan is the plain equi-join —
  * bit-identical output, and the only extra work is the one-row-per-fp df
  * count (map-side combinable).
  *
  * Preconditions: `fr` is distinct on (idCol, fpCol) and materialized
  * (cache/localCheckpoint) — both callers checkpoint the 16-byte frame
  * signatures anyway (the self-join double-decode fix), which also makes
  * the hot-fp probe a cheap scan. Null fingerprints are the caller's to
  * drop.
  */
object FrameOverlap {

  /** Mask width == one long; the hot-set size up to which the
    * membership-mask fast path is used (NOT a cap on guarded fps). */
  val MaskBits = 64

  /** Driver-side ceiling on the hot-fp list (isin literals / codegen
    * InSet): by arithmetic |hot| ≤ totalRows / hotFpLimit, so hitting this
    * means hotFpLimit was set orders of magnitude below corpus scale —
    * refuse loudly rather than ship a megaliteral plan. */
  val MaxHotFps = 1 << 20

  def pairs(
      fr: DataFrame, idCol: String, fpCol: String, minShared: Int,
      hotFpLimit: Int = 4096, maskBroadcastLimit: Int = 1 << 20): DataFrame = {
    val fp = col(fpCol)
    // every degenerate fp, deterministically ordered (df desc, fp asc)
    val hot: Array[Any] = fr.groupBy(fp.as("_fp"))
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") > hotFpLimit)
      .orderBy(col("_df").desc, col("_fp"))
      .limit(MaxHotFps + 1)
      .collect().take(MaxHotFps + 1).map(_.get(0))
    require(hot.length <= MaxHotFps,
      s"FrameOverlap: > $MaxHotFps fingerprints above hotFpLimit=$hotFpLimit " +
        "— the limit is set far below corpus scale; raise it")

    if (hot.isEmpty) {
      pairsPlain(fr, idCol, fpCol, minShared)
    } else {
      val cold = fr.where(!fp.isin(hot.toIndexedSeq: _*))
      val cand = pairCounts(cold, idCol, fpCol)
      val withHot =
        if (hot.length <= MaskBits) {
          // mask fast path: per-doc membership mask over the guarded fps,
          // one bit each; fr is distinct on (id, fp) so bit_or == sum, but
          // bit_or states the intent and tolerates caller slip
          val bitExpr = hot.zipWithIndex.foldLeft(lit(0L)) {
            case (acc, (v, i)) => when(fp === lit(v), lit(1L << i)).otherwise(acc)
          }
          val masks = fr.where(fp.isin(hot.toIndexedSeq: _*))
            .select(col(idCol).as("_mid"), bitExpr.as("_m"))
            .groupBy("_mid").agg(expr("bit_or(_m)").as("_mask"))
            .localCheckpoint()
          val hinted = hintIfSmall(masks, maskBroadcastLimit)
          val maskedA = hinted.withColumnsRenamed(Map("_mid" -> "_mida", "_mask" -> "_ma"))
          val maskedB = hinted.withColumnsRenamed(Map("_mid" -> "_midb", "_mask" -> "_mb"))
          cand
            .join(maskedA, cand("doc_a") === maskedA("_mida"), "left")
            .join(maskedB, cand("doc_b") === maskedB("_midb"), "left")
            .withColumn("shared_frames",
              col("_cold") + coalesce(
                expr("bit_count(_ma & _mb)").cast("long"), lit(0L)))
        } else {
          // general path (> MaskBits hot fps): count each candidate pair's
          // shared HOT fps by joining the edge-bounded pair list to both
          // sides' hot frames — Σ_pairs hotFrames(doc) rows, never f²
          val hotFr = fr.where(fp.isin(hot.toIndexedSeq: _*))
            .select(col(idCol).as("_hid"), fp.as("_hfp"))
            .localCheckpoint()
          val candM = cand.localCheckpoint()
          val hintedCand = hintIfSmall(candM, maskBroadcastLimit)
          val hotB = hotFr.withColumnsRenamed(
            Map("_hid" -> "_hidb", "_hfp" -> "_hfpb"))
          val shared = hintedCand
            .join(hotFr, col("doc_a") === col("_hid"))
            .select(col("doc_a"), col("doc_b"), col("_hfp"))
            .join(hotB,
              col("doc_b") === col("_hidb") && col("_hfp") === col("_hfpb"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("_hot"))
          candM.join(shared, Seq("doc_a", "doc_b"), "left")
            .withColumn("shared_frames",
              col("_cold") + coalesce(col("_hot"), lit(0L)))
        }
      withHot
        .where(col("shared_frames") >= minShared)
        .select("doc_a", "doc_b", "shared_frames")
    }
  }

  /** The unguarded join — also the executed plan whenever the corpus has
    * no degenerate fingerprint. */
  private def pairsPlain(
      fr: DataFrame, idCol: String, fpCol: String, minShared: Int): DataFrame =
    pairCounts(fr, idCol, fpCol)
      .withColumnRenamed("_cold", "shared_frames")
      .where(col("shared_frames") >= minShared)

  /** (doc_a, doc_b, _cold): shared-fp counts from the equi-join, a < b. */
  private def pairCounts(fr: DataFrame, idCol: String, fpCol: String): DataFrame =
    fr.as("a").join(fr.as("b"), fpCol)
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("_cold"))

  /** Candidate-generation side only (spec hook: proves a planted
    * degenerate fp is excluded from pair generation — its f² meets never
    * materialize). Hot exclusion is unbounded, like [[pairs]]. */
  private[graft] def coldFrames(
      fr: DataFrame, fpCol: String, hotFpLimit: Int): DataFrame = {
    val fp = col(fpCol)
    // mirrors [[pairs]] exactly (r10 ADVICE): an unordered limit would pick
    // a nondeterministic hot subset and silently truncate past MaxHotFps,
    // letting this spec hook diverge from the production path it proves
    val hot: Array[Any] = fr.groupBy(fp.as("_fp"))
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") > hotFpLimit)
      .orderBy(col("_df").desc, col("_fp"))
      .limit(MaxHotFps + 1)
      .collect().take(MaxHotFps + 1).map(_.get(0))
    require(hot.length <= MaxHotFps,
      s"FrameOverlap: > $MaxHotFps fingerprints above hotFpLimit=$hotFpLimit " +
        "— the limit is set far below corpus scale; raise it")
    if (hot.isEmpty) fr else fr.where(!fp.isin(hot.toIndexedSeq: _*))
  }
}
