package graft.tools

import org.apache.spark.sql.execution.{BinaryExecNode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Plan lint: flags scale anti-patterns in an executed query's final
  * adaptive plan —
  *   - CartesianProduct / BroadcastNestedLoopJoin (candidate explosion),
  *   - SinglePartition exchanges anywhere but directly under a final
  *     global-sort/limit for deterministic output,
  *   - parquet scans reading every column of a wide table (pruning miss).
  * Zero findings is the expected state; [[Sweep]] fails on any.
  */
object PlanLint extends AdaptiveSparkPlanHelper {

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Wide tables where reading every column is presumed a pruning miss
    * (narrow tables are read whole by nature). Name → column count, from
    * the generated testdata schemas. */
  /* documents/events/embeddings are the tables the LLM-pipeline operators
   * actually read — leaving them out made an unpruned corpus scan invisible
   * (VERDICT r5 blind spot). customer joins the width bar too. */
  private val WideTables = Map(
    "lineitem" -> 11, "orders" -> 6, "part" -> 6,
    "documents" -> 5, "events" -> 6, "embeddings" -> 3, "customer" -> 5)

  /** (table, requiredColumns, width) per full-width wide-table parquet scan. */
  private[graft] def fullWidthScans(p: SparkPlan): Seq[(String, Int, Int)] =
    collectWithSubqueries(p) {
      case f: FileSourceScanExec =>
        val table = f.relation.location.rootPaths.headOption
          .map(_.getName.replaceAll("\\.parquet$", "")).getOrElse("")
        (table, f.requiredSchema.length, WideTables.getOrElse(table, Int.MaxValue))
    }.filter { case (_, req, width) => req >= width }

  /** Joins whose BOTH sides re-run a closure (MapPartitions) over the
    * same source files with no exchange reuse between them — the
    * double-decode class (q33/q143/q145 in round 8): mapPartitions
    * lambdas never canonicalize equal across self-join sides, so
    * ReuseExchange can't fire and the decode pass silently executes
    * TWICE. The fix is always to materialize the slim post-closure frame
    * (localCheckpoint) before self-joining; a checkpointed child reads
    * as Scan ExistingRDD — no file scan, no MapPartitions — and passes.
    * Sides sharing no scan root are genuinely different closures (image
    * features ⋈ audio features) and are not flagged. */
  private[graft] def unsharedClosureSelfJoins(p: SparkPlan): Seq[String] = {
    def mapParts(s: SparkPlan): Boolean =
      find(s)(_.nodeName.contains("MapPartitions")).isDefined
    def reused(s: SparkPlan): Boolean =
      find(s) { case _: ReusedExchangeExec => true; case _ => false }.isDefined
    def roots(s: SparkPlan): Set[String] =
      collect(s) { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
      }.flatten.toSet
    collectWithSubqueries(p) {
      case j: BinaryExecNode if j.nodeName.contains("Join") =>
        val Seq(l, r) = j.children
        if (mapParts(l) && mapParts(r) && !reused(l) && !reused(r) &&
            roots(l).intersect(roots(r)).nonEmpty)
          Some(j.nodeName)
        else None
    }.flatten
  }

  /** Scale anti-patterns in query `name`'s executed plan (after it ran),
    * one message per finding; [[Sweep]]'s `twice` mode calls it on each
    * query's first run. */
  private[graft] def findings(name: String, plan: SparkPlan): Seq[String] = {
    val lines = plan.toString.linesIterator.toSeq
    val found = Seq.newBuilder[String]
    if (lines.exists(l => l.contains("CartesianProduct")))
      found += "CartesianProduct in plan"
    // BNLJ allowed where all-pairs IS the operator's semantics — q34
    // (exact embedding pair scan), q52 (brute-force batch kNN, broadcast
    // query set × corpus; the scale path is IVF) — or where the build
    // side is a broadcast ONE-ROW scalar aggregate joined under every
    // row with no possible equi-key (q24 threshold, q47 min/max, q67's
    // corpus-size N for the idf term, q79's total-weight and target-row
    // scalars riding onto the mix predicate, q105's vocabulary size V,
    // q106's class totals + prior, q120's
    // corpus N/sumdl pair feeding every BM25 score).
    if (lines.exists(l => l.contains("BroadcastNestedLoopJoin")) &&
        !Set("q34_dedup_embedding", "q52_knn_join", "q24_scalar_subquery",
          "q47_histogram", "q67_tfidf_topk", "q79_domain_mix",
          "q105_lm_perplexity", "q106_nb_classifier",
          "q120_bm25").contains(name))
      found += "BroadcastNestedLoopJoin in plan"
    // SinglePartition allowed only for global SCALAR aggregates (q24
    // threshold, q47 min/max, q62's per-constraint violation tallies,
    // q67's one-row N, q68's one-row funnel report, q79's one-row
    // total-weight/target scalars, q105/q106's one-row model
    // constants — vocabulary size, class totals + prior) and q91's
    // id-assignment window over the
    // already-reduced, size-bounded vocabulary (50 rows): the
    // exchange moves one partial row per task (or a bounded table),
    // not data. Everything else must stay partitioned.
    if (lines.exists(l => l.contains("SinglePartition")) &&
        !Set("q24_scalar_subquery", "q47_histogram", "q62_quality_checks",
          "q67_tfidf_topk", "q68_funnel", "q79_domain_mix",
          "q91_vocab_encode", "q105_lm_perplexity", "q106_nb_classifier",
          "q120_bm25").contains(name))
      found += "shuffle to a single partition"
    // Column-pruning misses: a wide-table scan whose ReadSchema is the
    // FULL table. Whole-table ETL verbs legitimately read everything —
    // q03 (obs=N returns whole rows; no keep= projection), q05
    // (col_types casts over the full row), q06/q07 (roundtrip copies),
    // q62 (constraints across the row). Whole-ROW dedup verbs too:
    // q84/q115 return the batch's surviving full rows (the batch side
    // must read every column; the corpus side prunes to text and is
    // not flagged), q100/q161 output (vec_id, label, bucket) so all 3
    // embeddings columns are genuinely required on the survivors
    // branch (the pairs() branch prunes to (vec_id, embedding) —
    // SemDedup.pairs selects exactly those before assignment).
    if (!Set("q03_sas_obs", "q05_col_types", "q06_csv_roundtrip",
          "q07_parquet_modified", "q62_quality_checks",
          "q84_incremental_dedup", "q115_bloom_dedup",
          "q100_semdedup", "q161_semdedup_grid").contains(name))
      found ++= fullWidthScans(finalPlan(plan)).map { case (table, req, _) =>
        s"unpruned scan: $table reads all $req columns" }
    found ++= unsharedClosureSelfJoins(finalPlan(plan)).map(n =>
      s"closure-bearing self-join without exchange reuse ($n): " +
        "the per-partition pass executes once per side — " +
        "materialize the slim frame before self-joining")
    found.result()
  }
}
