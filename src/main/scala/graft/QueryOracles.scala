package graft

import graft.core.Tables
import graft.multimodal.Binary
import graft.operators.{AsOfJoin, Bucketing, Checks, Classifier, Curation, Dedup, Funnel, GlobalIndex, Graph, Importance, IntervalJoin, LanguageModel, Layout, Merge, MinHashLSH, Packing, Paths, ProductQuantizer, Retention, Sampling, Sessionize, SimHash, Similarity, SkewJoin, Sketches, TextAnalysis, Urls, VectorIndex}
import graft.sinks.{CsvSink, ParquetSink}
import graft.sources.{Catalog, SasCsvReader, SasOptions, SasTypes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** DuckDB oracle SQL for every oracle-checked registry key — the
  * driver's correctness gate (SURVEY §6: column aliases and ordering
  * must match the Spark side exactly). */
private[graft] trait QueryOracles extends AnyRef {

  /** Unrolled fixed-iteration PageRank twin of [[q127PageRank]]: DuckDB
    * recursive CTEs forbid aggregates over the recursive reference, so the
    * five iterations are generated as chained CTEs. All literals carry the
    * `e0` suffix (DuckDB parses bare decimals as DECIMAL, which would
    * diverge from Spark's IEEE doubles); the per-iteration ops — 1/outdeg
    * weight, per-dst sum, (1-d)/n + d*(c + dm/n) — mirror
    * [[graft.operators.Graph.pageRank]] term for term. */
  private def pageRankOracle(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH eraw AS (
      |  SELECT o_custkey AS src, -l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  UNION ALL
      |  SELECT -l_suppkey AS src, o_custkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE l_returnflag = 'R'),
      |edges AS (SELECT DISTINCT src, dst FROM eraw),
      |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |pr0 AS (SELECT node, 1.0e0 / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
    for (k <- 0 until iters) {
      // dm = 1 − Σ contribs, the SAME float expression graft.operators.Graph
      // evaluates (not an independent dangling-set sum): both engines derive
      // the dangling mass from the identical set of per-dst doubles, so no
      // 6dp rounding-boundary divergence can creep in over iterations.
      sb ++= s""",
      |con$k AS (SELECT e.dst AS node, sum(p.rank * (1.0e0 / d.outdeg)) AS c
      |  FROM pr$k p JOIN edges e ON p.node = e.src JOIN deg d ON e.src = d.src
      |  GROUP BY e.dst),
      |dang$k AS (SELECT 1.0e0 - coalesce(sum(c), 0.0e0) AS dm FROM con$k),
      |pr${k + 1} AS (SELECT n.node,
      |    (1.0e0 - 0.85e0) / (SELECT n FROM nn)
      |    + 0.85e0 * (coalesce(c.c, 0.0e0) + (SELECT dm FROM dang$k) / (SELECT n FROM nn)) AS rank
      |  FROM nodes n LEFT JOIN con$k c ON n.node = c.node)""".stripMargin
    }
    sb ++= s"\nSELECT node, round(rank * (SELECT n FROM nn), 6) AS rank_n FROM pr$iters ORDER BY node"
    sb.toString
  }

  /** Ordered left-fold dot product in DOUBLE — the exact association
    * order of [[graft.functions.ArrayMath.dot]] (and of the driver-side
    * probe ranking's Scala fold), shared by every embedding oracle. */
  private def dotFold(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), " +
      s"i -> $a[i] * $b[i])), (p, s) -> p + s)"

  private def cosFold(a: String, b: String): String =
    s"(${dotFold(a, b)} / (sqrt(${dotFold(a, a)}) * sqrt(${dotFold(b, b)})))"

  /** q156: the materialized-IVF probe replicated end-to-end on the PLANTED
    * grid centroids ([[QueryFixtures.gridCentroids]] — the literals below
    * are generated from the same Seq). Stages mirror the implementation
    * term for term: per-vector bucket = cosine argmax with lowest-index
    * ties ([[graft.operators.Similarity.assignBuckets]]'s kernel: first
    * maximum), probed buckets = top-nprobe centroids by cosine to the
    * query with lower-index ties ([[Similarity.probeBuckets]]), result =
    * exact brute top-k over ONLY the probed buckets' rows
    * ([[Similarity.bruteTopK]]: round 6dp THEN order, id-asc ties). */
  private def q156Oracle: String = {
    val cRows = QueryFixtures.gridCentroids.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.map(x => s"${x}e0").mkString(", ")}])"
    }.mkString(",\n      |  ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
      |           FROM embeddings),
      |q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
      |c(j, cv) AS (VALUES
      |  $cRows),
      |sims AS (SELECT v.vec_id, c.j, ${cosFold("v.ve", "c.cv")} AS s
      |         FROM v CROSS JOIN c),
      |best AS (SELECT vec_id, max(s) AS m FROM sims GROUP BY vec_id),
      |bkt AS (SELECT s.vec_id, min(s.j) AS bucket FROM sims s
      |        JOIN best b ON s.vec_id = b.vec_id AND s.s = b.m
      |        GROUP BY s.vec_id),
      |probe AS (SELECT c.j FROM c CROSS JOIN q
      |          ORDER BY ${cosFold("c.cv", "q.qv")} DESC, c.j ASC LIMIT 2)
      |SELECT v.vec_id, ROUND(${cosFold("v.ve", "q.qv")}, 6) AS cosine
      |FROM v JOIN bkt ON v.vec_id = bkt.vec_id CROSS JOIN q
      |WHERE bkt.bucket IN (SELECT j FROM probe) AND v.vec_id <> 0
      |ORDER BY cosine DESC, v.vec_id ASC LIMIT 10""".stripMargin
  }

  /** q157: PQ encode + ADC shortlist + exact re-rank replicated end-to-end
    * on the PLANTED one-hot codebooks ([[QueryFixtures.pqGridBooks]]).
    * With cell c = e_c every stage collapses to exact arithmetic: code_j =
    * argmax of subvector j with lowest-index ties (list_position finds the
    * FIRST max, mirroring [[graft.functions.PqBooks.nearest]]'s strict
    * `>`; the one-hot dot's zero terms are exact, ±0.0 never moves the
    * accumulator); LUT[j][c] = q[16j+c] exactly; the ADC score is the
    * 4-term left-fold sum over (pq_norm::float32 × query norm) rounded to
    * 6dp ([[graft.operators.ProductQuantizer.adcTopK]]); shortlist =
    * top-100 by (score desc, id asc); result = brute top-10 over ONLY the
    * shortlist (round THEN order, id-asc ties — the q50 convention). */
  private def q157Oracle: String = {
    def sub(j: Int) = s"ve[${16 * j + 1}:${16 * (j + 1)}]"
    val lut = (0 until 4).map(j =>
      s"qv[${16 * j} + list_position(${sub(j)}, list_max(${sub(j)}))]")
      .mkString(" +\n      |          ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
      |           FROM embeddings),
      |q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
      |adc AS (SELECT vec_id, ROUND((
      |          $lut
      |        ) / (CAST(CAST(sqrt(${dotFold("ve", "ve")}) AS REAL) AS DOUBLE) *
      |             sqrt(${dotFold("qv", "qv")})), 6) AS score
      |        FROM v CROSS JOIN q WHERE vec_id <> 0),
      |short AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id ASC LIMIT 100)
      |SELECT v.vec_id, ROUND(${cosFold("v.ve", "q.qv")}, 6) AS cosine
      |FROM v JOIN short USING (vec_id) CROSS JOIN q
      |ORDER BY cosine DESC, v.vec_id ASC LIMIT 10""".stripMargin
  }

  /** q158: multi-table sign-bit LSH + multiprobe replicated end-to-end on
    * the PLANTED axis-difference hyperplanes
    * ([[QueryFixtures.lshGridPlanes]] — plane p = e_{2p} − e_{2p+1}, so
    * its sequential-fold dot is EXACTLY v[2p] − v[2p+1]). Stages mirror
    * the implementation term for term: sign bit = `diff >= 0`
    * ([[graft.operators.Similarity.lshBucket]]), table bucket = Σ 1<<b,
    * multiprobe flip = the lowest-|margin| plane with lowest-index ties
    * ([[Similarity.multiprobeBuckets]], nprobe=2 keeps the query bucket +
    * ONE flip per table), candidates = exact-bucket OR across tables,
    * result = brute top-k over candidates only (q50 convention). */
  private def q158Oracle: String = {
    val planeRows = (0 until 24).map { p =>
      s"(${p / 4}, ${p % 4}, ${2 * p + 1}, ${2 * p + 2})"
    }.mkString(", ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
      |           FROM embeddings),
      |q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
      |pl(t, b, i1, i2) AS (VALUES $planeRows),
      |qd AS (SELECT t, b, qv[i1] - qv[i2] AS d FROM pl CROSS JOIN q),
      |qb AS (SELECT t, CAST(SUM(CASE WHEN d >= 0 THEN 1 << b ELSE 0 END) AS INT) AS bucket
      |       FROM qd GROUP BY t),
      |flip AS (SELECT t, b FROM (
      |           SELECT t, b, row_number() OVER (PARTITION BY t ORDER BY abs(d) ASC, b ASC) AS rn
      |           FROM qd) WHERE rn = 1),
      |probes AS (SELECT t, bucket FROM qb
      |           UNION ALL
      |           SELECT qb.t, xor(qb.bucket, CAST(1 << flip.b AS INT)) AS bucket
      |           FROM qb JOIN flip USING (t)),
      |vb AS (SELECT vec_id, t,
      |              CAST(SUM(CASE WHEN ve[i1] - ve[i2] >= 0 THEN 1 << b ELSE 0 END) AS INT) AS bucket
      |       FROM v CROSS JOIN pl GROUP BY vec_id, t),
      |cand AS (SELECT DISTINCT vec_id FROM vb JOIN probes USING (t, bucket))
      |SELECT v.vec_id, ROUND(${cosFold("v.ve", "q.qv")}, 6) AS cosine
      |FROM v JOIN cand USING (vec_id) CROSS JOIN q
      |WHERE v.vec_id <> 0
      |ORDER BY cosine DESC, v.vec_id ASC LIMIT 10""".stripMargin
  }

  /** q159: the residual IVF-PQ composite replicated end-to-end on BOTH
    * planted fixtures (grid centroids + one-hot codebooks). Mirrors
    * [[graft.operators.VectorIndex.writeIvfPq]] (residual=true) +
    * [[VectorIndex.ivfTopKPq]] stage for stage: bucket = centroid cosine
    * argmax with lowest-index ties (the q156 rule), probed buckets =
    * top-2 centroids by query cosine, residual = exact double subtract
    * `v − c_b`, cell = per-subspace argmax of the RESIDUAL (one-hot books
    * collapse the L2 score), ADC = Σ_j q[16j+c_j] + the per-bucket
    * `q·c_b` offset over (float32 raw norm × query norm) rounded to 6dp,
    * shortlist = top-100 (id-asc ties) over the PRUNED buckets only,
    * result = brute top-10 over shortlist ∩ pruned. */
  private def q159Oracle: String = {
    val cRows = QueryFixtures.gridCentroids.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.map(x => s"${x}e0").mkString(", ")}])"
    }.mkString(",\n      |  ")
    def sub(j: Int) = s"rv[${16 * j + 1}:${16 * (j + 1)}]"
    val lut = (0 until 4).map(j =>
      s"qv[${16 * j} + list_position(${sub(j)}, list_max(${sub(j)}))]")
      .mkString(" +\n      |          ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
      |           FROM embeddings),
      |q AS (SELECT ve AS qv FROM v WHERE vec_id = 0),
      |c(j, cv) AS (VALUES
      |  $cRows),
      |sims AS (SELECT v.vec_id, c.j, ${cosFold("v.ve", "c.cv")} AS s
      |         FROM v CROSS JOIN c),
      |best AS (SELECT vec_id, max(s) AS m FROM sims GROUP BY vec_id),
      |bkt AS (SELECT s.vec_id, min(s.j) AS bucket FROM sims s
      |        JOIN best b ON s.vec_id = b.vec_id AND s.s = b.m
      |        GROUP BY s.vec_id),
      |probe AS (SELECT c.j FROM c CROSS JOIN q
      |          ORDER BY ${cosFold("c.cv", "q.qv")} DESC, c.j ASC LIMIT 2),
      |pr AS (SELECT v.vec_id, v.ve, bkt.bucket FROM v JOIN bkt USING (vec_id)
      |       WHERE bkt.bucket IN (SELECT j FROM probe)),
      |res AS (SELECT pr.vec_id, pr.bucket, pr.ve, c.cv,
      |               list_transform(range(1, 65), i -> pr.ve[i] - c.cv[i]) AS rv
      |        FROM pr JOIN c ON c.j = pr.bucket),
      |adc AS (SELECT vec_id, ROUND((
      |          $lut
      |          + ${dotFold("qv", "cv")}
      |        ) / (CAST(CAST(sqrt(${dotFold("ve", "ve")}) AS REAL) AS DOUBLE) *
      |             sqrt(${dotFold("qv", "qv")})), 6) AS score
      |        FROM res CROSS JOIN q WHERE vec_id <> 0),
      |short AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id ASC LIMIT 100)
      |SELECT pr.vec_id, ROUND(${cosFold("pr.ve", "q.qv")}, 6) AS cosine
      |FROM pr JOIN short USING (vec_id) CROSS JOIN q
      |WHERE pr.vec_id <> 0
      |ORDER BY cosine DESC, pr.vec_id ASC LIMIT 10""".stripMargin
  }

  /** q160: q159's residual IVF-PQ oracle with the PLANTED reversal
    * rotation ([[QueryFixtures.reversalRotation]]) — the codegen'd
    * mat-vec with a permutation matrix collapses exactly to element
    * reversal (`list_reverse`), so the rotated residual codes and the
    * driver-side rotated ADC query are both replayed exactly; the
    * per-bucket offset and the final re-rank stay in RAW space, exactly
    * as [[graft.operators.VectorIndex.ivfTopKPq]] computes them. */
  private def q160Oracle: String = {
    val cRows = QueryFixtures.gridCentroids.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.map(x => s"${x}e0").mkString(", ")}])"
    }.mkString(",\n      |  ")
    def sub(j: Int) = s"rrv[${16 * j + 1}:${16 * (j + 1)}]"
    val lut = (0 until 4).map(j =>
      s"rqv[${16 * j} + list_position(${sub(j)}, list_max(${sub(j)}))]")
      .mkString(" +\n      |          ")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
      |           FROM embeddings),
      |q AS (SELECT ve AS qv, list_reverse(ve) AS rqv FROM v WHERE vec_id = 0),
      |c(j, cv) AS (VALUES
      |  $cRows),
      |sims AS (SELECT v.vec_id, c.j, ${cosFold("v.ve", "c.cv")} AS s
      |         FROM v CROSS JOIN c),
      |best AS (SELECT vec_id, max(s) AS m FROM sims GROUP BY vec_id),
      |bkt AS (SELECT s.vec_id, min(s.j) AS bucket FROM sims s
      |        JOIN best b ON s.vec_id = b.vec_id AND s.s = b.m
      |        GROUP BY s.vec_id),
      |probe AS (SELECT c.j FROM c CROSS JOIN q
      |          ORDER BY ${cosFold("c.cv", "q.qv")} DESC, c.j ASC LIMIT 2),
      |pr AS (SELECT v.vec_id, v.ve, bkt.bucket FROM v JOIN bkt USING (vec_id)
      |       WHERE bkt.bucket IN (SELECT j FROM probe)),
      |res AS (SELECT pr.vec_id, pr.bucket, pr.ve, c.cv,
      |               list_reverse(list_transform(range(1, 65), i -> pr.ve[i] - c.cv[i])) AS rrv
      |        FROM pr JOIN c ON c.j = pr.bucket),
      |adc AS (SELECT vec_id, ROUND((
      |          $lut
      |          + ${dotFold("qv", "cv")}
      |        ) / (CAST(CAST(sqrt(${dotFold("ve", "ve")}) AS REAL) AS DOUBLE) *
      |             sqrt(${dotFold("rqv", "rqv")})), 6) AS score
      |        FROM res CROSS JOIN q WHERE vec_id <> 0),
      |short AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id ASC LIMIT 100)
      |SELECT pr.vec_id, ROUND(${cosFold("pr.ve", "q.qv")}, 6) AS cosine
      |FROM pr JOIN short USING (vec_id) CROSS JOIN q
      |WHERE pr.vec_id <> 0
      |ORDER BY cosine DESC, pr.vec_id ASC LIMIT 10""".stripMargin
  }

  /** q161: SemDedup's assign → within-cluster pair → components →
    * exemplar-keep chain replayed on the PLANTED grid centroids
    * ([[QueryFixtures.gridCentroids]]): bucket = cosine argmax with
    * lowest-index ties (the q156 CTEs), within-bucket near-dup pairs the
    * shared cosine fold at τ=0.45, and min-id exemplar groups a
    * recursive-CTE transitive closure over the symmetric pair edges —
    * exactly [[graft.operators.Dedup.connectedComponents]]' min-label
    * fixpoint. Survivors are every vector whose component minimum is
    * itself (unpaired rows trivially survive). */
  private def q161Oracle: String = {
    val cRows = QueryFixtures.gridCentroids.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.map(x => s"${x}e0").mkString(", ")}])"
    }.mkString(",\n      |  ")
    s"""WITH RECURSIVE v AS (SELECT vec_id, label,
      |           list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
      |           FROM embeddings),
      |c(j, cv) AS (VALUES
      |  $cRows),
      |sims AS (SELECT v.vec_id, c.j, ${cosFold("v.ve", "c.cv")} AS s
      |         FROM v CROSS JOIN c),
      |best AS (SELECT vec_id, max(s) AS m FROM sims GROUP BY vec_id),
      |bkt AS (SELECT s.vec_id, min(s.j) AS bucket FROM sims s
      |        JOIN best b ON s.vec_id = b.vec_id AND s.s = b.m
      |        GROUP BY s.vec_id),
      |vb AS (SELECT v.vec_id, v.ve, bkt.bucket FROM v JOIN bkt USING (vec_id)),
      |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
      |          FROM vb x JOIN vb y
      |            ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      |          WHERE ${cosFold("x.ve", "y.ve")} >= 0.45e0),
      |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
      |reach(id, r) AS (
      |  SELECT a AS id, a AS r FROM edges
      |  UNION
      |  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a),
      |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      |losers AS (SELECT id FROM comp WHERE comp <> id)
      |SELECT v.vec_id, v.label, bkt.bucket
      |FROM v JOIN bkt USING (vec_id)
      |WHERE v.vec_id NOT IN (SELECT id FROM losers)
      |ORDER BY vec_id""".stripMargin
  }

  /** q162: the planted-md5 MinHash chain replayed byte for byte — same
    * shingle strings as the q31 oracle, per-permutation minima
    * `min(md5(sh || ':' || i))`, '|'-joined band buckets, the banded
    * candidate OR, and the exact-Jaccard verify over candidates only. */
  private val q162Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |           list_transform(range(1, len(w) - 1),
      |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
      |  FROM toks WHERE len(w) >= 3
      |), sigs AS (
      |  SELECT doc_id,
      |         min(md5(shingle || ':0')) AS h0, min(md5(shingle || ':1')) AS h1,
      |         min(md5(shingle || ':2')) AS h2, min(md5(shingle || ':3')) AS h3,
      |         min(md5(shingle || ':4')) AS h4, min(md5(shingle || ':5')) AS h5,
      |         min(md5(shingle || ':6')) AS h6, min(md5(shingle || ':7')) AS h7
      |  FROM sh GROUP BY doc_id
      |), banded AS (
      |  SELECT doc_id, t.band,
      |         CASE t.band WHEN 0 THEN h0 || '|' || h1 WHEN 1 THEN h2 || '|' || h3
      |                     WHEN 2 THEN h4 || '|' || h5 ELSE h6 || '|' || h7 END AS bh
      |  FROM sigs CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(band)
      |), cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
      |), common AS (
      |  SELECT c.a, c.b, COUNT(*) AS common
      |  FROM cand c JOIN sh x ON x.doc_id = c.a
      |              JOIN sh y ON y.doc_id = c.b AND x.shingle = y.shingle
      |  GROUP BY c.a, c.b)
      |SELECT a, b, ROUND(jacc, 6) AS jaccard FROM (
      |  SELECT a, b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jacc
      |  FROM common JOIN sizes sa ON common.a = sa.doc_id
      |              JOIN sizes sb ON common.b = sb.doc_id)
      |WHERE jacc >= 0.6 ORDER BY a, b""".stripMargin

  /** Shared by q31 (shingle equi-join) and q129 (prefix-filtered): both
    * compute the identical exact pair set, so one oracle pins both. */
  private val ngramJaccardOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |           list_transform(range(1, len(w) - 1),
      |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
      |  FROM toks WHERE len(w) >= 3
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, ROUND(jaccard, 6) AS jaccard FROM (
      |  SELECT a, b,
      |         CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
      |  FROM pairs JOIN sizes sa ON pairs.a = sa.doc_id
      |             JOIN sizes sb ON pairs.b = sb.doc_id)
      |WHERE jaccard >= 0.6 ORDER BY a, b""".stripMargin

  /** Shared by q120 (ad-hoc BM25, benchmark split mod 97, query load
    * capped at 500) and q130 (materialized text index, small query batch
    * mod 487 capped at 12). The caps mirror the Spark side's round-10
    * fix: an uncapped %-derived query set grows with the corpus and makes
    * retrieval work quadratic by construction; they do not bind at gate
    * SFs. */
  private def bm25Oracle(qmod: Int, qlim: Int): String =
    """WITH c AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE doc_id % QMOD <> 0
        |), q AS (
        |  SELECT doc_id AS q_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE doc_id % QMOD = 0
        |  ORDER BY doc_id LIMIT QLIM
        |), posts AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM c)
        |  WHERE term <> '' GROUP BY 1, 2, 3
        |), stats AS (
        |  SELECT COUNT(*) AS n, SUM(len(w)) AS sumdl FROM c
        |), qterms AS (
        |  SELECT DISTINCT q_id, term FROM (SELECT q_id, unnest(w) AS term FROM q)
        |  WHERE term <> ''
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM posts GROUP BY 1
        |), scored AS (
        |  SELECT qt.q_id, p.doc_id,
        |         SUM(CAST(ROUND(
        |           ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
        |           (p.tf * (1.2 + 1) /
        |            (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / (CAST(s.sumdl AS DOUBLE) / s.n)))),
        |           6) AS DECIMAL(20,6))) AS sc
        |  FROM posts p
        |  JOIN qterms qt USING (term)
        |  JOIN dfreq d USING (term)
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT q_id, CAST(rank AS INT) AS rank, doc_id, CAST(sc AS DOUBLE) AS score FROM (
        |  SELECT q_id, doc_id, sc,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, doc_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10 ORDER BY q_id, rank"""
      .stripMargin.replace("QMOD", qmod.toString).replace("QLIM", qlim.toString)

  // Cross-IMPLEMENTATION fixtures (tools/make_oracle_fixtures.py) for the
  // three deterministic operators no SQL engine expresses directly: deflate
  // sizes from python zlib keyed by md5(text) (content-addressed — any doc
  // not covered breaks the inner join and fails the row count LOUDLY), the
  // BPE merge table from an independent python trainer keyed by a corpus
  // fingerprint DuckDB recomputes itself, and the sas7bdat fixture as
  // pandas.read_sas's own CSV dump. None of these compare Spark to Spark.
  private val fixtureDir = "/root/repo/src/test/resources/oracle"

  val oracles: Map[String, String] = Map(
    "q58_compress_ratio" ->
      s"""SELECT d.doc_id, f.raw_bytes, f.deflate_bytes, f.compress_ratio
         |FROM documents d
         |JOIN read_parquet('$fixtureDir/deflate_sizes.parquet') f
         |  ON md5(d.text) = f.fp
         |WHERE d.text IS NOT NULL
         |ORDER BY d.doc_id""".stripMargin,
    "q98_bpe_merges" ->
      s"""WITH fp AS (
         |  SELECT md5(string_agg(m, '' ORDER BY m)) AS fp
         |  FROM (SELECT md5(text) AS m FROM documents WHERE text IS NOT NULL))
         |SELECT b.rank, b."left", b."right", b.pair_count
         |FROM read_parquet('$fixtureDir/bpe_merges.parquet') b, fp
         |WHERE b.corpus_fp = fp.fp
         |ORDER BY b.rank""".stripMargin,
    "q99_sas7bdat_native" ->
      s"""SELECT id, ratio, name, flag
         |FROM read_csv('$fixtureDir/u64_pages.csv', header=true,
         |  columns={'id': 'DOUBLE', 'ratio': 'DOUBLE',
         |           'name': 'VARCHAR', 'flag': 'VARCHAR'})
         |WHERE ratio IS NOT NULL ORDER BY id""".stripMargin,
    "q137_warc_ingest" ->
      s"""SELECT record_id, warc_type, target_uri, warc_date, content_length,
         |       http_status, http_content_type, body_md5, body_bytes
         |FROM read_csv('$fixtureDir/warc_expected.csv', header=true,
         |  columns={'record_id': 'VARCHAR', 'warc_type': 'VARCHAR',
         |           'target_uri': 'VARCHAR', 'warc_date': 'TIMESTAMP',
         |           'content_length': 'BIGINT', 'http_status': 'INTEGER',
         |           'http_content_type': 'VARCHAR', 'body_md5': 'VARCHAR',
         |           'body_bytes': 'BIGINT'})
         |ORDER BY record_id""".stripMargin,
    // q147: the gzip segment (records 5-7) through readSplit — identical
    // expected values, so the member-split path faces the same full oracle
    "q147_warc_split_ingest" ->
      s"""SELECT record_id, warc_type, target_uri, warc_date, content_length,
         |       http_status, http_content_type, body_md5, body_bytes
         |FROM read_csv('$fixtureDir/warc_expected.csv', header=true,
         |  columns={'record_id': 'VARCHAR', 'warc_type': 'VARCHAR',
         |           'target_uri': 'VARCHAR', 'warc_date': 'TIMESTAMP',
         |           'content_length': 'BIGINT', 'http_status': 'INTEGER',
         |           'http_content_type': 'VARCHAR', 'body_md5': 'VARCHAR',
         |           'body_bytes': 'BIGINT'})
         |WHERE record_id >= '<urn:uuid:00000000-0000-0000-0000-000000000005>'
         |ORDER BY record_id""".stripMargin,
    "q127_pagerank" -> pageRankOracle(5),
    // q129 is q31's exact output via the lossless prefix filter — same oracle
    "q129_jaccard_prefix" -> ngramJaccardOracle,
    // directed containment: same shingle machinery as q31's oracle with
    // the asymmetric divisor |Sa| and both pair directions kept
    "q149_ngram_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, ROUND(containment, 6) AS containment FROM (
        |  SELECT a, b, CAST(common AS DOUBLE) / sa.sz AS containment
        |  FROM pairs JOIN sizes sa ON pairs.a = sa.doc_id)
        |WHERE containment >= 0.8 ORDER BY a, b""".stripMargin,
    // q155: q149's proven pair SQL recomposed into the disposition verb —
    // qualifying pairs (a embedded in b) are containment >= tau minus the
    // mutual-and-a-smaller case (mutual keeps min id, the q66 convention),
    // then the audit-style LEFT JOIN assembly labels every doc
    "q155_dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), meets AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2
        |), cp AS (
        |  SELECT a, b FROM (
        |    SELECT a, b, CAST(common AS DOUBLE) / sa.sz AS containment
        |    FROM meets JOIN sizes sa ON meets.a = sa.doc_id)
        |  WHERE containment >= 0.8
        |), emb AS (
        |  SELECT p.a AS doc_id, MIN(p.b) AS embedded_in FROM cp p
        |  WHERE NOT EXISTS (SELECT 1 FROM cp r WHERE r.a = p.b AND r.b = p.a)
        |     OR p.a > p.b
        |  GROUP BY p.a)
        |SELECT d.doc_id,
        |       CASE WHEN e.embedded_in IS NOT NULL THEN 'embedded'
        |            ELSE 'kept' END AS disposition,
        |       e.embedded_in
        |FROM documents d LEFT JOIN emb e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // A-ES selection key recomputed arithmetically: the portable modular
    // mix (Knuth multiplier mod 1e9+7, midpoint-shifted to (0,1)), then
    // -ln(u)/length(text); literals carry e0 so DuckDB stays DOUBLE
    "q150_weighted_sample" ->
      """WITH k AS (
        |  SELECT lang, doc_id,
        |    -ln(((((doc_id + 7) % 1000000007) * 2654435761) % 1000000007
        |         + 0.5e0) / 1000000007e0) / length(text) AS es_key
        |  FROM documents WHERE length(text) > 0),
        |r AS (
        |  SELECT lang, doc_id, es_key,
        |    row_number() OVER (PARTITION BY lang ORDER BY es_key ASC, doc_id ASC) AS rn
        |  FROM k)
        |SELECT lang, doc_id, ROUND(es_key, 6) AS es_key FROM r
        |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin,
    // recursive min-label closure over the same chain+bridge edges; the
    // lab < dst prune bounds the walk to labels that can still win
    "q151_graph_components" ->
      """WITH RECURSIVE d AS (SELECT doc_id FROM documents),
        |ch AS (SELECT doc_id AS src, doc_id + 1 AS dst FROM d WHERE doc_id % 10 <> 9),
        |br AS (SELECT doc_id AS src, doc_id - 10 AS dst FROM d
        |       WHERE doc_id % 50 = 0 AND doc_id >= 10),
        |e0 AS (
        |  SELECT src, dst FROM ch WHERE dst IN (SELECT doc_id FROM d)
        |  UNION ALL
        |  SELECT src, dst FROM br WHERE dst IN (SELECT doc_id FROM d)),
        |ed AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |cc(id, lab) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.dst, cc.lab FROM ed e JOIN cc ON cc.id = e.src WHERE cc.lab < e.dst
        |)
        |SELECT id, MIN(lab) AS comp FROM cc GROUP BY id ORDER BY id""".stripMargin,
    "q128_curation_audit" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |red AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |      '555-[0-9]{4}', '<PHONE>', 'g') AS text
        |  FROM corpus),
        |w AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS words FROM red),
        |f AS (
        |  SELECT doc_id, text, words,
        |    (n BETWEEN 20 AND 80 AND mwl >= 4.2 AND mwl <= 4.8
        |     AND stopr >= 0.02 AND distr >= 0.35) AS keep
        |  FROM (
        |    SELECT doc_id, text, words, len(words) AS n,
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)/len(words) AS mwl,
        |      CAST(len(list_filter(words, t -> list_contains(['the','a','an','and','of','is','in','to'], t))) AS DOUBLE)/len(words) AS stopr,
        |      CAST(len(list_distinct(words)) AS DOUBLE)/len(words) AS distr
        |    FROM w)),
        |q AS (SELECT doc_id, text, words FROM f WHERE keep),
        |win AS (SELECT text, min(doc_id) AS dup_of FROM q GROUP BY text),
        |d AS (SELECT q.doc_id, q.words, win.dup_of FROM q JOIN win ON q.text = win.text),
        |dw AS (SELECT doc_id, words FROM d WHERE doc_id = dup_of),
        |gi AS (SELECT doc_id, words, unnest(generate_series(1, len(words)-2)) AS g
        |       FROM dw WHERE len(words) >= 3),
        |gr AS (SELECT doc_id, array_to_string(words[g:g+2], ' ') AS ng FROM gi),
        |bw AS (SELECT string_split_regex(trim(text), '\s+') AS words FROM bench),
        |bgi AS (SELECT words, unnest(generate_series(1, len(words)-2)) AS g
        |        FROM bw WHERE len(words) >= 3),
        |bgr AS (SELECT DISTINCT array_to_string(words[g:g+2], ' ') AS ng FROM bgi),
        |contam AS (
        |  SELECT dg.doc_id, CAST(count(b.ng) AS DOUBLE)/count(*) AS cf
        |  FROM (SELECT DISTINCT doc_id, ng FROM gr) dg LEFT JOIN bgr b ON dg.ng = b.ng
        |  GROUP BY 1)
        |SELECT f.doc_id,
        |  CASE WHEN NOT f.keep THEN 'quality'
        |       WHEN f.doc_id <> d.dup_of THEN 'duplicate'
        |       WHEN coalesce(c.cf, 0) >= 0.2 THEN 'contaminated'
        |       ELSE 'kept' END AS disposition,
        |  CASE WHEN f.keep AND f.doc_id <> d.dup_of THEN d.dup_of END AS dup_of,
        |  CASE WHEN f.keep AND f.doc_id = d.dup_of THEN round(c.cf, 6) END AS contam_frac
        |FROM f LEFT JOIN d ON f.doc_id = d.doc_id
        |       LEFT JOIN contam c ON f.doc_id = c.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    "q01_sas_keep_rename" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_returnflag, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_sas_drop_where" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag, l_shipdate
        |FROM lineitem
        |WHERE l_quantity BETWEEN 30 AND 40 AND l_returnflag <> 'N' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_sas_obs" ->
      "SELECT * FROM orders ORDER BY o_orderkey LIMIT 100",
    "q04_fix_missing" ->
      """SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q05_col_types" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(l_shipdate AS DATE) AS l_shipdate,
        |       l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q06_csv_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    "q07_parquet_modified" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",
    "q08_type_inference" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q09_list_tables" ->
      """SELECT * FROM (VALUES ('customer'),('documents'),('embeddings'),('events'),('lineitem'),
        |('nation'),('orders'),('part'),('region'),('supplier')) AS t(table_name)
        |ORDER BY table_name""".stripMargin,
    "q10_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       ROUND(AVG(l_quantity), 6) AS avg_qty,
        |       ROUND(AVG(l_discount), 6) AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q11_join_broadcast" ->
      """SELECT n_name,
        |       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q12_join_shuffle" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q13_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q14_window_rank" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin,
    "q15_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q16_anti_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q17_union_label" ->
      """SELECT 'customer' AS kind, c_name AS name FROM customer
        |UNION ALL
        |SELECT 'supplier' AS kind, s_name AS name FROM supplier
        |ORDER BY kind, name""".stripMargin,
    "q18_pivot" ->
      """SELECT l_returnflag,
        |       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0.0 END), 2) AS qty_f,
        |       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0.0 END), 2) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q19_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q20_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, s.ts AS signup_ts
        |FROM events e
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q53_asof_broadcast" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, s.ts AS signup_ts
        |FROM events e
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q60_stratified_sample" ->
      """SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY (((event_id % 1000000007) * 2654435761) % 1000000007) ASC,
        |                    event_id ASC) AS rn
        |  FROM events)
        |WHERE rn <= 20 ORDER BY event_type, event_id""".stripMargin,
    "q62_quality_checks" ->
      """SELECT chk, violations FROM (
        |  SELECT 'notnull:l_orderkey' AS chk,
        |         CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'notnull:l_shipdate',
        |         CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range:l_quantity',
        |         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range:l_discount',
        |         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique:l_orderkey,l_linenumber',
        |         CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |  WHERE n > 1)
        |ORDER BY chk""".stripMargin,
    "q61_ntile" ->
      """SELECT event_id,
        |       NTILE(7) OVER (ORDER BY ts ASC, event_id ASC) AS bucket
        |FROM events ORDER BY event_id""".stripMargin,
    "q59_global_rownum" ->
      """SELECT event_id, user_id, ts,
        |       ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC) AS rn
        |FROM events ORDER BY rn""".stripMargin,
    "q57_interval_lookup" ->
      """WITH eras AS (
        |  SELECT user_id, ts AS valid_from,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS era,
        |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
        |  FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, e.user_id, e.ts, i.era, i.valid_from AS era_start
        |FROM (SELECT event_id, user_id, ts FROM events) e
        |LEFT JOIN eras i
        |  ON e.user_id = i.user_id AND e.ts >= i.valid_from
        |     AND (i.valid_to IS NULL OR e.ts < i.valid_to)
        |ORDER BY e.event_id""".stripMargin,
    "q55_latest_per_key" ->
      """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |       event_type AS last_event_type
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q56_scd_intervals" ->
      """SELECT user_id, event_id, event_type, ts AS valid_from,
        |       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q54_split_sample" ->
      """SELECT doc_id,
        |  CASE WHEN (((doc_id % 1000000007) * 2654435761) % 1000000007) % 100 < 80 THEN 'train'
        |       WHEN (((doc_id % 1000000007) * 2654435761) % 1000000007) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q48_asof_inner" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, s.ts AS signup_ts
        |FROM events e
        |ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q49_asof_native" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, s.ts AS signup_ts
        |FROM events e
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q21_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sessions AS (
        |  SELECT user_id, ts,
        |         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q22_time_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events,
        |       ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_exists_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q24_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT (MIN(o_totalprice) + MAX(o_totalprice)) / 2 FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q25_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q26_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q27_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS UNBOUNDED PRECEDING), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q28_count_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q29_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the pattern definition (not code) shared with multimodal.Images
    // (round-10 gradient form — s1 = id%256, s2 = (id//256)%256):
    // r=(7x+3y+s1+s2*x)%256, g=(5x+11y+2*s1+s2*y)%256,
    // b=(13x+y+3*s1+s2*(x+y))%256 over 32x24; blocks are 4x3 pixels
    // (8x8 grid), luma = 299r+587g+114b, bit j set iff blockLuma*64 >
    // total — all integer, split hi/lo to avoid 1<<63
    "q139_image_features" ->
      """WITH sd AS (
        |  SELECT doc_id, doc_id % 256 AS s1, (doc_id // 256) % 256 AS s2
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, tx.range AS x, ty.range AS y,
        |         (7 * tx.range + 3 * ty.range + d.s1 + d.s2 * tx.range) % 256 AS r,
        |         (5 * tx.range + 11 * ty.range + 2 * d.s1 + d.s2 * ty.range) % 256 AS g,
        |         (13 * tx.range + ty.range + 3 * d.s1 + d.s2 * (tx.range + ty.range)) % 256 AS b
        |  FROM sd d CROSS JOIN range(0, 32) tx CROSS JOIN range(0, 24) ty),
        |blk AS (
        |  SELECT doc_id, (y // 3) * 8 + (x // 4) AS j,
        |         sum(299 * r + 587 * g + 114 * b) AS luma
        |  FROM px GROUP BY doc_id, j),
        |tot AS (SELECT doc_id, sum(luma) AS total FROM blk GROUP BY doc_id),
        |sums AS (
        |  SELECT doc_id, sum(r) AS sum_r, sum(g) AS sum_g, sum(b) AS sum_b
        |  FROM px GROUP BY doc_id),
        |hashes AS (
        |  SELECT b.doc_id,
        |    sum(CASE WHEN b.luma * 64 > t.total AND b.j >= 32
        |             THEN (CAST(1 AS BIGINT) << CAST(b.j - 32 AS INT)) ELSE 0 END) AS ahash_hi,
        |    sum(CASE WHEN b.luma * 64 > t.total AND b.j < 32
        |             THEN (CAST(1 AS BIGINT) << CAST(b.j AS INT)) ELSE 0 END) AS ahash_lo
        |  FROM blk b JOIN tot t USING (doc_id) GROUP BY b.doc_id)
        |SELECT s.doc_id, 32 AS width, 24 AS height,
        |       CAST(s.sum_r AS BIGINT) AS sum_r, CAST(s.sum_g AS BIGINT) AS sum_g,
        |       CAST(s.sum_b AS BIGINT) AS sum_b,
        |       CAST(h.ahash_hi AS BIGINT) AS ahash_hi,
        |       CAST(h.ahash_lo AS BIGINT) AS ahash_lo
        |FROM sums s JOIN hashes h USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,
    // q139's arithmetic hash per seed = doc_id DIV 5 (constant-size
    // clusters — round 10), then BRUTE all-pairs hamming (the oracle can
    // afford N² where the Spark side must band); hamming from the hi/lo
    // halves so no 64-bit reconstruction overflows
    "q140_image_near_dups" ->
      """WITH sd AS (
        |  SELECT doc_id, (doc_id // 5) % 256 AS s1,
        |         ((doc_id // 5) // 256) % 256 AS s2
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, tx.range AS x, ty.range AS y,
        |         (7 * tx.range + 3 * ty.range + d.s1 + d.s2 * tx.range) % 256 AS r,
        |         (5 * tx.range + 11 * ty.range + 2 * d.s1 + d.s2 * ty.range) % 256 AS g,
        |         (13 * tx.range + ty.range + 3 * d.s1 + d.s2 * (tx.range + ty.range)) % 256 AS b
        |  FROM sd d CROSS JOIN range(0, 32) tx CROSS JOIN range(0, 24) ty),
        |blk AS (
        |  SELECT doc_id, (y // 3) * 8 + (x // 4) AS j,
        |         sum(299 * r + 587 * g + 114 * b) AS luma
        |  FROM px GROUP BY doc_id, j),
        |tot AS (SELECT doc_id, sum(luma) AS total FROM blk GROUP BY doc_id),
        |h AS (
        |  SELECT b.doc_id,
        |    CAST(sum(CASE WHEN b.luma * 64 > t.total AND b.j >= 32
        |             THEN (CAST(1 AS BIGINT) << CAST(b.j - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN b.luma * 64 > t.total AND b.j < 32
        |             THEN (CAST(1 AS BIGINT) << CAST(b.j AS INT)) ELSE 0 END) AS BIGINT) AS lo
        |  FROM blk b JOIN tot t USING (doc_id) GROUP BY b.doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) AS INT) AS hamming
        |FROM h x JOIN h y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3
        |ORDER BY a, b""".stripMargin,
    // q143: the DCT pHash recomputed ARITHMETICALLY — the fixed-point
    // basis (cos x2^14, the 8 low-frequency rows) is embedded as literal
    // VALUES from the SAME table the Spark side uses
    // (Images.phashCosTable), luma is exact integer BT.601 over the
    // nearest-neighbor-sampled pattern (32x24 image: sx = x, sy =
    // (y*24)//32), the median threshold is the pure integer
    // 2*coeff > s31+s32, and pairs brute-force where Spark must band.
    // Every intermediate is integer, so the hash crosses engines exactly.
    "q143_phash_near_dups" -> {
      val cosRows = (for (k <- 0 until 8; i <- 0 until 32)
        yield s"($k,$i,${graft.multimodal.Images.phashCosTable(k)(i)})").mkString(",")
      s"""WITH cos(k, i, c) AS (VALUES $cosRows),
         |sd AS (
         |  SELECT doc_id, (doc_id // 5) % 256 AS s1,
         |         ((doc_id // 5) // 256) % 256 AS s2
         |  FROM documents),
         |px AS (
         |  SELECT d.doc_id, xx.range AS x, yy.range AS y,
         |     299 * ((7 * xx.range + 3 * ((yy.range * 24) // 32) + d.s1 + d.s2 * xx.range) % 256)
         |   + 587 * ((5 * xx.range + 11 * ((yy.range * 24) // 32) + 2 * d.s1 + d.s2 * ((yy.range * 24) // 32)) % 256)
         |   + 114 * ((13 * xx.range + ((yy.range * 24) // 32) + 3 * d.s1 + d.s2 * (xx.range + (yy.range * 24) // 32)) % 256) AS luma
         |  FROM sd d CROSS JOIN range(0, 32) xx CROSS JOIN range(0, 32) yy),
         |t AS (
         |  SELECT p.doc_id, p.y, c.k AS v, SUM(p.luma * c.c) AS t
         |  FROM px p JOIN cos c ON c.i = p.x GROUP BY 1, 2, 3),
         |dct AS (
         |  SELECT t.doc_id, c.k AS u, t.v, CAST(SUM(t.t * c.c) AS BIGINT) AS d
         |  FROM t JOIN cos c ON c.i = t.y GROUP BY 1, 2, 3),
         |blk AS (SELECT doc_id, u, v, d FROM dct WHERE NOT (u = 0 AND v = 0)),
         |rn AS (SELECT doc_id, d,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY d) AS rn FROM blk),
         |med AS (SELECT doc_id, SUM(CASE WHEN rn IN (31, 32) THEN d ELSE 0 END) AS med2
         |        FROM rn GROUP BY doc_id),
         |h AS (
         |  SELECT b.doc_id,
         |    CAST(SUM(CASE WHEN 2 * b.d > m.med2
         |         THEN (CAST(1 AS BIGINT) << CAST(b.u * 8 + b.v - 1 AS INT))
         |         ELSE 0 END) AS BIGINT) AS h
         |  FROM blk b JOIN med m USING (doc_id) GROUP BY b.doc_id)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.h, y.h)) AS INT) AS hamming
         |FROM h x JOIN h y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.h, y.h)) <= 3
         |ORDER BY a, b""".stripMargin
    },
    // q144/q145: the animated-GIF pattern luma(x,y,f) = (7x + 3y + 11f +
    // s1 + s2*(x+3y)) % 256 recomputed arithmetically (round-10 gradient
    // form; q144's seed = doc_id % 53 < 256 keeps s2 = 0, so its SQL
    // stays in the reduced form); the payloads round-trip bit-exact
    // through the 256-gray indexed palette, so the decoded features must
    // equal these pure-SQL sums (codec path proven, q139's discipline on
    // the time axis). luma_fp = SUM(v * (y*32+x+1)^2) <= ~3.8e10 — BIGINT.
    "q144_gif_frames" ->
      """WITH f AS (
        |  SELECT d.doc_id, d.doc_id % 53 AS seed,
        |         CAST(3 + d.doc_id % 4 AS INT) AS nf, fr.range AS fi
        |  FROM documents d CROSS JOIN range(0, 7) fr
        |  WHERE fr.range < 3 + d.doc_id % 4 AND fr.range % 2 = 0),
        |px AS (
        |  SELECT f.doc_id, f.fi, f.nf, xx.range AS x, yy.range AS y,
        |         (7 * xx.range + 3 * yy.range + 11 * f.fi + f.seed) % 256 AS v
        |  FROM f CROSS JOIN range(0, 32) xx CROSS JOIN range(0, 24) yy)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, nf AS n_frames,
        |       32 AS width, 24 AS height,
        |       CAST(SUM(v) AS BIGINT) AS luma_sum,
        |       CAST(SUM(v * (y * 32 + x + 1) * (y * 32 + x + 1)) AS BIGINT) AS luma_fp
        |FROM px GROUP BY doc_id, fi, nf
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q145_gif_frame_overlap" ->
      """WITH f AS (
        |  SELECT d.doc_id, (d.doc_id // 8) % 256 AS s1,
        |         ((d.doc_id // 8) // 256) % 256 AS s2,
        |         fr.range AS fi
        |  FROM documents d CROSS JOIN range(0, 7) fr
        |  WHERE fr.range < 3 + d.doc_id % 4),
        |px AS (
        |  SELECT f.doc_id, f.fi, xx.range AS x, yy.range AS y,
        |         (7 * xx.range + 3 * yy.range + 11 * f.fi + f.s1
        |          + f.s2 * (xx.range + 3 * yy.range)) % 256 AS v
        |  FROM f CROSS JOIN range(0, 32) xx CROSS JOIN range(0, 24) yy),
        |fp AS (
        |  SELECT DISTINCT doc_id,
        |         CAST(SUM(v * (y * 32 + x + 1) * (y * 32 + x + 1)) AS BIGINT) AS luma_fp
        |  FROM px GROUP BY doc_id, fi)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       count(*) AS shared_frames
        |FROM fp a JOIN fp b ON a.luma_fp = b.luma_fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q152/q153: the WAV pattern v(i) = ((31i + 1777·seed) % 65536) −
    // 32768 recomputed arithmetically; 16-bit PCM round-trips bit-exactly
    // through the JDK WAVE codec, so the decoded per-window sums must
    // equal these pure-SQL sums (q144's codec proof, third modality).
    // All intermediates integer: energy ≤ 256·32768² ≈ 2.7e11, fp ≤
    // 32768·256²·256 ≈ 5.5e11 — BIGINT. sample_rate comes from the
    // DECODER on the Spark side; 8000 here proves the header round-trip.
    "q152_wav_features" ->
      """WITH s AS (
        |  SELECT d.doc_id, CAST(2048 + (d.doc_id % 3) * 256 AS BIGINT) AS n,
        |         i.range AS i,
        |         ((31 * i.range + (1777 * (d.doc_id % 41)) % 65536) % 65536) - 32768 AS v
        |  FROM documents d CROSS JOIN range(0, 2560) i
        |  WHERE i.range < 2048 + (d.doc_id % 3) * 256)
        |SELECT doc_id,
        |       CAST(i // 256 AS INT) AS window_idx,
        |       CAST(n // 256 AS INT) AS n_windows,
        |       8000 AS sample_rate,
        |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        |       CAST(SUM(v * v) AS BIGINT) AS energy,
        |       CAST(SUM(v * ((i % 256 + 1) * (i % 256 + 1))) AS BIGINT) AS window_fp
        |FROM s GROUP BY doc_id, i // 256, n
        |ORDER BY doc_id, window_idx""".stripMargin,
    // q154: FrameOverlap's GUARD SEMANTICS implemented in SQL — a pair
    // surfaces only with >= 1 COLD shared fingerprint (df <= hotFpLimit);
    // its count then includes the hot ones. The 16 hot fps (df = docs/2 >
    // 64 at every SF) and the per-group cold fps (df = 10) are both pure
    // arithmetic, so the oracle derives hot/cold by CONSTRUCTION — which
    // equals the df rule exactly here (every h < 16 fp has df > 64, every
    // fp >= 1000 has df = 10 <= 64, and 16 <= the 64-bit mask capacity).
    "q154_frame_overlap_guarded" ->
      """WITH hot AS (
        |  SELECT d.doc_id, h.range AS fp FROM documents d CROSS JOIN range(0, 16) h
        |  WHERE (d.doc_id + h.range) % 2 = 0),
        |cold AS (
        |  SELECT d.doc_id, 1000 + (d.doc_id // 10) * 16 + k.range AS fp
        |  FROM documents d CROSS JOIN range(0, 4) k),
        |coldp AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_cold
        |  FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |hotc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_hot
        |  FROM hot a JOIN hot b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |       CAST(c.n_cold + COALESCE(h.n_hot, 0) AS BIGINT) AS shared_frames
        |FROM coldp c LEFT JOIN hotc h
        |  ON c.doc_a = h.doc_a AND c.doc_b = h.doc_b
        |WHERE c.n_cold + COALESCE(h.n_hot, 0) >= 6
        |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    // q153: the 64-bit delta-energy fingerprint recomputed ARITHMETICALLY
    // (bit w = E(w+1) > E(w) over 65 windows of 64 samples) as hi/lo
    // 32-bit halves (no sign-wrapping 1<<63), pairs brute-forced where
    // Spark must band — the q140/q143 discipline on the time axis.
    "q153_audio_fingerprint_dedup" ->
      """WITH sd AS (
        |  SELECT doc_id, 31 + 2 * (((doc_id // 5) // 65536) % 256) AS slope,
        |         (1777 * (doc_id // 5)) % 65536 AS phase
        |  FROM documents),
        |s AS (
        |  SELECT d.doc_id, i.range AS i,
        |         ((d.slope * i.range + d.phase) % 65536) - 32768 AS v
        |  FROM sd d CROSS JOIN range(0, 4160) i),
        |e AS (SELECT doc_id, i // 64 AS w, SUM(v * v) AS e FROM s GROUP BY 1, 2),
        |b AS (
        |  SELECT e1.doc_id, e1.w AS bit,
        |         CASE WHEN e2.e > e1.e THEN 1 ELSE 0 END AS onbit
        |  FROM e e1 JOIN e e2 ON e1.doc_id = e2.doc_id AND e2.w = e1.w + 1
        |  WHERE e1.w < 64),
        |h AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN onbit = 1 AND bit >= 32
        |             THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN onbit = 1 AND bit < 32
        |             THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS lo
        |  FROM b GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) AS INT) AS hamming
        |FROM h x JOIN h y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3
        |ORDER BY a, b""".stripMargin,
    // Binary.aHashOf is deterministic integer arithmetic over payload
    // bytes, and the corpus is pure ASCII (byte == code point), so the
    // whole stub-hash + banded hamming-pair pipeline is SQL: sample 64
    // bytes at (i*len)//64, bit i set iff v*64 >= sum, brute all pairs
    // (hamming over hi/lo halves — no sign-wrapping 1<<63). Docs under 64
    // bytes are the simhash=0 sentinel on the Spark side and are excluded
    // here; a >= 64-byte doc cannot hash to 0 (its max byte always sets
    // a bit).
    "q97_phash_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -doc_id - 1, substr(text, 1, length(text) - 1) || 'x'
        |  FROM documents WHERE doc_id % 5 = 0),
        |s AS (
        |  SELECT c.doc_id, i.range AS i,
        |         unicode(substr(c.text,
        |           CAST((i.range * length(c.text)) // 64 AS INT) + 1, 1)) AS v
        |  FROM corpus c CROSS JOIN range(0, 64) i
        |  WHERE length(c.text) >= 64),
        |t AS (SELECT doc_id, sum(v) AS total FROM s GROUP BY doc_id),
        |h AS (
        |  SELECT s.doc_id,
        |    CAST(sum(CASE WHEN s.v * 64 >= t.total AND s.i >= 32
        |             THEN (CAST(1 AS BIGINT) << CAST(s.i - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN s.v * 64 >= t.total AND s.i < 32
        |             THEN (CAST(1 AS BIGINT) << CAST(s.i AS INT)) ELSE 0 END) AS BIGINT) AS lo
        |  FROM s JOIN t USING (doc_id) GROUP BY s.doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) AS INT) AS hamming
        |FROM h x JOIN h y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)) <= 3
        |ORDER BY a, b""".stripMargin,
    // q132's portable shard mix + exact TFRecord framing arithmetic:
    // every record costs 16 framing bytes + its UTF-8 payload
    "q141_tfrecord_export" ->
      """WITH keyed AS (
        |  SELECT doc_id, text,
        |         ((doc_id + 42) % 1000000007 * 2654435761) % 1000000007 AS k
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(k % 1000000 % 8 AS BIGINT) AS shard,
        |       count(*) AS n_rows,
        |       CAST(sum(16 + octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes
        |FROM keyed GROUP BY 1 ORDER BY shard""".stripMargin,
    "q138_quantile_sketch" ->
      """WITH v AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
        |  WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type, x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |       CAST(0 AS BIGINT) AS max_rank_err, TRUE AS is_exact,
        |       round(min(CASE WHEN rn >= ceil(0.1 * n) THEN x END), 6) AS q10,
        |       round(min(CASE WHEN rn >= ceil(0.5 * n) THEN x END), 6) AS q50,
        |       round(min(CASE WHEN rn >= ceil(0.9 * n) THEN x END), 6) AS q90,
        |       round(min(CASE WHEN rn >= ceil(0.99 * n) THEN x END), 6) AS q99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q146: only the tail columns are emitted by the query — plain
    // nearest-rank SQL. The q_exact certificates mirror the sketch's rule
    // (functions/QuantileSketch.scala eval: target <= lo.length OR
    // n - target < hi.length, buffers of length min(t, n), t = 4096), so
    // the oracle stays valid at ANY SF — at per-group n above ~4.1M the
    // p0.999 rank leaves the tail buffers and BOTH sides flip to false
    // together (the core never compacts only while n is small).
    "q146_tail_quantiles" ->
      """WITH v AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
        |  WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type, x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |q AS (
        |  SELECT event_type, max(n) AS n,
        |         min(CASE WHEN rn >= greatest(ceil(0.001 * n), 1) THEN x END) AS q001,
        |         min(CASE WHEN rn >= greatest(ceil(0.999 * n), 1) THEN x END) AS q999,
        |         min(CASE WHEN rn >= greatest(ceil(0.9999 * n), 1) THEN x END) AS q9999
        |  FROM r GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       round(q001, 6) AS q001,
        |       (greatest(ceil(0.001 * n), 1) <= least(4096, n)
        |          OR n - greatest(ceil(0.001 * n), 1) < least(4096, n)) AS q001_exact,
        |       round(q999, 6) AS q999,
        |       (greatest(ceil(0.999 * n), 1) <= least(4096, n)
        |          OR n - greatest(ceil(0.999 * n), 1) < least(4096, n)) AS q999_exact,
        |       round(q9999, 6) AS q9999,
        |       (greatest(ceil(0.9999 * n), 1) <= least(4096, n)
        |          OR n - greatest(ceil(0.9999 * n), 1) < least(4096, n)) AS q9999_exact
        |FROM q ORDER BY event_type""".stripMargin,
    "q46_percentiles" ->
      """SELECT o_orderpriority,
        |       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q47_histogram" ->
      """WITH mm AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders)
        |SELECT LEAST(CAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9) AS bin,
        |       COUNT(*) AS n_orders
        |FROM orders, mm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    "q101_dup_spans" ->
      """WITH sp0 AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 39, 1)) AS pos, text
        |  FROM documents WHERE length(text) >= 40
        |), sp AS (
        |  SELECT doc_id, substr(text, CAST(pos AS INT), 40) AS span FROM sp0
        |), dup AS (
        |  SELECT span FROM sp GROUP BY span HAVING count(*) > 1
        |), per_doc AS (
        |  SELECT sp.doc_id, count(*) AS dup_spans FROM sp JOIN dup USING (span)
        |  GROUP BY sp.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(p.dup_spans, 0) AS BIGINT) AS dup_spans
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q120_bm25" -> bm25Oracle(97, 500),
    "q135_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE doc_id % 487 <> 0)
        |SELECT doc_id, CAST(len(list_filter(range(1, len(w) - 1),
        |         i -> w[i] = 'slow' AND w[i+1] = 'hash' AND w[i+2] = 'batch'))
        |       AS INT) AS n_occurrences
        |FROM toks
        |WHERE len(list_filter(range(1, len(w) - 1),
        |        i -> w[i] = 'slow' AND w[i+1] = 'hash' AND w[i+2] = 'batch')) > 0
        |ORDER BY doc_id""".stripMargin,
    "q134_overlap_matrix" ->
      """WITH d AS (
        |  SELECT DISTINCT 's1' AS g, text FROM documents WHERE doc_id % 10 < 6
        |  UNION SELECT DISTINCT 's2' AS g, text FROM documents WHERE doc_id % 10 BETWEEN 3 AND 8
        |  UNION SELECT DISTINCT 's3' AS g, text FROM documents WHERE doc_id % 10 >= 6 OR doc_id % 10 < 2
        |), gs AS (SELECT DISTINCT g FROM d),
        |p AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
        |st AS (SELECT ga, gb,
        |  (SELECT COUNT(*) FROM d WHERE g = ga) AS n_a,
        |  (SELECT COUNT(*) FROM d WHERE g = gb) AS n_b,
        |  (SELECT COUNT(*) FROM d x JOIN d y ON x.text = y.text
        |     AND x.g = ga AND y.g = gb) AS n_intersection
        |  FROM p)
        |SELECT ga, gb, n_a, n_b,
        |       n_a + n_b - n_intersection AS n_union, n_intersection,
        |       ROUND(CAST(n_intersection AS DOUBLE) /
        |             (n_a + n_b - n_intersection), 6) AS jaccard,
        |       TRUE AS is_exact
        |FROM st ORDER BY ga, gb""".stripMargin,
    "q132_shuffle_shards" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang,
        |         ((doc_id + 42) % 1000000007 * 2654435761) % 1000000007 AS k
        |  FROM documents)
        |SELECT doc_id, lang, CAST(k % 1000000 % 8 AS INT) AS shard,
        |       CAST(row_number() OVER (PARTITION BY k % 1000000 % 8 ORDER BY k, doc_id) AS INT) AS pos
        |FROM keyed ORDER BY shard, pos""".stripMargin,
    "q131_corpus_overlap" ->
      """WITH a AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 6),
        |b AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 >= 4),
        |st AS (SELECT
        |  (SELECT COUNT(*) FROM a) AS n_a,
        |  (SELECT COUNT(*) FROM b) AS n_b,
        |  (SELECT COUNT(*) FROM (SELECT text FROM a UNION SELECT text FROM b)) AS n_union,
        |  (SELECT COUNT(*) FROM (SELECT text FROM a INTERSECT SELECT text FROM b)) AS n_intersection)
        |SELECT n_a, n_b, n_union, n_intersection,
        |       ROUND(CAST(n_intersection AS DOUBLE) / n_union, 6) AS jaccard,
        |       TRUE AS is_exact
        |FROM st""".stripMargin,
    // q130 searches a materialized index over the same corpus split with
    // identical BM25 arithmetic — one oracle pins both
    "q130_text_index" -> bm25Oracle(487, 12),
    "q126_top_paths" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
        |                               ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM sessions
        |), paths AS (
        |  SELECT user_id, session_id,
        |         string_agg(event_type, '->' ORDER BY ts ASC, event_id ASC) AS path
        |  FROM ranked WHERE rn <= 5 GROUP BY user_id, session_id
        |)
        |SELECT path, COUNT(*) AS n_sessions FROM paths
        |GROUP BY path ORDER BY n_sessions DESC, path ASC LIMIT 15""".stripMargin,
    "q125_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style><script>var x=1<2;</script></head><body><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
        |    || '</p><!-- note --> A&amp;B &lt;tag&gt; 1&nbsp;2</body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(html,
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '<[^>]+>', ' ', 'g'),
        |    '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'),
        |    '&nbsp;', ' ', 'g'),
        |    '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM h ORDER BY doc_id""".stripMargin,
    "q124_nfc_normalize" ->
      """SELECT doc_id,
        |       nfc_normalize(text || ' caf' || 'e' || chr(769) || ' nfd') AS norm_text,
        |       md5(nfc_normalize(text || ' caf' || 'e' || chr(769) || ' nfd')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q123_corpus_diff" ->
      """WITH fp AS (
        |  SELECT doc_id, text,
        |         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |                                 '\s+', ' ', 'g'))) AS f
        |  FROM documents
        |), o AS (SELECT doc_id, f AS old_fp FROM fp WHERE doc_id % 7 <> 3),
        |n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(
        |             lower(CASE WHEN doc_id % 11 = 0 THEN text || ' version two' ELSE text END),
        |             '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS new_fp
        |  FROM fp WHERE doc_id % 5 <> 2
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.old_fp IS NULL THEN 'added'
        |            WHEN n.new_fp IS NULL THEN 'removed'
        |            WHEN o.old_fp <> n.new_fp THEN 'modified'
        |            ELSE 'unchanged' END AS status,
        |       o.old_fp, n.new_fp
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q122_jsonl_manifest" ->
      """WITH j AS (
        |  SELECT doc_id,
        |         strlen(CAST(to_json(struct_pack(doc_id := doc_id, text := text))
        |                AS VARCHAR)) + 1 AS w
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |         CAST(SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM j
        |), s AS (
        |  SELECT doc_id, w, CAST((cum - 1) // 65536 AS BIGINT) AS shard FROM c
        |)
        |SELECT shard, COUNT(*) AS n_rows, CAST(SUM(w) AS BIGINT) AS bytes,
        |       MIN(doc_id) AS first_key, MAX(doc_id) AS last_key
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q121_topk_group" ->
      """SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q119_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), ln AS (
        |  SELECT doc_id, ws,
        |         unnest(generate_series(0, CAST(ceil(len(ws) / 3.0) AS INT) - 1)) AS idx
        |  FROM w
        |), lines AS (
        |  SELECT doc_id, idx,
        |         array_to_string(ws[idx * 3 + 1 : idx * 3 + 3], ' ') AS line
        |  FROM ln
        |), ranked AS (
        |  SELECT doc_id, idx,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS r
        |  FROM lines WHERE length(line) >= 1
        |), losers AS (
        |  SELECT doc_id, idx FROM ranked WHERE r > 1
        |), kept AS (
        |  SELECT l.doc_id,
        |         array_to_string(list(l.line ORDER BY l.idx), chr(10)) AS text
        |  FROM lines l ANTI JOIN losers lo
        |    ON l.doc_id = lo.doc_id AND l.idx = lo.idx
        |  GROUP BY l.doc_id
        |), nrem AS (
        |  SELECT doc_id, count(*) AS lines_removed FROM losers GROUP BY doc_id
        |)
        |SELECT d.doc_id, COALESCE(k.text, '') AS text,
        |       CAST(COALESCE(n.lines_removed, 0) AS INT) AS lines_removed
        |FROM documents d
        |LEFT JOIN kept k USING (doc_id)
        |LEFT JOIN nrem n USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q102_contam_spans" ->
      """WITH bsp0 AS (
        |  SELECT unnest(generate_series(1, length(text) - 39, 1)) AS pos, text
        |  FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 40
        |), bsp AS (
        |  SELECT DISTINCT substr(text, CAST(pos AS INT), 40) AS span FROM bsp0
        |), sp0 AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 39, 1)) AS pos, text
        |  FROM documents WHERE doc_id % 97 <> 0 AND length(text) >= 40
        |), sp AS (
        |  SELECT doc_id, substr(text, CAST(pos AS INT), 40) AS span FROM sp0
        |), per_doc AS (
        |  SELECT sp.doc_id, count(*) AS contam_spans FROM sp JOIN bsp USING (span)
        |  GROUP BY sp.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(p.contam_spans, 0) AS BIGINT) AS contam_spans
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    "q31_dedup_ngram" -> ngramJaccardOracle,
    "q34_dedup_embedding" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
        |           FROM embeddings),
        |p AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         list_reduce(list_prepend(0.0, list_transform(range(1, len(x.ve) + 1),
        |             i -> x.ve[i] * y.ve[i])), (p, q) -> p + q) /
        |         (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(x.ve) + 1),
        |             i -> x.ve[i] * x.ve[i])), (p, q) -> p + q)) *
        |          sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(y.ve) + 1),
        |             i -> y.ve[i] * y.ve[i])), (p, q) -> p + q))) AS cosine
        |  FROM v x JOIN v y ON x.vec_id < y.vec_id)
        |SELECT a, b, ROUND(cosine, 6) AS cosine FROM p
        |WHERE cosine >= 0.45 ORDER BY a, b""".stripMargin,
    "q105_lm_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), ref AS (
        |  SELECT w FROM tok WHERE lang = 'en' AND doc_id % 10 < 8
        |), v AS (
        |  SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM ref)
        |), refg AS (
        |  SELECT w, unnest(generate_series(1, len(w) - 1)) AS g FROM ref WHERE len(w) >= 2
        |), c2 AS (
        |  SELECT w[g] AS prev, w[g+1] AS cur, COUNT(*) AS c2 FROM refg GROUP BY 1, 2
        |), c1 AS (
        |  SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY 1
        |), docg AS (
        |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS g
        |  FROM tok WHERE len(w) >= 2
        |), docbg AS (
        |  SELECT doc_id, w[g] AS prev, w[g+1] AS cur FROM docg
        |), scored AS (
        |  SELECT d.doc_id,
        |         CAST(ROUND(ln(CAST(2 * COALESCE(c2.c2, 0) + 1 AS DOUBLE)
        |                       / (2 * COALESCE(c1.c1, 0) + v.v + 1)), 6)
        |              AS DECIMAL(20,6)) AS lp
        |  FROM docbg d
        |  LEFT JOIN c2 ON d.prev = c2.prev AND d.cur = c2.cur
        |  LEFT JOIN c1 ON d.prev = c1.prev
        |  CROSS JOIN v
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n,
        |         CAST(-SUM(lp) * 1000000 AS BIGINT) AS a
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT doc_id, n AS n_bigrams,
        |       ((2 * a + n) // (2 * n)) / 1000000.0 AS cross_entropy,
        |       ROUND(EXP(((2 * a + n) // (2 * n)) / 1000000.0), 4) AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q106_nb_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), tr AS (
        |  SELECT doc_id, lang = 'en' AS y, unnest(w) AS t FROM tok WHERE doc_id % 10 < 8
        |), cnt AS (
        |  SELECT t, COUNT(*) FILTER (WHERE y) AS cp, COUNT(*) FILTER (WHERE NOT y) AS cn
        |  FROM tr GROUP BY t
        |), c AS (
        |  SELECT COUNT(*) FILTER (WHERE y) AS np, COUNT(*) FILTER (WHERE NOT y) AS nn,
        |         COUNT(DISTINCT t) AS v
        |  FROM tr
        |), d AS (
        |  SELECT COUNT(*) FILTER (WHERE lang = 'en') AS dp,
        |         COUNT(*) FILTER (WHERE lang <> 'en') AS dn
        |  FROM documents WHERE doc_id % 10 < 8
        |), wts AS (
        |  SELECT t, CAST(ROUND(ln(CAST(2 * cp + 1 AS DOUBLE) / (2 * c.np + c.v + 1))
        |                 - ln(CAST(2 * cn + 1 AS DOUBLE) / (2 * c.nn + c.v + 1)), 6)
        |            AS DECIMAL(20,6)) AS w
        |  FROM cnt CROSS JOIN c
        |), k AS (
        |  SELECT CAST(ROUND(ln(CAST(1 AS DOUBLE) / (2 * np + v + 1))
        |               - ln(CAST(1 AS DOUBLE) / (2 * nn + v + 1)), 6) AS DECIMAL(20,6)) AS w_oov,
        |         CAST(ROUND(ln(CAST(dp AS DOUBLE) / dn), 6) AS DECIMAL(20,6)) AS prior
        |  FROM c CROSS JOIN d
        |), scored AS (
        |  SELECT doc_id, COALESCE(wts.w, k.w_oov) AS w FROM (
        |    SELECT doc_id, unnest(w) AS t FROM tok) dt
        |  LEFT JOIN wts USING (t) CROSS JOIN k
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, SUM(w) AS sw FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |       ROUND(CAST(sw + k.prior AS DOUBLE), 6) AS score,
        |       CAST(sw + k.prior > 0 AS INT) AS pred
        |FROM agg CROSS JOIN k ORDER BY doc_id""".stripMargin,
    "q107_dsir_resample" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), feat AS (
        |  SELECT doc_id, lang, unnest(w) AS f FROM tok
        |  UNION ALL
        |  SELECT doc_id, lang, array_to_string(w[g:g+1], ' ') AS f FROM (
        |    SELECT doc_id, lang, w, unnest(generate_series(1, len(w) - 1)) AS g
        |    FROM tok WHERE len(w) >= 2)
        |), fb AS (
        |  SELECT doc_id, lang, substr(md5(f), 1, 3) AS b FROM feat
        |), ct AS (
        |  SELECT b, COUNT(*) AS ct FROM fb WHERE lang = 'en' AND doc_id % 10 < 8 GROUP BY b
        |), nt AS (
        |  SELECT COUNT(*) AS nt FROM fb WHERE lang = 'en' AND doc_id % 10 < 8
        |), cr AS (
        |  SELECT b, COUNT(*) AS cr FROM fb GROUP BY b
        |), nr AS (
        |  SELECT COUNT(*) AS nr FROM fb
        |), scored AS (
        |  SELECT fb.doc_id,
        |         CAST(ROUND(ln(CAST(2 * COALESCE(ct.ct, 0) + 1 AS DOUBLE) / (2 * nt.nt + 4096))
        |               - ln(CAST(2 * COALESCE(cr.cr, 0) + 1 AS DOUBLE) / (2 * nr.nr + 4096)), 6)
        |              AS DECIMAL(20,6)) AS lw
        |  FROM fb LEFT JOIN ct USING (b) LEFT JOIN cr USING (b) CROSS JOIN nt CROSS JOIN nr
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_features, SUM(lw) AS slw FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_features,
        |       ROUND(CAST(slw AS DOUBLE), 6) AS logw,
        |       ROUND(CAST(slw AS DOUBLE)
        |             - ln(-ln(((((doc_id % 1000000007) * 2654435761) % 1000000007) % 1000000 + 0.5)
        |                      / 1000000)), 6) AS sel_key
        |FROM agg ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin,
    "q114_heavy_hitters_grouped" ->
      """WITH w AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS item FROM documents
        |), c AS (
        |  SELECT source, item, COUNT(*) AS n_occurrences FROM w GROUP BY 1, 2
        |), r AS (
        |  SELECT source, item, n_occurrences,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source
        |                                 ORDER BY n_occurrences DESC, item) AS INT) AS rank
        |  FROM c
        |)
        |SELECT source, item, n_occurrences, rank FROM r
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "q113_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS item FROM documents
        |)
        |SELECT item, COUNT(*) AS n_occurrences FROM w
        |GROUP BY item ORDER BY n_occurrences DESC, item LIMIT 15""".stripMargin,
    "q117_top_users" ->
      """SELECT user_id AS item, COUNT(*) AS n_occurrences FROM events
        |GROUP BY user_id ORDER BY n_occurrences DESC, item LIMIT 20""".stripMargin,
    "q111_cdc_chunks" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(generate_series(2, length(text) - 7)) AS p
        |  FROM documents WHERE length(text) >= 9
        |), cuts AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(0, 7),
        |                       i -> CAST(ascii(substr(text, CAST(p + i AS INT), 1)) AS BIGINT))),
        |        (a, b) -> (a * 257 + b) % 1000000007) AS h
        |    FROM pos)
        |  WHERE h % 64 = 0
        |), starts AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS s FROM documents WHERE length(text) >= 1
        |  UNION ALL SELECT doc_id, p FROM cuts
        |), chunks AS (
        |  SELECT doc_id, s,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT) AS chunk_idx,
        |         LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
        |  FROM starts
        |)
        |SELECT c.doc_id, chunk_idx, CAST(c.s AS INT) AS chunk_start,
        |       CAST(COALESCE(c.nxt, length(d.text) + 1) - c.s AS INT) AS chunk_len,
        |       md5(substr(d.text, CAST(c.s AS INT), CAST(COALESCE(c.nxt, length(d.text) + 1) - c.s AS INT))) AS chunk_md5
        |FROM chunks c JOIN documents d USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q109_url_dedup" ->
      """WITH crawl AS (
        |  SELECT doc_id,
        |    'HTTPS://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
        |    source || '.Example.com/p/' || CAST(doc_id % 50 AS VARCHAR) ||
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
        |         WHEN doc_id % 5 = 1 THEN '?ref=' || CAST(doc_id % 7 AS VARCHAR)
        |         WHEN doc_id % 5 = 2 THEN '?ref=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x&utm_x=1'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents
        |), nf AS (
        |  SELECT doc_id, split_part(url, '#', 1) AS nofrag FROM crawl
        |), hostpq AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      lower(regexp_extract(nofrag, '(^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      '^([a-z][a-z0-9+.-]*://)www\.', '\1') AS host,
        |    regexp_replace(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS pq
        |  FROM nf
        |), parts AS (
        |  SELECT doc_id, host,
        |    regexp_replace(split_part(pq, '?', 1), '/+$', '') AS path,
        |    CASE WHEN contains(pq, '?')
        |         THEN substr(pq, length(split_part(pq, '?', 1)) + 2) ELSE '' END AS q
        |  FROM hostpq
        |), kept AS (
        |  SELECT doc_id, host, path,
        |    list_filter(string_split(q, '&'), p -> substr(p, 1, 4) <> 'utm_' AND p <> '') AS ps
        |  FROM parts
        |)
        |SELECT host || path ||
        |       CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon_url,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM kept GROUP BY 1 ORDER BY canon_url""".stripMargin,
    "q108_dup_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, n, array_to_string(w[i:i+n-1], ' ') AS g
        |  FROM (
        |    SELECT doc_id, n, w, unnest(generate_series(1, len(w) - n + 1)) AS i
        |    FROM toks CROSS JOIN (VALUES (2), (3), (4)) ns(n)
        |    WHERE len(w) >= n)
        |), cnt AS (
        |  SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
        |), pern AS (
        |  SELECT doc_id, n, SUM(c) AS total,
        |         COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup
        |  FROM cnt GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  ROUND(MAX(CASE WHEN n = 2 THEN CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) END), 6) AS dup_frac_2,
        |  ROUND(MAX(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) END), 6) AS dup_frac_3,
        |  ROUND(MAX(CASE WHEN n = 4 THEN CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) END), 6) AS dup_frac_4
        |FROM pern GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q103_leakage_safe_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), cpairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), jpairs AS (
        |  SELECT a, b FROM (
        |    SELECT a, b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
        |    FROM cpairs JOIN sizes sa ON cpairs.a = sa.doc_id
        |                JOIN sizes sb ON cpairs.b = sb.doc_id)
        |  WHERE jaccard >= 0.6
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM jpairs UNION ALL SELECT b, a FROM jpairs
        |), cc(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst WHERE cc.comp < e.src
        |), clusters AS (
        |  SELECT d.doc_id, CAST(COALESCE(m.comp, d.doc_id) AS BIGINT) AS cluster_id
        |  FROM documents d
        |  LEFT JOIN (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id) m ON d.doc_id = m.id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN (((cluster_id % 1000000007) * 2654435761) % 1000000007) % 100 < 80 THEN 'train'
        |       WHEN (((cluster_id % 1000000007) * 2654435761) % 1000000007) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM clusters ORDER BY doc_id""".stripMargin,
    "q35_dedup_cluster" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), cpairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), jpairs AS (
        |  SELECT a, b FROM (
        |    SELECT a, b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
        |    FROM cpairs JOIN sizes sa ON cpairs.a = sa.doc_id
        |                JOIN sizes sb ON cpairs.b = sb.doc_id)
        |  WHERE jaccard >= 0.6
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM jpairs UNION ALL SELECT b, a FROM jpairs
        |), cc(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst WHERE cc.comp < e.src
        |)
        |SELECT d.doc_id, CAST(COALESCE(m.comp, d.doc_id) AS BIGINT) AS cluster_id
        |FROM documents d
        |LEFT JOIN (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id) m ON d.doc_id = m.id
        |ORDER BY doc_id""".stripMargin,
    "q66_dedup_corpus" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), cpairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), jpairs AS (
        |  SELECT a, b FROM (
        |    SELECT a, b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
        |    FROM cpairs JOIN sizes sa ON cpairs.a = sa.doc_id
        |                JOIN sizes sb ON cpairs.b = sb.doc_id)
        |  WHERE jaccard >= 0.6
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM jpairs UNION ALL SELECT b, a FROM jpairs
        |), cc(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst WHERE cc.comp < e.src
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d
        |LEFT JOIN (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id) m ON d.doc_id = m.id
        |WHERE COALESCE(m.comp, d.doc_id) = d.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q133_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), cpairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
        |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), jpairs AS (
        |  SELECT a, b FROM (
        |    SELECT a, b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
        |    FROM cpairs JOIN sizes sa ON cpairs.a = sa.doc_id
        |                JOIN sizes sb ON cpairs.b = sb.doc_id)
        |  WHERE jaccard >= 0.6
        |), edges AS (
        |  SELECT a AS src, b AS dst FROM jpairs UNION ALL SELECT b, a FROM jpairs
        |), cc(id, comp) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.id = e.dst WHERE cc.comp < e.src
        |), members AS (
        |  SELECT id, MIN(comp) AS comp FROM cc GROUP BY id
        |), scored AS (
        |  SELECT m.id, m.comp, len(t.w) AS sc FROM members m JOIN toks t ON t.doc_id = m.id
        |), win AS (
        |  SELECT id FROM (
        |    SELECT id, ROW_NUMBER() OVER (PARTITION BY comp
        |                                  ORDER BY sc DESC, id ASC) AS rn
        |    FROM scored) WHERE rn = 1
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d LEFT JOIN members m ON d.doc_id = m.id
        |WHERE m.id IS NULL OR d.doc_id IN (SELECT id FROM win)
        |ORDER BY doc_id""".stripMargin,
    "q67_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents
        |), tok AS (SELECT * FROM toks WHERE term <> ''),
        |tf AS (SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT lang, tf.term, ROUND(tf * ln(n.n / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |SELECT lang, term, tfidf, rank FROM (
        |  SELECT lang, term, tfidf,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |                            ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q68_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT s1.u, MIN(e.ts) AS t2 FROM s1 JOIN events e
        |    ON e.user_id = s1.u AND e.event_type = 'click'
        |   AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 3600 SECOND
        |  GROUP BY 1
        |), s3 AS (
        |  SELECT s2.u, MIN(e.ts) AS t3 FROM s2 JOIN events e
        |    ON e.user_id = s2.u AND e.event_type = 'purchase'
        |   AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 3600 SECOND
        |  GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 'view' AS step, 1 AS step_idx, COUNT(*) AS users FROM s1
        |  UNION ALL SELECT 'click', 2, COUNT(*) FROM s2
        |  UNION ALL SELECT 'purchase', 3, COUNT(*) FROM s3)
        |ORDER BY step_idx""".stripMargin,
    "q69_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id AS u,
        |         (ts::DATE - DATE '2024-01-01') // 7 AS w
        |  FROM events
        |), coh AS (SELECT u, MIN(w) AS cohort_week FROM uw GROUP BY 1)
        |SELECT cohort_week, w - cohort_week AS week_offset, COUNT(*) AS users
        |FROM uw JOIN coh USING (u)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q75_pack_shards" ->
      """SELECT doc_id, n_chars, cum_chars,
        |       CAST((cum_chars - 1) // 100000 AS BIGINT) AS shard_id
        |FROM (
        |  SELECT doc_id, n_chars,
        |         CAST(SUM(n_chars) OVER (ORDER BY doc_id
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q52_knn_join" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id < 5),
        |p AS (
        |  SELECT q.query_id, v.vec_id,
        |         list_reduce(list_prepend(0.0, list_transform(range(1, len(ve) + 1),
        |             i -> ve[i] * qv[i])), (acc, s) -> acc + s) /
        |         (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(ve) + 1),
        |             i -> ve[i] * ve[i])), (acc, s) -> acc + s)) *
        |          sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1),
        |             i -> qv[i] * qv[i])), (acc, s) -> acc + s))) AS cosine
        |  FROM v, q WHERE v.vec_id <> q.query_id)
        |SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, rank FROM (
        |  SELECT query_id, vec_id, cosine,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q44_rolling_fp" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) >= 16 THEN
        |    list_min(list_transform(range(1, length(text) - 16 + 2),
        |      i -> list_reduce(
        |             list_transform(range(0, 16),
        |                            j -> CAST(ord(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)),
        |             (a, b) -> (a * 31 + b) % 1000000007)))
        |  ELSE NULL END AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q118_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) >= 8
        |), g AS (
        |  SELECT doc_id, p, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(0, 7),
        |                     i -> CAST(ascii(substr(text, CAST(p + i AS INT), 1)) AS BIGINT))),
        |      (a, b) -> (a * 257 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len - 7)) AS p FROM d)
        |), gg AS (
        |  SELECT doc_id, count(*) AS ng, LEAST(4, count(*)) AS we FROM g GROUP BY doc_id
        |), win AS (
        |  SELECT g1.doc_id, g1.p AS i, gg.we, min(g2.h) AS mn
        |  FROM g g1
        |  JOIN gg ON gg.doc_id = g1.doc_id
        |  JOIN g g2 ON g2.doc_id = g1.doc_id AND g2.p >= g1.p AND g2.p < g1.p + gg.we
        |  WHERE g1.p <= gg.ng - gg.we + 1
        |  GROUP BY 1, 2, 3
        |), sel AS (
        |  SELECT w.doc_id, max(g.p) AS pos, w.mn AS fp
        |  FROM win w
        |  JOIN g ON g.doc_id = w.doc_id AND g.p >= w.i AND g.p < w.i + w.we AND g.h = w.mn
        |  GROUP BY w.doc_id, w.i, w.mn
        |)
        |SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, fp FROM sel
        |ORDER BY doc_id, pos""".stripMargin,
    "q45_ngram_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |           list_transform(range(1, len(w) - 1),
        |                          i -> array_to_string(w[i:i+2], ' ')))) AS shingle
        |  FROM toks WHERE len(w) >= 3
        |)
        |SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle
        |ORDER BY n_docs DESC, shingle ASC LIMIT 20""".stripMargin,
    "q40_token_count" ->
      """SELECT doc_id,
        |       len(string_split_regex(trim(text), '\s+')) AS n_tokens_ws,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q41_text_quality" ->
      """SELECT doc_id, length(text) AS len_chars,
        |       ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
        |             / length(text), 6) AS punct_ratio,
        |       ROUND(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |                    t -> list_contains(['the','a','an','and','of','is','in','to'], t))) AS DOUBLE)
        |             / len(string_split_regex(trim(text), '\s+')), 6) AS stopword_ratio,
        |       ROUND(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |             / len(string_split_regex(trim(text), '\s+')), 6) AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q42_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    len(list_filter(w, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
        |    len(list_filter(w, t -> list_contains(['the','a','is','and','of'], t))) AS s_en,
        |    len(list_filter(w, t -> list_contains(['el','la','los','las','y'], t))) AS s_es,
        |    len(list_filter(w, t -> list_contains(['le','les','et','est','une'], t))) AS s_fr,
        |    len(list_filter(w, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
        |  FROM s)
        |SELECT doc_id,
        |       CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |            WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |            WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |            ELSE 'zh' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q43_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |                               '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q156_ann_ivf_grid" -> q156Oracle,
    "q161_semdedup_grid" -> q161Oracle,
    "q162_minhash_md5_grid" -> q162Oracle,
    "q157_ann_pq_grid" -> q157Oracle,
    "q158_ann_lsh_grid" -> q158Oracle,
    "q159_ann_ivfpq_grid" -> q159Oracle,
    "q160_ann_opq_perm_grid" -> q160Oracle,
    "q50_ann_brute" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS ve
        |           FROM embeddings),
        |q AS (SELECT ve AS qv FROM v WHERE vec_id = 0)
        |SELECT vec_id, ROUND(
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ve) + 1),
        |        i -> ve[i] * qv[i])), (p, s) -> p + s) /
        |    (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(ve) + 1),
        |        i -> ve[i] * ve[i])), (p, s) -> p + s)) *
        |     sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1),
        |        i -> qv[i] * qv[i])), (p, s) -> p + s))), 6) AS cosine
        |FROM v, q WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q70_binary_features" ->
      """SELECT doc_id,
        |       octet_length(encode(text)) AS n_bytes,
        |       lower(substr(hex(encode(text)), 1, 8)) AS header_hex,
        |       md5(text) AS content_md5,
        |       ROUND(CAST(list_reduce(list_prepend(0, list_transform(
        |             range(1, length(text) + 1), i -> ord(substr(text, i, 1)))),
        |           (a, b) -> a + b) AS DOUBLE) / length(text), 6) AS mean_byte
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q71_frame_sample" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |       CAST(length(substring(text, CAST(f * 64 + 1 AS BIGINT), 32)) AS BIGINT) AS frame_bytes,
        |       md5(substring(text, CAST(f * 64 + 1 AS BIGINT), 32)) AS frame_md5
        |FROM documents,
        |     unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q73_frame_overlap" ->
      """WITH f AS (
        |  SELECT DISTINCT doc_id,
        |         md5(substring(text, CAST(fi * 64 + 1 AS BIGINT), 32)) AS m
        |  FROM documents,
        |       unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS t(fi))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(COUNT(*) AS BIGINT) AS shared_frames
        |FROM f a JOIN f b ON a.m = b.m AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY 1, 2""".stripMargin,
    "q72_resize" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) >= 16 THEN
        |    array_to_string(list_transform(range(0, 16),
        |      i -> printf('%02x', ord(substr(text, CAST(i * length(text) // 16 AS INT) + 1, 1)))), '')
        |  ELSE NULL END AS sig_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q76_quality_filter" ->
      """WITH w AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS words FROM documents
        |), f AS (
        |  SELECT doc_id, len(words) AS n_words,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(words) AS mwl,
        |    CAST(len(list_filter(words, t -> list_contains(['the','a','an','and','of','is','in','to'], t))) AS DOUBLE)
        |      / len(words) AS stopr,
        |    CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distr
        |  FROM w)
        |SELECT doc_id, n_words,
        |  ROUND(mwl, 6) AS mean_word_len,
        |  ROUND(stopr, 6) AS stopword_ratio,
        |  ROUND(distr, 6) AS distinct_ratio,
        |  CAST(n_words BETWEEN 20 AND 80 AS INT) AS flag_len,
        |  CAST(mwl >= 4.2 AND mwl <= 4.8 AS INT) AS flag_word_len,
        |  CAST(stopr >= 0.02 AS INT) AS flag_stopword,
        |  CAST(distr >= 0.35 AS INT) AS flag_repetition,
        |  CAST(n_words BETWEEN 20 AND 80 AND mwl >= 4.2 AND mwl <= 4.8
        |       AND stopr >= 0.02 AND distr >= 0.35 AS INT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q77_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
        |), c AS (
        |  SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
        |  ROUND(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_frac,
        |  ROUND(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_word_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q78_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
        |), i AS (
        |  SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS g
        |  FROM w WHERE len(words) >= 3
        |), gr AS (
        |  SELECT doc_id, array_to_string(words[g:g+2], ' ') AS ng FROM i
        |), bench AS (
        |  SELECT DISTINCT ng FROM gr WHERE doc_id % 97 = 0
        |), dg AS (
        |  SELECT DISTINCT doc_id, ng FROM gr WHERE doc_id % 97 <> 0)
        |SELECT dg.doc_id, count(*) AS n_ngrams, count(b.ng) AS n_contaminated,
        |  ROUND(CAST(count(b.ng) AS DOUBLE) / count(*), 6) AS contam_frac
        |FROM dg LEFT JOIN bench b ON dg.ng = b.ng
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_domain_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_s,
        |         CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3 + 1 AS w_s
        |  FROM documents GROUP BY source
        |), s AS (SELECT CAST(sum(w_s) AS BIGINT) AS sum_w FROM c),
        |tt AS (SELECT CAST(floor(count(*) / 2.0) AS BIGINT) AS target FROM documents)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN c USING (source), s, tt
        |WHERE target * w_s > 0 AND
        |      ((((d.doc_id % 1000000007) * 2654435761) % 1000000007) % 1000000)
        |      <= (1000000 * target * w_s - 1) // (n_s * sum_w)
        |ORDER BY d.doc_id""".stripMargin,
    "q80_chunking" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
        |), i AS (
        |  SELECT doc_id, words,
        |    unnest(generate_series(0,
        |      CAST(greatest(ceil((len(words) - 16) / 48.0), 1) AS BIGINT) - 1)) AS g
        |  FROM w)
        |SELECT doc_id, CAST(g AS INT) AS chunk_idx,
        |  array_to_string(words[(g*48+1):(g*48+64)], ' ') AS chunk_text,
        |  len(words[(g*48+1):(g*48+64)]) AS n_words
        |FROM i ORDER BY doc_id, chunk_idx""".stripMargin,
    "q81_outliers" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value
        |FROM events JOIN s USING (event_type)
        |WHERE abs(value - m) > 3 * sd
        |ORDER BY event_id""".stripMargin,
    "q82_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q83_relative_filter" ->
      """SELECT doc_id, source, n_chars, score_cd FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROUND(cume_dist() OVER (PARTITION BY source ORDER BY n_chars ASC), 6)
        |      AS score_cd
        |  FROM documents)
        |WHERE score_cd >= 0.75 ORDER BY doc_id""".stripMargin,
    "q84_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |                                    '\s+', ' ', 'g'))) AS f
        |  FROM documents)
        |SELECT b.doc_id, b.text, b.lang, b.source, b.n_chars
        |FROM (SELECT * FROM fp WHERE doc_id % 10 = 7) b
        |ANTI JOIN (SELECT DISTINCT f FROM fp WHERE doc_id % 10 <> 7) c
        |  ON b.f = c.f
        |ORDER BY b.doc_id""".stripMargin,
    "q115_bloom_dedup" ->
      """WITH fp AS (
        |  SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |                                    '\s+', ' ', 'g'))) AS f
        |  FROM documents)
        |SELECT b.doc_id, b.text, b.lang, b.source, b.n_chars
        |FROM (SELECT * FROM fp WHERE doc_id % 10 = 7) b
        |ANTI JOIN (SELECT DISTINCT f FROM fp WHERE doc_id % 10 <> 7) c
        |  ON b.f = c.f
        |ORDER BY b.doc_id""".stripMargin,
    "q85_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 <> 2 THEN
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||
        |      CAST(doc_id % 5 AS VARCHAR) || '.com or 555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |      CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
        |      CAST((doc_id * 13) % 256 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS INT) AS n_phones
        |FROM inj ORDER BY doc_id""".stripMargin,
    "q86_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
        |), i AS (
        |  SELECT doc_id, words,
        |    unnest(generate_series(0,
        |      CAST(greatest(ceil(len(words)/4.0), 1) AS BIGINT)-1)) AS g
        |  FROM w
        |), b AS (
        |  SELECT doc_id, g, array_to_string(words[(g*4+1):(g*4+4)], ' ') AS blk FROM i
        |), bo AS (
        |  SELECT blk FROM b GROUP BY blk HAVING count(DISTINCT doc_id) >= 5)
        |SELECT b.doc_id, count(*) AS n_blocks, count(bo.blk) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN bo.blk IS NULL THEN b.blk END,
        |                      ' ' ORDER BY g), '') AS clean_text
        |FROM b LEFT JOIN bo ON b.blk = bo.blk
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q87_interval_overlap" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(round(value * 600000000) AS BIGINT) AS e
        |  FROM events)
        |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |       least(v.e, c.e) - greatest(v.s, c.s) AS overlap_us
        |FROM (SELECT * FROM e WHERE event_type = 'view') v
        |JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND v.s <= c.e AND c.s <= v.e
        |ORDER BY view_id, click_id""".stripMargin,
    "q89_zorder" ->
      """SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day
        |FROM events
        |WHERE user_id BETWEEN 10 AND 20
        |  AND (epoch_us(ts) // 86400000000) BETWEEN 19730 AND 19739
        |ORDER BY event_id""".stripMargin,
    "q90_compact" ->
      "SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id",
    "q91_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS token,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
        |  FROM documents
        |), cnt AS (
        |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
        |), vocab AS (
        |  SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS id
        |  FROM (SELECT * FROM cnt ORDER BY cnt DESC, token ASC LIMIT 50)
        |), enc AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
        |  FROM tok t LEFT JOIN vocab v USING (token))
        |SELECT doc_id,
        |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS ids_str,
        |  count(*) AS n_tokens,
        |  count(*) FILTER (id = 0) AS n_oov
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q92_winsorize" ->
      """WITH s AS (
        |  SELECT event_type, quantile_cont(value, 0.01) AS lo,
        |         quantile_cont(value, 0.99) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type,
        |       ROUND(least(greatest(value, lo), hi), 6) AS value_w
        |FROM events JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q93_curate_corpus" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |red AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |      '555-[0-9]{4}', '<PHONE>', 'g') AS text
        |  FROM corpus),
        |w AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS words FROM red),
        |q AS (
        |  SELECT doc_id, text, words FROM (
        |    SELECT doc_id, text, words, len(words) AS n,
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)/len(words) AS mwl,
        |      CAST(len(list_filter(words, t -> list_contains(['the','a','an','and','of','is','in','to'], t))) AS DOUBLE)/len(words) AS stopr,
        |      CAST(len(list_distinct(words)) AS DOUBLE)/len(words) AS distr
        |    FROM w)
        |  WHERE n BETWEEN 20 AND 80 AND mwl >= 4.2 AND mwl <= 4.8
        |    AND stopr >= 0.02 AND distr >= 0.35),
        |d AS (
        |  SELECT doc_id, text, words FROM q
        |  WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text)),
        |gi AS (SELECT doc_id, words, unnest(generate_series(1, len(words)-2)) AS g
        |       FROM d WHERE len(words) >= 3),
        |gr AS (SELECT doc_id, array_to_string(words[g:g+2], ' ') AS ng FROM gi),
        |bw AS (SELECT string_split_regex(trim(text), '\s+') AS words FROM bench),
        |bgi AS (SELECT words, unnest(generate_series(1, len(words)-2)) AS g
        |        FROM bw WHERE len(words) >= 3),
        |bgr AS (SELECT DISTINCT array_to_string(words[g:g+2], ' ') AS ng FROM bgi),
        |contam AS (
        |  SELECT dg.doc_id, CAST(count(b.ng) AS DOUBLE)/count(*) AS cf
        |  FROM (SELECT DISTINCT doc_id, ng FROM gr) dg LEFT JOIN bgr b ON dg.ng = b.ng
        |  GROUP BY 1),
        |clean AS (
        |  SELECT d.doc_id, d.words FROM d LEFT JOIN contam USING (doc_id)
        |  WHERE coalesce(cf, 0) < 0.2),
        |ci AS (SELECT doc_id, words,
        |  unnest(generate_series(0,
        |    CAST(greatest(ceil((len(words)-16)/48.0), 1) AS BIGINT)-1)) AS g
        |  FROM clean)
        |SELECT doc_id, CAST(g AS INT) AS chunk_idx,
        |  array_to_string(words[(g*48+1):(g*48+64)], ' ') AS chunk_text,
        |  len(words[(g*48+1):(g*48+64)]) AS n_words
        |FROM ci ORDER BY doc_id, chunk_idx""".stripMargin,
    "q94_upsert" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version
        |FROM orders
        |WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 13 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "q95_minmax_scale" ->
      """WITH s AS (
        |  SELECT event_type, min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value,
        |  CASE WHEN mx > mn THEN (value - mn) / (mx - mn) ELSE 0.0 END AS value_scaled
        |FROM events JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q96_pack_sequences" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
        |), i AS (
        |  SELECT doc_id, words,
        |    unnest(generate_series(0,
        |      CAST(greatest(ceil((len(words) - 16) / 48.0), 1) AS BIGINT) - 1)) AS g
        |  FROM w
        |), ch AS (
        |  SELECT doc_id, CAST(g AS INT) AS chunk_idx,
        |    array_to_string(words[(g*48+1):(g*48+64)], ' ') AS chunk_text,
        |    len(words[(g*48+1):(g*48+64)]) AS n_words
        |  FROM i
        |), p AS (
        |  SELECT doc_id, chunk_idx, chunk_text, n_words,
        |    SUM(n_words) OVER (ORDER BY doc_id, chunk_idx
        |        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ch)
        |SELECT CAST((cum - 1) // 256 AS BIGINT) AS seq_id,
        |  count(*) AS n_chunks, CAST(sum(n_words) AS BIGINT) AS n_words,
        |  string_agg(chunk_text, ' <eos> ' ORDER BY doc_id, chunk_idx) AS seq_text
        |FROM p GROUP BY 1 ORDER BY seq_id""".stripMargin
  )
}
