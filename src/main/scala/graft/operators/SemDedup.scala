package graft.operators

import graft.functions.ArrayMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication: cluster the embedding space, then near-dup ONLY
  * within clusters (SemDeDup — Abbas et al. 2023, arXiv:2303.09540: k-means
  * the embeddings, compare pairs inside each cluster, keep one exemplar per
  * semantic-duplicate group).
  *
  * This is the missing middle between [[Dedup.embeddingCosinePairs]] (exact
  * but all-pairs quadratic) and [[Dedup.embeddingCosinePairsLsh]] (random
  * sign-LSH cells): the blocking structure is LEARNED from the data, so for
  * corpora with genuine cluster structure (the common case for web-scale
  * embeddings) almost every true near-dup pair lands in one cell and the
  * quadratic term drops from N² to C·(N/C)².
  *
  * Scale shape: centroid training is [[Similarity.kMeans]] (one
  * map-side-combining groupBy per round, C×dim driver state); assignment is
  * a shuffle-free codegen argmax over a reference-held
  * [[graft.functions.CentroidTable]] (the [[Similarity.assignBuckets]]
  * kernel, appended as a `bucket` column that keeps every input column);
  * candidate generation is a self-equi-join ON THE CLUSTER ID — one shuffle of
  * (id, vec, bucket) rows, never all-pairs. Verification is one codegen'd
  * cosine per within-cluster pair, so precision is exact; recall misses only
  * pairs split across cluster boundaries (measured in the spec, and the
  * trade the paper accepts by design).
  *
  * Reference scope note: the reference engine (wrds2pg) has no embedding
  * operators; this extends the training-data-pipeline surface (SURVEY §2).
  */
object SemDedup {

  /** Within-cluster cosine near-dup pairs (cosine >= tau), given a trained
    * centroid list. Returns (a, b, bucket, cosine) with a < b. */
  def pairs(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], tau: Double): DataFrame = {
    val assigned = graft.core.Par.fanOut(df.select(col(idCol), col(vecCol)))
      .withColumn("bucket", ArrayMath.nearestCentroid(col(vecCol), centroids))
      .withColumn("_n", ArrayMath.norm2(col(vecCol)))
    val x = assigned.select(
      col(idCol).as("a"), col(vecCol).as("_va"), col("_n").as("_na"), col("bucket"))
    val y = assigned.select(
      col(idCol).as("b"), col(vecCol).as("_vb"), col("_n").as("_nb"), col("bucket"))
    x.join(y, Seq("bucket"))
      .where(col("a") < col("b"))
      .withColumn("cosine", ArrayMath.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .where(col("cosine") >= tau)
      .select(col("a"), col("b"), col("bucket"), round(col("cosine"), 6).as("cosine"))
  }

  /** The full SemDeDup verb: train C centroids, find within-cluster
    * near-dup groups, keep the minimum-id exemplar of each group (and every
    * unpaired row). Returns the survivors with ALL original columns plus
    * their cluster id.
    *
    * Losers are edge-bounded (only rows that matched some pair can lose), so
    * the anti-join broadcasts and the corpus never shuffles — the same
    * topology as [[Dedup.dedupCorpus]]. */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int, tau: Double): DataFrame =
    semDedupWith(df, idCol, vecCol,
      Similarity.kMeans(graft.core.Par.fanOut(df), idCol, vecCol, c, iters), tau)

  /** [[semDedup]] with the centroids INJECTED instead of k-means-trained —
    * the entire assign → within-cluster pair → connected-components →
    * exemplar-keep machinery under caller-planted centroids, exposed so a
    * caller (q161's full-oracle gate) can make every stage replicable
    * arithmetic (the q156-q160 recipe applied to the SemDedup family; the
    * trained verb stays rows-only by nature — k-means is
    * initialization-dependent). */
  def semDedupWith(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], tau: Double): DataFrame = {
    val p = pairs(df, idCol, vecCol, centroids, tau)
    val losers = Dedup.connectedComponents(p, "a", "b")
      .where(col("id") =!= col("comp"))
      .select(col("id").as("_loser"))
    df.withColumn("bucket", ArrayMath.nearestCentroid(col(vecCol), centroids))
      .join(broadcast(losers), col(idCol).cast("long") === col("_loser"), "left_anti")
  }
}
