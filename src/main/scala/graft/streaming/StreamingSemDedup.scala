package graft.streaming

import graft.operators.{Dedup, SemDedup, Similarity, VectorIndex}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming semantic dedup — [[graft.operators.SemDedup]]'s ingest twin:
  * a stream of embeddings grows a MATERIALIZED IVF corpus
  * ([[VectorIndex]] layout) while dropping semantic near-duplicates, both
  * within each micro-batch and against everything previously persisted.
  *
  * The scale story is the index layout itself: the persisted corpus lives
  * hive-partitioned as `bucket=<b>/batch_id=<m>`, so a batch probes ONLY
  * the bucket directories its vectors were assigned to (Catalyst
  * partition pruning — steady-state probe cost tracks the batch's cluster
  * footprint, ~batch × N/C vectors, never the corpus), and appends in
  * O(batch). Centroids ride in the [[VectorIndex]] `meta` sidecar and are
  * fixed at bootstrap — the standard streaming-IVF bargain (re-bootstrap
  * to re-balance drifted clusters), same as [[VectorIndex.appendIvf]].
  *
  * `foreachBatch` (not state-store state) for the same reason as
  * [[StreamingIngest]]: the dedup horizon is "everything ever persisted",
  * unbounded and restart-surviving — the index IS the state.
  *
  * ==Replay safety (exactly-once)==
  * foreachBatch is at-least-once; every write here is keyed by batchId
  * and convergent under replay:
  *  1. the fresh set is computed against the corpus EXCLUDING this
  *     batch's own `batch_id` partitions (a half-written prior attempt
  *     can neither shrink nor grow it; assignment, within-batch
  *     components and the cosine gate are all deterministic);
  *  1. any prior attempt's `batch_id=<id>` partition directories are
  *     deleted, then survivors land via dynamic partition overwrite into
  *     exactly those partitions — so a replay replaces rather than
  *     duplicates, and a batch whose survivors are empty still clears its
  *     stale half-writes.
  */
object StreamingSemDedup {

  /** Sidecar batch id for rows bootstrapped from a pre-existing corpus. */
  val BootstrapBatchId: Long = -1L

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** One-time index bootstrap: train centroids on the seed corpus (or pass
    * pre-trained ones), write it bucket+batch partitioned plus the
    * centroid sidecar. The seed corpus is NOT deduped — it is taken as the
    * canonical starting set. */
  def bootstrap(
      df: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int, path: String): Unit = {
    val centroids = Similarity.kMeans(df, idCol, vecCol, c, iters)
    Similarity.assignBuckets(df, idCol, vecCol, centroids)
      .withColumn("batch_id", lit(BootstrapBatchId))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket", "batch_id").parquet(s"$path/corpus")
    VectorIndex.writeCentroidMeta(df.sparkSession, centroids, path)
  }

  /** Process one micro-batch idempotently (see class doc). Package-private
    * so the replay spec can drive crash windows directly. */
  private[graft] def processBatch(
      batch: DataFrame, batchId: Long, path: String,
      idCol: String, vecCol: String, tau: Double): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centroids = VectorIndex.readIvfCentroids(spark, path)

    // within-batch dedup: min-id exemplar per within-cluster component
    // (the deterministic SemDedup policy)
    val pairs = SemDedup.pairs(batch, idCol, vecCol, centroids, tau)
    val losers = Dedup.connectedComponents(pairs, "a", "b")
      .where(col("id") =!= col("comp"))
      .select(col("id").as("_loser"))
    val assigned = Similarity.assignBuckets(batch, idCol, vecCol, centroids)
      .join(broadcast(losers), col(idCol).cast("long") === col("_loser"), "left_anti")

    // cross-batch dedup: probe ONLY the assigned buckets' directories,
    // excluding this batch's own (possibly half-written) partitions
    val buckets = assigned.select("bucket").distinct().as[Int].collect().toSeq
    val dupIds =
      if (buckets.isEmpty) spark.emptyDataFrame.select(lit(0L).as("_dup")).limit(0)
      else {
        val corpus = spark.read.parquet(s"$path/corpus")
          .where(col("batch_id") =!= lit(batchId) && col("bucket").isin(buckets: _*))
          .select(col("bucket"), col(vecCol).as("_cv"))
        assigned.join(corpus, Seq("bucket"))
          .where(Dedup.cosine(col(vecCol), col("_cv")) >= tau)
          .select(col(idCol).cast("long").as("_dup")).distinct()
      }
    val fresh = assigned
      .join(broadcast(dupIds), col(idCol).cast("long") === col("_dup"), "left_anti")

    // clear any prior attempt's partitions, then publish into exactly
    // bucket=*/batch_id=<id> via dynamic overwrite
    val (fs, corpusRoot) = fsOf(spark, s"$path/corpus")
    if (fs.exists(corpusRoot))
      fs.listStatus(corpusRoot).filter(_.isDirectory).foreach { b =>
        val stale = new Path(b.getPath, s"batch_id=$batchId")
        if (fs.exists(stale)) fs.delete(stale, true)
      }
    fresh.withColumn("batch_id", lit(batchId))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket", "batch_id").parquet(s"$path/corpus")
    ()
  }

  /** Start semantic-deduped ingestion of `stream` into the IVF corpus at
    * `path` (bootstrap first). Survivors keep (id, vec, bucket, batch_id). */
  def appendDeduped(
      stream: DataFrame, path: String,
      idCol: String, vecCol: String, tau: Double): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processBatch(batch, batchId, path, idCol, vecCol, tau)
    }.start()

  // ------------------------------------------------------------- drift

  /** Drift summary of the streamed rows' bucket distribution vs the
    * bootstrap's: `tvDistance` the total-variation distance between the
    * two occupancy distributions (0 = identical, 1 = disjoint),
    * `occupancySkew` the hottest bucket's streamed share relative to the
    * uniform 1/C share (1 = perfectly balanced, C = everything in one
    * bucket). An index with no streamed rows yet reports (0, 1). */
  final case class DriftReport(
      tvDistance: Double, occupancySkew: Double,
      bootstrapRows: Long, streamedRows: Long)

  /** Per-bucket occupancy of the persisted corpus: (bucket, n_bootstrap,
    * n_streamed, n_total), one row per centroid (buckets nothing ever
    * landed in included as zeros via the `meta` sidecar).
    *
    * Cost: `bucket` and `batch_id` are PARTITION columns, so the scan
    * prunes to zero data columns — per-file row counts from parquet
    * footers, never vector bytes. */
  def driftStats(spark: SparkSession, path: String): DataFrame = {
    val all = spark.read.parquet(s"$path/meta").select(col("bucket"))
    val counts = spark.read.parquet(s"$path/corpus")
      .select(col("bucket"), col("batch_id"))
      .groupBy("bucket").agg(
        count(when(col("batch_id") === BootstrapBatchId, 1)).as("n_bootstrap"),
        count(when(col("batch_id") =!= BootstrapBatchId, 1)).as("n_streamed"))
    all.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_bootstrap"), lit(0L)).as("n_bootstrap"),
        coalesce(col("n_streamed"), lit(0L)).as("n_streamed"),
        (coalesce(col("n_bootstrap"), lit(0L)) +
          coalesce(col("n_streamed"), lit(0L))).as("n_total"))
  }

  /** The fixed-at-bootstrap centroids mis-serve a drifted stream long
    * before recall visibly decays; this watches the cheap proxy — where
    * new vectors LAND. Collects one row per centroid (C-bounded, the
    * [[graft.operators.Dedup]] small-side argument). A bootstrap-empty
    * index compares the stream against the uniform distribution. */
  def driftReport(spark: SparkSession, path: String): DriftReport = {
    val rows = driftStats(spark, path)
      .select("n_bootstrap", "n_streamed").collect()
    val c = rows.length
    val nb = rows.map(_.getLong(0)).sum
    val ns = rows.map(_.getLong(1)).sum
    if (ns == 0L || c == 0) DriftReport(0.0, 1.0, nb, ns)
    else {
      val p0 = rows.map(r => if (nb == 0L) 1.0 / c else r.getLong(0).toDouble / nb)
      val p1 = rows.map(_.getLong(1).toDouble / ns)
      val tv = 0.5 * p0.zip(p1).map { case (a, b) => math.abs(a - b) }.sum
      DriftReport(tv, p1.max * c, nb, ns)
    }
  }

  /** Re-train centroids on the CURRENT corpus and rebuild the index iff
    * the streamed distribution has drifted (tvDistance > `maxTv`) — the
    * automatic trigger for the re-bootstrap half of the streaming-IVF
    * bargain. Returns whether a rebuild happened.
    *
    * Survivor set is unchanged (this re-BALANCES, it does not re-dedup);
    * every row returns as `batch_id = -1`, the new canonical set. The
    * rebuild stages into `corpus.rebootstrap`/`meta.rebootstrap` and
    * swaps via directory rename — never an in-place overwrite of files a
    * lazy plan is still reading. Run it from the maintenance path with
    * the ingest query STOPPED (the swap is not concurrent-writer-safe);
    * a leftover `*.rebootstrap` dir after a crash is safe to delete. */
  def rebootstrapIfDrifted(
      spark: SparkSession, path: String,
      idCol: String, vecCol: String,
      c: Int, iters: Int, maxTv: Double = 0.25): Boolean = {
    val report = driftReport(spark, path)
    if (report.tvDistance <= maxTv) false
    else {
      val current = spark.read.parquet(s"$path/corpus").select(col(idCol), col(vecCol))
      bootstrap(current, idCol, vecCol, c, iters, s"$path/.rebootstrap")
      val (fs, root) = fsOf(spark, path)
      Seq("corpus", "meta").foreach { d =>
        val live = new Path(root, d)
        if (fs.exists(live)) fs.delete(live, true)
        fs.rename(new Path(root, s".rebootstrap/$d"), live)
      }
      fs.delete(new Path(root, ".rebootstrap"), true)
      true
    }
  }
}
