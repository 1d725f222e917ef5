package graft

import graft.pipeline.Update
import graft.sinks.{CsvSink, JdbcSink, ParquetSink, PgDdl}
import graft.sources.{Catalog, SasCsvReader, SasOptions, SasTypes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The user-facing facade: one call per reference API surface, so a
  * reference user can switch 1:1 (names follow the reference's verbs; see
  * SURVEY §1 for the mapping).
  *
  * | reference (wrds2pg)   | graft                                  |
  * | --------------------- | -------------------------------------- |
  * | `wrds_update_pq`      | [[updateParquet]]                      |
  * | `wrds_update_csv`     | [[updateCsv]]                          |
  * | `wrds_update` (PG)    | [[updatePg]] (COPY, stamp-skip) / [[updateJdbc]] (distributed) |
  * | `sas_to_pandas`       | [[readSasCsv]] (DataFrame, lowercased) |
  * | dataset options       | [[extract]] (drop/keep/rename/where/obs/colTypes) |
  * | `get_wrds_tables`     | [[listTables]]                         |
  * | `run_file_sql`        | [[splitSqlFile]]                       |
  */
object Graft {

  /** Dataset-option extraction over any table (the reference's SAS dataset
    * option block, wrds2pg/sas/codegen.py:45-160): drop/keep (prefix
    * wildcards), rename, where (SAS expression grammar), obs, plus
    * `col_types` PG-type overrides. All of it compiles to projections and
    * pushed-down predicates over the scan. */
  def extract(
      df: DataFrame,
      drop: Option[String] = None,
      keep: Option[String] = None,
      rename: Option[String] = None,
      where: Option[String] = None,
      obs: Option[Long] = None,
      colTypes: Map[String, String] = Map.empty): DataFrame = {
    val optioned = SasOptions.apply(df, drop, keep, rename, where, obs)
    if (colTypes.isEmpty) optioned
    else {
      val cast = optioned.columns.map { c =>
        colTypes.get(c.toLowerCase)
          .map(pg => col(c).cast(SasTypes.sparkType(pg)).as(c))
          .getOrElse(col(c))
      }
      optioned.select(cast.toIndexedSeq: _*)
    }
  }

  /** Typed CSV read with SAS missing-value and CR cleanup; columns come back
    * lowercased (`sas_to_pandas` semantics, wrds2pg/api.py:586-616).
    * `encoding` is the reference's `encoding`/`sas_encoding` (api.py:48-49) —
    * pass "ISO-8859-1" for the common latin1 WRDS exports. */
  def readSasCsv(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      fixMissing: Boolean = false,
      fixCr: Boolean = false,
      encoding: String = "UTF-8"): DataFrame =
    SasCsvReader.read(spark, path, schema, fixMissing, fixCr, encoding = encoding)

  /** Incremental parquet artifact refresh (`wrds_update_pq`). */
  def updateParquet(
      spark: SparkSession, source: => DataFrame, path: String,
      modified: String, force: Boolean = false): Update.Outcome =
    Update.updateParquet(spark, source, path, modified, force)

  /** Incremental gzipped-CSV artifact refresh (`wrds_update_csv`). */
  def updateCsv(
      spark: SparkSession, source: => DataFrame, path: String,
      modified: String, force: Boolean = false): Update.Outcome =
    Update.updateCsv(spark, source, path, modified, force)

  /** PostgreSQL load (`wrds_update`) over JDBC: stamp-skip → DDL +
    * roles → distributed `df.write.jdbc` load → grants → comment restamp,
    * mirroring [[updatePg]] without needing a psql binary. Integration-tested
    * end-to-end (create/load/stamp/skip/force) against embedded Derby via a
    * pluggable dialect; production default speaks PostgreSQL. */
  def updateJdbc(
      source: => DataFrame, target: JdbcSink.PgTarget, modified: String,
      force: Boolean = false): Update.Outcome =
    graft.pipeline.UpdateJdbc.update(source, target, modified, force)

  /** Full `wrds_update` to PostgreSQL via COPY FROM STDIN (the reference's
    * own mechanism): comment-stamp skip, DDL, staged gz-CSV COPY, grants,
    * restamp. Integration-tested against a live throwaway cluster. */
  def updatePg(
      source: => DataFrame, target: JdbcSink.PgTarget, modified: String,
      psqlBase: Seq[String], stagingDir: String, force: Boolean = false,
      createRoles: Boolean = true, tz: String = "UTC"): Update.Outcome =
    graft.pipeline.UpdatePg.updateCopy(
      source, target, modified, psqlBase, stagingDir, force, createRoles, tz)

  /** Enumerate a library's tables (`get_wrds_tables`). */
  def listTables(spark: SparkSession, dir: String): DataFrame =
    Catalog.listTables(spark, dir)

  /** Native `.sas7bdat` read — one file or a library directory, no SAS
    * export step ([[sources.Sas7bdat]]; the reference instead drives a
    * remote SAS process to export, api.py:219-234). Composes with
    * [[extract]] for the keep/drop/rename/where option semantics.
    * Equivalent DataSource V2 face: `spark.read.format("sas7bdat")`
    * ([[sources.Sas7bdatSourceV2]]) — same decoder, plus column pruning
    * pushed into the fixed-width byte reader. */
  def readSas7bdat(spark: SparkSession, path: String): DataFrame =
    sources.Sas7bdat.read(spark, path)

  /** Native WARC crawl-archive read ([[sources.Warc]], ISO 28500) — the
    * crawl-side ingest boundary: one task per segment file, plain and
    * per-record-gzip layouts, HTTP head/body split. */
  def readWarc(spark: SparkSession, path: String,
      maxRecordBytes: Int = 64 << 20): DataFrame =
    sources.Warc.read(spark, path, maxRecordBytes)

  /** Crawl → corpus in one verb: 200/text-html WARC responses become
    * (record_id, target_uri, warc_date, text) clean-text documents
    * ([[sources.Warc.htmlDocs]] → [[operators.Curation.stripHtml]]).
    * Feed the result to [[curateCorpus]] / [[dedupCorpus]]. The
    * streaming twin is [[streaming.StreamingWarcIngest]]. */
  def ingestCrawlHtml(spark: SparkSession, path: String,
      maxRecordBytes: Int = 64 << 20): DataFrame =
    operators.Curation.stripHtml(
      sources.Warc.htmlDocs(spark, path, maxRecordBytes), "html", "text")
      .select("record_id", "target_uri", "warc_date", "text")

  /** Tol-terminated PageRank ([[operators.Graph.pageRankTol]]): L1-delta
    * stop, loud refusal if `maxIters` runs out non-converged. */
  def pageRankTol(edges: DataFrame, srcCol: String, dstCol: String,
      tol: Double, maxIters: Int = 100, damping: Double = 0.85): DataFrame =
    operators.Graph.pageRankTol(edges, srcCol, dstCol, tol, maxIters, damping)

  /** Real-pixel image features over a binary payload column
    * ([[multimodal.Images.imageFeatures]] — JDK ImageIO decode): exact
    * integer channel sums/means + the 64-bit block-luma aHash. */
  def imageFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    multimodal.Images.imageFeatures(df, idCol, payloadCol)

  /** Perceptual near-dup image pairs on real decoded pixels
    * ([[multimodal.Images.nearDups]] — banded, never all-pairs). */
  def imageNearDups(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3): DataFrame =
    multimodal.Images.nearDups(df, idCol, payloadCol, maxHamming)

  /** TFRecord shard export ([[sinks.TfRecordSink]]): one CRC32C-framed
    * file per shard + manifest — the loader-facing delivery step after
    * [[shuffleShards]]/packing. */
  def writeTfRecords(df: DataFrame, path: String, payloadCol: String,
      shardCol: String, orderCols: Seq[String]): DataFrame =
    sinks.TfRecordSink.writeSharded(df, path, payloadCol, shardCol, orderCols)

  /** Read TFRecord shards back as (shard, record), both CRCs verified. */
  def readTfRecords(spark: SparkSession, path: String): DataFrame =
    sinks.TfRecordSink.read(spark, path)

  /** Per-group certified quantile sketch ([[functions.QuantileSketch]]):
    * (n, max_rank_err, is_exact, qs) — mergeable state, sound
    * self-reported rank bound. */
  def quantileSketch(x: org.apache.spark.sql.Column, k: Int,
      probs: Seq[Double]): org.apache.spark.sql.Column =
    functions.QuantileSketch.sketch(x, k, probs)

  /** Split a .sql file's content into statements (`run_file_sql`). */
  def splitSqlFile(sql: String): Seq[String] = PgDdl.splitStatements(sql)

  /** Split a .sql file's content AND execute each statement on `conn` in
    * order — the full `run_file_sql` verb (reference api.py:618-627), not
    * just its parser. Runs on the caller's connection (and therefore its
    * transaction/autocommit settings); a failing statement propagates with
    * the statements before it already applied, matching the reference's
    * sequential semantics. Returns the number of statements executed. */
  def runSqlFile(conn: java.sql.Connection, sql: String): Int = {
    val stmts = splitSqlFile(sql)
    stmts.foreach { s =>
      val st = conn.createStatement()
      try st.execute(s) finally st.close()
    }
    stmts.length
  }

  /** Stamped parquet write (the artifact `updateParquet` maintains). */
  def writeParquet(df: DataFrame, path: String, modified: String): Unit =
    ParquetSink.write(df, path, modified)

  /** Gzipped-CSV write. */
  def writeCsv(df: DataFrame, path: String): Unit = CsvSink.write(df, path)

  /** Budget-sharded JSONL export + manifest
    * ([[sinks.JsonlSink.writeSharded]]); returns the manifest. */
  def writeJsonl(df: DataFrame, path: String, order: Seq[String],
      budgetBytes: Long): DataFrame =
    sinks.JsonlSink.writeSharded(df, path, order, budgetBytes)

  /** Read back a [[writeJsonl]] export as raw (shard, value) lines. */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    sinks.JsonlSink.readSharded(spark, path)

  /** The three shingle-based dedup/analysis views [[dedupSuite]] derives
    * from ONE shared shingle pass. `unpersist()` releases the shared
    * intermediate once the outputs are materialized. */
  final case class DedupSuite(
      shingleSets: DataFrame, jaccardPairs: DataFrame,
      minhashPairs: DataFrame, topNgrams: DataFrame) {
    def unpersist(): Unit = { shingleSets.unpersist(); () }
  }

  /** Run the shingle-based dedup suite — n-gram Jaccard near-dup pairs,
    * MinHash/LSH near-dup pairs, and corpus top-k n-grams — off ONE
    * tokenize→hash shingle pass (SURVEY §9's shared-scan plan): the
    * per-doc (_id, _set) table of [[operators.Dedup.shingleSets]] is
    * persisted (memory-and-disk, spillable) and every view consumes it.
    * Prefix-tier Jaccard and MinHash verify by `_set` intersection
    * against it; the routing vocab and the top-k counts read its exploded
    * rows, so no view regroups shingle rows by document. The only other
    * corpus read is top-k's winner-string resolution scan, gated to the
    * broadcast winner set by construction. The Jaccard and MinHash views
    * run their routing and banding jobs (so the shared pass) when the
    * suite is built; top-k stays lazy. */
  def dedupSuite(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
      tau: Double = 0.8, k: Int = 64, bands: Int = 16,
      topK: Int = 20): DedupSuite = {
    import graft.operators.{Dedup, MinHashLSH}
    val sets = Dedup.shingleSets(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    DedupSuite(
      sets,
      // prefix-filtered generator over the SAME shared pass — identical
      // output to the dense equi-join (spec-proven at every τ), far fewer
      // candidate pairs on near-dup-dense corpora
      Dedup.prefixJaccard(sets, tau),
      MinHashLSH.nearDupPairsOf(sets, k, bands, tau),
      Dedup.topNgramsOf(docs, textCol, sets, n, topK))
  }

  /** Semantic (embedding-space) dedup — SemDeDup: k-means clusters, then
    * near-dup removal within clusters only, min-id exemplar kept
    * ([[operators.SemDedup.semDedup]]); survivors keep every column plus
    * their cluster id. */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int = 3, tau: Double = 0.95): DataFrame =
    graft.operators.SemDedup.semDedup(df, idCol, vecCol, c, iters, tau)

  /** Substring-span dedup — cut character spans of length >= `l` that occur
    * at more than one site corpus-wide, keeping the first site
    * ([[operators.SpanDedup.stripDupSpans]]); see
    * [[operators.SpanDedup.dupSpanStats]] for the measure-only profile. */
  def stripDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      l: Int = 50, s: Int = 1): DataFrame =
    graft.operators.SpanDedup.stripDupSpans(df, idCol, textCol, l, s)

  /** [[stripDupSpans]] with a winnowing pre-gate
    * ([[operators.SpanDedup.stripDupSpansWinnowed]]): a sparse fingerprint
    * pass (~1/(l−k+1) of the window rows) proves most docs clean, and the
    * stride-1 span pass runs only over the rest — identical output
    * (spec-proven), the shape to prefer on mostly-clean corpora. */
  def stripDupSpansWinnowed(
      df: DataFrame, idCol: String, textCol: String,
      l: Int = 50, k: Int = 8): DataFrame =
    graft.operators.SpanDedup.stripDupSpansWinnowed(df, idCol, textCol, l, k)

  /** Span-granular benchmark decontamination — every `l`-char span of `df`
    * that occurs anywhere in `bench` is excised (quotes go, docs stay;
    * [[operators.SpanDedup.stripContamSpans]]); see
    * [[operators.SpanDedup.contamSpanStats]] for the measure-only profile. */
  def stripContamSpans(
      df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      l: Int = 50, s: Int = 1): DataFrame =
    graft.operators.SpanDedup.stripContamSpans(df, idCol, textCol, bench, benchTextCol, l, s)

  /** Leakage-safe train/val/test split — near-dup clusters as the
    * assignment unit ([[operators.Sampling.leakageSafeSplit]]): returns
    * (doc_id, cluster_id, split); join back by id for full columns. */
  /** Product-quantized ANN — train m×k subspace codebooks, encode the
    * corpus to byte codes (~32× smaller), ADC-shortlist and exactly
    * re-rank ([[operators.ProductQuantizer]]); the memory-side companion
    * to the IVF/LSH pruning indexes. */
  def pqTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, m: Int = 4, cells: Int = 16,
      iters: Int = 2, shortlist: Int = 100,
      excludeId: Option[Long] = None): DataFrame = {
    val pq = graft.operators.ProductQuantizer
    val model = pq.train(corpus, idCol, vecCol, m, cells, iters)
    pq.rerankTopK(corpus, idCol, vecCol,
      pq.encode(corpus, idCol, vecCol, model), model, query, k, shortlist, excludeId)
  }

  /** Exact top-n items at sketch shuffle cost — Misra-Gries candidates
    * ([[graft.functions.MisraGries.sketch]], a mergeable native aggregate)
    * + certified exact recount ([[operators.Sketches.exactTopN]]); refuses
    * loudly when n outruns the sketch's guarantee. */
  def exactTopN(df: DataFrame, item: org.apache.spark.sql.Column,
      n: Int, k: Int = 1024): DataFrame =
    graft.operators.Sketches.exactTopN(df, item, n, k)

  /** Per-group certified exact top-n
    * ([[operators.Sketches.exactTopNPerGroup]]). */
  def exactTopNPerGroup(df: DataFrame, groupCol: String,
      item: org.apache.spark.sql.Column, n: Int, k: Int = 1024): DataFrame =
    graft.operators.Sketches.exactTopNPerGroup(df, groupCol, item, n, k)

  /** [[exactTopN]] for bigint item streams (fingerprints, hashed keys,
    * ids) — primitive Misra-Gries counters, no per-update boxing
    * ([[operators.Sketches.exactTopNLong]]). */
  def exactTopNLong(df: DataFrame, item: org.apache.spark.sql.Column,
      n: Int, k: Int = 1024): DataFrame =
    graft.operators.Sketches.exactTopNLong(df, item, n, k)

  /** Exact top-k rows per group by (score desc, id asc) via the bounded
    * heap aggregate ([[operators.Sketches.topKPerGroup]]) — k pairs per
    * (mapper, group) on the wire instead of the window idiom's
    * whole-table shuffle + sort; no slack to certify. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      score: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      k: Int): DataFrame =
    graft.operators.Sketches.topKPerGroup(df, groupCols, score, id, k)

  /** Okapi BM25 top-k retrieval of corpus docs per query
    * ([[operators.TextAnalysis.bm25TopK]]) — the
    * decontamination-by-retrieval pass: broadcast benchmark queries, a
    * zero-shuffle fused postings pass, ranked leak suspects out. For a
    * corpus that serves repeated retrieval rounds, build a materialized
    * index once instead ([[operators.TextIndex]]) and search with
    * bucket-pruned scans. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qIdCol: String, qTextCol: String,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame =
    graft.operators.TextAnalysis.bm25TopK(
      corpus, queries, idCol, textCol, qIdCol, qTextCol, k1, b, topK)

  /** Corpus-level exact line dedup ([[operators.Curation.lineDedup]]) —
    * every non-first occurrence of a line corpus-wide excised, docs
    * rebuilt; hash-gated two-phase counting so the corpus never
    * shuffles. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minLineLen: Int = 1): DataFrame =
    graft.operators.Curation.lineDedup(df, idCol, textCol, sep, minLineLen)

  /** Bloom filter over the corpus' normalized-text fingerprints
    * ([[operators.Dedup.corpusBloom]]) — build once, then gate every
    * recurring ingest batch with [[bloomDedup]] at zero shuffle cost. */
  def corpusBloom(corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] =
    graft.operators.Dedup.corpusBloom(corpus, textCol, expectedItems, fpp)

  /** Shuffle-free incremental ingest dedup gated by a prebuilt corpus
    * bloom ([[operators.Dedup.bloomIncrementalDedup]]): definite-new rows
    * pass straight through, the maybe-set is confirmed exactly by one
    * corpus scan — identical results to the anti-join path. */
  def bloomDedup(batch: DataFrame, corpus: DataFrame, textCol: String,
      bloom: Array[Byte]): DataFrame =
    graft.operators.Dedup.bloomIncrementalDedup(batch, corpus, textCol, bloom)

  /** Robust winnowing fingerprints ([[operators.TextAnalysis.winnow]],
    * the MOSS selector): sparse (id, pos, fp) rows; equi-join `fp` for a
    * complete candidate index of shared substrings ≥ w + k − 1 chars. */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    graft.operators.TextAnalysis.winnow(df, idCol, textCol, k, w)

  /** Content-defined chunking — shift-resistant chunk boundaries from a
    * window-hash predicate ([[operators.Curation.cdcChunks]]); dedup the
    * `chunk_md5` column across versions/docs for storage-side dedup. */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, divisor: Int = 64): DataFrame =
    graft.operators.Curation.cdcChunks(df, idCol, textCol, k, divisor)

  /** Crawl-level URL dedup — canonicalize ([[operators.Urls.canonicalize]]:
    * case/www/fragment/utm/trailing-slash folding) and keep one doc per
    * canonical URL ([[operators.Urls.dedupByUrl]]); run BEFORE text-level
    * dedup so exact crawl duplicates never reach a text shuffle. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    graft.operators.Urls.dedupByUrl(df, idCol, urlCol)

  /** Gopher repetition signals — per-doc duplicate n-gram occurrence
    * fractions ([[operators.Curation.dupNgramStats]]); filter high values
    * to drop looping/boilerplate docs whose per-word stats look healthy. */
  def dupNgramStats(
      df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame =
    graft.operators.Curation.dupNgramStats(df, idCol, textCol, ns)

  /** HTML-to-text extraction — the crawl-to-corpus step
    * ([[operators.Curation.stripHtml]]). */
  def stripHtml(df: DataFrame, htmlCol: String, outCol: String = "text"): DataFrame =
    graft.operators.Curation.stripHtml(df, htmlCol, outCol)

  /** Corpus snapshot diff — added/removed/modified/unchanged per doc id,
    * identity = normalized-text fingerprint
    * ([[operators.Curation.corpusDiff]]). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.Curation.corpusDiff(oldDf, newDf, idCol, textCol)

  /** Two-corpus overlap profile (distinct/union/intersection/Jaccard)
    * from bounded KMV sketches — no join, no corpus shuffle; exact and
    * certified below k ([[operators.Sketches.corpusOverlap]]). */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
      k: Int = 1 << 16): DataFrame =
    graft.operators.Sketches.corpusOverlap(a, b, textCol, k)

  /** Build a materialized inverted text index (bucket-partitioned
    * postings + stats sidecar) for repeated BM25 retrieval
    * ([[operators.TextIndex.write]]); grow it with
    * [[operators.TextIndex.append]]. */
  def buildTextIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 256): Unit =
    graft.operators.TextIndex.write(df, idCol, textCol, path, buckets)

  /** Bucket-pruned BM25 search against a built text index
    * ([[operators.TextIndex.search]]) — identical scores to
    * [[bm25TopK]] over the same corpus, reading only the query terms'
    * bucket directories. */
  def searchTextIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      topK: Int = 10): DataFrame =
    graft.operators.TextIndex.search(spark, path, queries, qIdCol, qTextCol,
      topK = topK)

  /** Deterministic global shuffle + sharding for reproducible training
    * order ([[operators.Sampling.shuffleShards]]). */
  def shuffleShards(df: DataFrame, idCol: String, shards: Int,
      seed: Long = 0L): DataFrame =
    graft.operators.Sampling.shuffleShards(df, idCol, shards, seed)

  /** Near-dup corpus dedup keeping the min-id survivor per cluster
    * ([[operators.Dedup.dedupCorpus]]); [[dedupCorpusBy]] keeps the
    * best-scoring one instead. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.6): DataFrame =
    graft.operators.Dedup.dedupCorpus(df, idCol, textCol, n, tau)

  /** Fixed-iteration PageRank over a directed edge list
    * ([[operators.Graph.pageRank]]) — the crawl-side centrality quality
    * signal; one job per iteration, lineage localCheckpoint-truncated. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85): DataFrame =
    graft.operators.Graph.pageRank(edges, srcCol, dstCol, iters, damping)

  /** Quality-aware near-dup dedup: each cluster keeps its highest-`score`
    * member, ties min id ([[operators.Dedup.dedupCorpusBy]]). */
  def dedupCorpusBy(df: DataFrame, idCol: String, textCol: String,
      score: org.apache.spark.sql.Column,
      n: Int = 3, tau: Double = 0.6): DataFrame =
    graft.operators.Dedup.dedupCorpusBy(df, idCol, textCol, n, tau, score)

  /** Containment-aware corpus dedup — the aggregator / quoted-in-full
    * verb: drops every document (≥ tau)-CONTAINED in another
    * ([[operators.Dedup.dedupCorpusContainment]]); containers survive,
    * mutual containment keeps the min id. Jaccard dedup misses these
    * when the container is much larger — containment is the quantity
    * provenance and contamination checks actually want.
    * [[operators.Dedup.embeddedDocs]] returns the `(id, embedded_in)`
    * label table the audit trail ships. */
  def dedupCorpusContainment(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8): DataFrame =
    graft.operators.Dedup.dedupCorpusContainment(df, idCol, textCol, n, tau)

  def leakageSafeSplit(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.6,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    graft.operators.Sampling.leakageSafeSplit(df, idCol, textCol, n, tau, trainPct, valPct)

  /** LM perplexity quality scoring — CCNet-style add-½ bigram LM trained
    * on `ref` (the trusted corpus), per-doc cross-entropy + perplexity
    * over `corpus` ([[operators.LanguageModel.perplexity]]); filter on
    * `ppl` to keep text near the target distribution. */
  def lmPerplexity(
      corpus: DataFrame, ref: DataFrame,
      idCol: String, textCol: String,
      hashKeys: Boolean = false): DataFrame =
    graft.operators.LanguageModel.perplexity(corpus, ref, idCol, textCol, hashKeys)

  /** Quality classifier scoring — add-½ Naive-Bayes log-odds (closed-form
    * linear BoW, the fastText-family member with an exact SQL oracle)
    * trained on `train` (`labelCol` true = positive class), scored over
    * `corpus` ([[operators.Classifier.nbScore]]); `pred` = 1 keeps docs
    * that look like the positive class. */
  def classifyQuality(
      corpus: DataFrame, train: DataFrame,
      idCol: String, textCol: String, labelCol: String): DataFrame =
    graft.operators.Classifier.nbScore(corpus, train, idCol, textCol, labelCol)

  /** DSIR importance resampling — select `sampleN` docs from `raw` whose
    * hashed unigram+bigram distribution looks like `target`
    * ([[operators.Importance.dsirResample]]): deterministic Gumbel top-k,
    * repartition-stable, engine-reproducible. */
  def dsirResample(
      raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, sampleN: Int): DataFrame =
    graft.operators.Importance.dsirResample(raw, target, idCol, textCol, sampleN)

  /** End-to-end corpus curation — the operators composed in their canonical
    * order (each stage is the oracle-checked operator behind the matching
    * q-query; see SURVEY §2.3/§2.5b):
    *
    *   1. PII scrub ([[operators.Curation.redactPii]]),
    *   2. absolute quality gate (`keep = 1`, [[operators.Curation.qualityFlags]]),
    *   3. exact near-dup removal against the survivors themselves
    *      ([[operators.Dedup]] fingerprint anti-join, first doc per
    *      fingerprint wins),
    *   4. benchmark decontamination ([[operators.Curation.ngramContamination]]
    *      with hashed grams, containment < `maxContam`),
    *   5. fixed-size chunking ([[operators.Curation.chunkWords]]).
    *
    * Stage order is the cost order: the zero-shuffle projections (1, 2)
    * shrink the corpus before the shuffling stages (3, 4), and chunking
    * (explode) runs last over only the kept docs. Every intermediate keeps
    * the id column, so lineage joins back to the raw crawl. Returns the
    * chunked training rows (id, chunk_idx, chunk_text, n_words).
    */
  def curateCorpus(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, maxContam: Double = 0.2,
      chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    import graft.operators.{Curation, Dedup}
    import org.apache.spark.sql.functions.broadcast
    // one fan-out feeds every stage: the PII regex scrub is the first,
    // CPU-bound stage and local single-split corpora would pin the whole
    // pipeline's pre-shuffle work to one core (core.Par)
    val spread = graft.core.Par.fanOut(docs.select(col(idCol), col(textCol)))
    val scrubbed = Curation.redactPii(spread, idCol, textCol)
      .withColumnRenamed("clean_text", textCol)
      .select(col(idCol), col(textCol))
    val quality = scrubbed.join(
      Curation.qualityFlags(scrubbed, idCol, textCol)
        .where(col("keep") === 1).select(col(idCol)),
      Seq(idCol), "left_semi")
    val deduped = quality.join(
      Dedup.exact(quality, idCol, textCol).select(col(idCol)),
      Seq(idCol), "left_semi")
    val clean = deduped.join(
      broadcast(
        Curation.ngramContamination(deduped, benchmark, idCol, textCol,
            hashGrams = true)
          .where(col("contam_frac") >= maxContam).select(col(idCol))),
      Seq(idCol), "left_anti")
    Curation.chunkWords(clean, idCol, textCol, chunkSize, overlap)
  }

  /** Per-document disposition audit of [[curateCorpus]] — the lineage
    * report a dataset release ships alongside the corpus: every input doc
    * gets exactly one row saying whether it survived and, if not, the
    * FIRST stage that dropped it and why.
    *
    * Returns (id, disposition, dup_of, contam_frac) where disposition ∈
    * {'quality', 'duplicate', 'contaminated', 'kept'}; `dup_of` names the
    * surviving twin for duplicates; `contam_frac` carries the measured
    * benchmark overlap for dedup winners (contaminated AND kept rows, so
    * the margin to the threshold is visible).
    *
    * Same stage semantics (and the same operators) as [[curateCorpus]]:
    * PII-redacted text feeds quality gating, exact dedup keeps the min id
    * per redacted text, and n-gram contamination runs over winners only.
    * Scale shape: every join is an id- or text-keyed equi-join; the only
    * corpus-sized shuffles are the dedup groupBy and the final id-keyed
    * assembly — no stage moves more than (id, small columns) once the
    * redacted text has served its stage.
    */
  def curateCorpusAudit(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, maxContam: Double = 0.2): DataFrame = {
    import graft.operators.Curation
    import org.apache.spark.sql.functions.{lit, min, when}
    val spread = graft.core.Par.fanOut(docs.select(col(idCol), col(textCol)))
    // every downstream branch (flags, quality gate, dedup winners, dup
    // map, contamination) consumes the redacted text — persist it once or
    // the regex redaction chain re-runs per branch
    val scrubbed = Curation.redactPii(spread, idCol, textCol)
      .withColumnRenamed("clean_text", textCol)
      .select(col(idCol), col(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepFlags = Curation.qualityFlags(scrubbed, idCol, textCol)
      .select(col(idCol), col("keep"))
    val qualityPass = scrubbed.join(
      keepFlags.where(col("keep") === 1).select(col(idCol)),
      Seq(idCol), "left_semi")
    val winners = qualityPass.groupBy(col(textCol))
      .agg(min(col(idCol)).as("_dup_of"))
    val dupMap = qualityPass.join(winners, Seq(textCol))
      .select(col(idCol), col("_dup_of"))
    val winnerDocs = qualityPass.join(
      dupMap.where(col(idCol) === col("_dup_of")).select(col(idCol)),
      Seq(idCol), "left_semi")
    val contam = Curation.ngramContamination(
        winnerDocs, benchmark, idCol, textCol, hashGrams = true)
      .select(col(idCol), col("contam_frac"))
    docs.select(col(idCol))
      .join(keepFlags, Seq(idCol), "left")
      .join(dupMap, Seq(idCol), "left")
      .join(contam, Seq(idCol), "left")
      .select(col(idCol),
        when(col("keep") === 0, lit("quality"))
          .when(col(idCol) =!= col("_dup_of"), lit("duplicate"))
          .when(col("contam_frac") >= maxContam, lit("contaminated"))
          .otherwise(lit("kept")).as("disposition"),
        when(col(idCol) =!= col("_dup_of"), col("_dup_of")).as("dup_of"),
        when(col(idCol) === col("_dup_of"), col("contam_frac"))
          .as("contam_frac"))
  }
}
