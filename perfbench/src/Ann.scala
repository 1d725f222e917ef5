package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import graft.operators.{Similarity, VectorIndex}
import org.apache.spark.sql.SparkSession

/** Clustered embeddings, the probes a client sends, and the batches
  * appended between them. */
final case class AnnInputs(
    base: IndexedSeq[(Long, Array[Float])],
    probes: IndexedSeq[Array[Double]],
    batches: IndexedSeq[IndexedSeq[(Long, Array[Float])]])

object Vectors {
  val Dim = 32
  val Clusters = 16
  val BaseRows = 3000
  val BatchRows = 200
  val Probes = 64
  val K = 10
  val ProbesPerAppend = 3
  /** Coarse cells each probe scans, of `Clusters`. */
  val NProbe = 8
  /** ADC candidates each probe re-ranks exactly. */
  val Shortlist = 300

  def generate(seed: Long): AnnInputs = {
    val rnd = new scala.util.Random(seed ^ 0xa11L)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    def point(): Array[Float] = {
      val c = centers(rnd.nextInt(Clusters))
      c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat)
    }
    val base = (0 until BaseRows).map(i => (i.toLong, point()))
    val probes = (0 until Probes).map(_ => point().map(_.toDouble))
    val batches = (0 until Probes / ProbesPerAppend).map { b =>
      (0 until BatchRows).map(i => ((BaseRows + b * BatchRows + i).toLong, point()))
    }
    AnnInputs(base, probes, batches)
  }

  def cosine(v: Array[Float], q: Array[Double]): Double = {
    var dot, nv, nq = 0.0
    var i = 0
    while (i < q.length) { dot += v(i) * q(i); nv += v(i).toDouble * v(i); nq += q(i) * q(i); i += 1 }
    dot / (math.sqrt(nv) * math.sqrt(nq))
  }

  /** Exact top-k ids by cosine (6-decimal, as graft ranks), ties by id. */
  def exactTopK(rows: Seq[(Long, Array[Float])], q: Array[Double]): Seq[(Long, Double)] =
    rows.map { case (id, v) => (id, math.rint(cosine(v, q) * 1e6) / 1e6) }
      .sortBy { case (id, c) => (-c, id) }.take(K)
}

/** Builds the index, then one closed-loop client: a top-10 probe at a time,
  * with a batch appended after every `ProbesPerAppend` probes. */
final class Ann(spark: SparkSession, run: Run, in: AnnInputs, out: Path) {
  import Vectors._
  private val tr = run.tracer
  private val path = out.resolve("index").toString
  private val buildSeconds = ArrayBuffer[Double]()
  private val probeMs = ArrayBuffer[Double]()
  private val appendMs = ArrayBuffer[Double]()
  private val recalls = ArrayBuffer[Double]()
  private var appended = 0

  private def frame(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
  }

  /** k-means coarse cells, residual OPQ codebooks, and the index write. */
  private def build(): Unit = run.op("ann.build") {
    val df = frame(in.base).cache()
    df.count()
    val (_, dt) = run.timed("ann.build") {
      val cents = tr.span("ann.kmeans")(Similarity.kMeans(df, "id", "vec", Clusters, 2))
      val opq = tr.span("ann.train")(
        VectorIndex.trainResidualOpq(df, "id", "vec", cents, 4, 16, 2, 1))
      tr.span("ann.index_write")(
        VectorIndex.writeIvfPqOpq(df, "id", "vec", cents, opq, path, residual = true))
    }
    df.unpersist()
    buildSeconds += dt
    val n = spark.read.parquet(s"$path/corpus").count()
    run.check(n == in.base.size, s"index holds $n rows after build, expected ${in.base.size}")
  }

  private def visible: Seq[(Long, Array[Float])] = in.base ++ in.batches.take(appended).flatten

  /** One top-10 probe, checked against the exact top-10 over every vector
    * appended so far: ten distinct visible ids, ranked by their true cosine. */
  private def probe(q: Array[Double]): Unit = run.op("ann.probe") {
    val (rows, dt) = run.timed("ann.probe") {
      tr.span("ann.probe")(VectorIndex.ivfTopKPq(spark, path, "id", "vec", q.toSeq, NProbe, K, Shortlist).collect())
    }
    probeMs += dt * 1000
    val vis = visible
    val byId = vis.toMap
    val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    run.check(got.size == K && got.map(_._1).distinct.size == K, s"probe returned ${got.size} rows")
    got.foreach { case (id, c) =>
      run.check(byId.contains(id), s"probe returned id $id that was never indexed")
      run.check(math.abs(math.rint(cosine(byId(id), q) * 1e6) / 1e6 - c) <= 1e-6,
        s"probe scored id $id at $c, true cosine differs")
    }
    run.check(got.map(_._2) == got.map(_._2).sorted.reverse, "probe results are not ranked by cosine")
    val truth = exactTopK(vis, q).map(_._1).toSet
    recalls += got.count(g => truth(g._1)).toDouble / K
  }

  private def append(): Unit = run.op("ann.append") {
    val batch = in.batches(appended)
    val df = frame(batch).cache()
    df.count()
    val (_, dt) = run.timed("ann.append") {
      tr.span("ann.append")(VectorIndex.appendIvfPq(df, "id", "vec", path))
    }
    df.unpersist()
    appendMs += dt * 1000
    appended += 1
    val n = spark.read.parquet(s"$path/corpus").count()
    val want = in.base.size + appended * BatchRows
    run.check(n == want, s"index holds $n rows after append, expected $want")
  }

  private def appendRowsPerS = BatchRows * appendMs.size / (appendMs.sum / 1000)

  def run(budgetS: Double): Unit = {
    val t0 = System.nanoTime()
    build()
    var i = 0
    while (i < in.probes.size && (i < 5 || (System.nanoTime() - t0) / 1e9 < budgetS)) {
      if (i > 0 && i % ProbesPerAppend == 0 && appended < in.batches.size) append()
      probe(in.probes(i))
      i += 1
    }
    run.e2e("build_s") = (Stats.median(buildSeconds.toSeq), "s")
    run.e2e("query_ms_p50") = (Stats.median(probeMs.toSeq), "ms")
    run.e2e("quality") = (recalls.sum / recalls.size, "ratio")
    run.layer("ann.append_ms_p50") = Stats.median(appendMs.toSeq)
    if (tr.enabled) report()
  }

  private def report(): Unit = {
    val L = run.layer
    def med(name: String) = Stats.median(tr.named(name).map(_.seconds))
    L("ann.kmeans_s") = med("ann.kmeans")
    L("ann.train_s") = med("ann.train")
    L("ann.index_write_s") = med("ann.index_write")
    val probes = tr.named("ann.probe").filter(_.parent >= 0)
    L("ann.rows_scanned_per_probe") = probes.map(_.scanRows).sum.toDouble / probes.size
    L("ann.files_read_per_probe") = probes.map(_.scanFiles).sum.toDouble / probes.size
    // rows the exact re-rank scored: the shortlist semi-join's output
    L("ann.shortlist_yield") =
      K.toDouble * probes.size / math.max(1L, probes.map(_.semiJoinRows).sum)
    L("ann.append_rows_per_s") = appendRowsPerS
  }
}
