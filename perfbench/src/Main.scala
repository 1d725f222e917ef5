package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A failed output check. Thrown inside an operation, it fails the
  * operation, and any failed operation fails the run. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Counts operations and their failures, and holds the metrics a run
  * reports. One operation is one call (or fixed group of calls) into graft
  * whose outputs are then checked. */
final class Run(val tracer: Tracer, val seed: Long) {
  var attempted = 0
  var failed = 0
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Wall of every timed call, by operation name. */
  val opSeconds = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Run one operation: a throw or a failed check inside it fails it, and
    * the failure ends the run (the caller reports it and exits non-zero). */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    try tracer.span(name)(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        throw new RunFailed(s"$name: $e", e)
    }
  }

  /** Wall seconds of `body`, recorded under `name`. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    opSeconds.getOrElseUpdate(name, ArrayBuffer()) += dt
    (r, dt)
  }
}

final class RunFailed(msg: String, cause: Throwable) extends RuntimeException(msg, cause)

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {
  /** The end-to-end metrics every workload reports, each in its own terms
    * (see BENCHMARK.json and perfbench/layers.json for what each means on
    * each workload). */
  val EndToEnd = Seq("setup_s", "ops_ok_frac", "build_s", "rows_per_s", "query_ms_p50", "quality")

  val Workloads = Seq("serve", "corpus_dedup")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def session(work: Path): SparkSession = {
    val s = graft.core.GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The first query through a fresh session: scheduler, codegen, the
    * graft SQL extensions and a parquet round trip. */
  def warmUp(spark: SparkSession, work: Path): Unit = {
    val p = work.resolve("warmup.parquet").toString
    spark.range(200000).selectExpr("id", "graft_dot(array(id * 1.0D), array(2.0D)) AS d")
      .write.mode("overwrite").parquet(p)
    val n = spark.read.parquet(p).where("d >= 0").count()
    if (n != 200000L) throw new CheckFailed(s"warm-up read back $n rows, expected 200000")
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    require(Workloads.contains(workload),
      s"unknown workload $workload; known: ${Workloads.mkString(", ")}")
    Files.createDirectories(work)

    // inputs first, before any timing, from the seed alone
    val g0 = System.nanoTime()
    val out = work.resolve("out")
    val phases: Seq[(SparkSession, Run) => Unit] = workload match {
      case "serve" =>
        val etlIn = Etl.generate(seed, work.resolve("inputs"))
        val annIn = Vectors.generate(seed)
        // the refresh gets a third of the measured time, the index the rest
        Seq((spark, run) => new Etl(spark, run, etlIn, out.resolve("etl")).run(seconds / 3.0),
          (spark, run) => new Ann(spark, run, annIn, out.resolve("ann")).run(seconds * 2 / 3.0))
      case "corpus_dedup" =>
        val in = Corpus.generate(seed)
        Seq((spark, run) => new Dedup(spark, run, in, out).run(seconds))
    }
    System.err.println(f"[perfbench] inputs generated in ${(System.nanoTime() - g0) / 1e9}%.1f s")

    // set-up: session start + warm-up, three times; the last session stays
    val setup = (0 until 3).map { i =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val s = session(work)
      warmUp(s, work)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    System.err.println(s"[perfbench] set-up ${setup.map(x => f"$x%.2f").mkString(", ")} s")

    val tracer = new Tracer(trace)
    tracer.attach(spark)
    val run = new Run(tracer, seed)
    val (result, code) =
      try {
        phases.foreach(_(spark, run))
        run.e2e("setup_s") = (Stats.median(setup), "s")
        if (trace) {
          Layers.report(run, tracer, setup.head)
          // kept after the run's own directory is removed
          val spans = work.getParent.resolve("spans")
          Files.createDirectories(spans)
          tracer.dump(spans.resolve(s"$workload-seed$seed.jsonl"))
        }
        run.opSeconds.foreach { case (k, xs) =>
          System.err.println(f"[perfbench] $k%-22s n=${xs.size}%3d median=${Stats.median(xs.toSeq)}%.3f s total=${xs.sum}%.1f s")
        }
        val ok = (run.attempted - run.failed).toDouble / run.attempted
        run.e2e("ops_ok_frac") = (ok, "ratio")
        val missing = EndToEnd.filterNot(run.e2e.contains)
        if (missing.nonEmpty) throw new IllegalStateException(s"$workload did not report ${missing.mkString(", ")}")
        val metrics =
          if (!trace) run.e2e
          else mutable.LinkedHashMap(Layers.Names.map { case (k, u) =>
            k -> (run.layer.getOrElse(k, 0.0), u) }: _*)
        (render(correct = true, run.attempted, run.failed, metrics), 0)
      } catch {
        case e: RunFailed =>
          System.err.println(s"[perfbench] FAILED ${e.getMessage}")
          e.getCause.printStackTrace()
          (render(correct = false, run.attempted, run.failed, mutable.LinkedHashMap.empty), 1)
      }
    spark.stop()
    println(result)
    sys.exit(code)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.lang.Double.toString(v)

  def render(correct: Boolean, attempted: Int, failed: Int,
      metrics: mutable.LinkedHashMap[String, (Double, String)]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
