package graft.tools

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Registry-wide robustness sweep, one fail-closed gate. Every
  * `SparkEntry.queries` entry runs in four modes over the scale dir's
  * `*.parquet` tables:
  *   - `empty`: 0-row copies with the raw schemas. A date-partition
  *     filter, a tenant with no data yet or a fully deduplicated batch all
  *     hand an operator empty input mid-pipeline;
  *   - `nulls`: ~10% of each nullable string/binary column nulled, as
  *     failed fetches and decode errors leave crawl corpora. A bare NPE out
  *     of a typed `mapPartitions` pass (`text.trim` on null) is the crash
  *     column-level code never hits;
  *   - `dups`: ~5% of rows duplicated whole (re-ingested rows, a replayed
  *     batch), each query run twice: duplicates must not turn tie-breaks
  *     nondeterministic;
  *   - `twice`: the tables as given, each query run twice, and the first
  *     run's executed plan linted by [[PlanLint.findings]].
  * Which cells a copy nulls and which rows it duplicates depend only on
  * row content (`xxhash64` of the whole row), never on file split layout.
  * Results are not compared to the oracle: altered inputs legitimately
  * change them.
  *
  * Each (mode, query) gives one outcome: `ok(n)` (n result rows),
  * `refused: msg` (a root IllegalArgumentException, i.e. a named
  * `require`, or a `raise_error`), `CRASH: rootClass: msg` (anything
  * else) or `MISMATCH h1 h2` (the two runs fingerprint differently).
  *
  * Usage: `graft.tools.Sweep [sfDir] [outFile]`. Prints one tab-separated
  * `mode query outcome` line per run and one `lint query finding` line
  * per lint finding, writes the same lines to outFile if given, and exits
  * 1 on any crash, mismatch or lint finding, or when no query ran.
  */
object Sweep {

  type Query = (SparkSession, String) => DataFrame

  val Modes: Seq[String] = Seq("empty", "nulls", "dups", "twice")

  final case class Outcome(mode: String, query: String, result: String) {
    /** Fail-closed: only a clean run and a named refusal pass. */
    def failed: Boolean = !(result.startsWith("ok(") || result.startsWith("refused: "))
    def line: String = s"$mode\t$query\t$result"
  }

  /** The verdict: some query ran, and no outcome failed. */
  def passed(outcomes: Seq[Outcome]): Boolean =
    outcomes.nonEmpty && !outcomes.exists(_.failed)

  /** Runs `queries` in each of `modes` over copies of `src`'s tables
    * (`twice` reads `src` itself), handing each outcome to `emit` as it
    * lands. */
  def sweep(
      spark: SparkSession, src: String, modes: Seq[String],
      queries: Seq[(String, Query)], emit: Outcome => Unit = _ => ()): Seq[Outcome] =
    modes.flatMap { mode =>
      val dir = if (mode == "twice") src else copyTables(spark, src, mode)
      try queries.flatMap { case (name, fn) =>
        val out = runQuery(spark, mode, dir, name, fn)
        out.foreach(emit)
        out
      } finally if (dir != src) FileUtils.deleteDirectory(new File(dir))
    }

  private def runQuery(
      spark: SparkSession, mode: String, dir: String, name: String, fn: Query): Seq[Outcome] = {
    // collect `df` itself, so the plan linted is the one that ran
    def once(): (DataFrame, String, Int) =
      try {
        val df = fn(spark, dir)
        val rows = df.collect()
        (df, fingerprint(df.columns, rows), rows.length)
      } finally spark.catalog.clearCache()
    var lint = Seq.empty[String]
    val result =
      try {
        val (df, h1, n) = once()
        if (mode == "twice") lint = PlanLint.findings(name, df.queryExecution.executedPlan)
        if (mode != "dups" && mode != "twice") s"ok($n)"
        else {
          val h2 = once()._2
          if (h1 == h2) s"ok($n)" else s"MISMATCH $h1 $h2"
        }
      } catch { case e: Throwable => classify(e) }
    Outcome(mode, name, result) +: lint.map(Outcome("lint", name, _))
  }

  /** `refused: msg` for a loud, named refusal: a root
    * IllegalArgumentException, or a `raise_error` anywhere in the cause
    * chain; `CRASH: rootClass: msg` for anything else. */
  private[graft] def classify(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val root = chain.last
    val refusal = chain.find {
      case t: SparkThrowable => t.getCondition == "USER_RAISED_EXCEPTION"
      case _ => false
    }.orElse(Some(root).filter(_.isInstanceOf[IllegalArgumentException]))
    refusal.fold(s"CRASH: ${root.getClass.getSimpleName}: ${first(root)}")(
      t => s"refused: ${first(t)}")
  }

  private def first(e: Throwable): String =
    String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200).replace('\t', ' ')

  /** md5 over the rows rendered with columns in name order, sorted. */
  private[graft] def fingerprint(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => order.map(i => render(r.get(i))).mkString("[", ",", "]")).sorted
      .foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Structural, exact and unambiguous: strings are quoted and escaped, so
    * the bare `null` is no string's rendering; doubles render in hex, not
    * printf-rounded; Array.toString's identity hash never appears. */
  private def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
        .sorted.mkString("{", ",", "}")
    case r: Row => render(r.toSeq)
    case d: Double => java.lang.Double.toHexString(d)
    case f: Float => java.lang.Float.toHexString(f)
    case other => String.valueOf(other)
  }

  /** `mode`'s copy of every `*.parquet` table under `src`, in a new temp
    * dir. Tables are read raw, before the loader's nano→micro conversion,
    * so each copy keeps the schema its fixture was written with. */
  private[graft] def copyTables(spark: SparkSession, src: String, mode: String): String = {
    val tables = Option(new File(src).list()).toSeq.flatten.filter(_.endsWith(".parquet"))
    require(tables.nonEmpty, s"no *.parquet table under $src")
    val dir = Files.createTempDirectory(s"graft_sweep_$mode").toString
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t")
      val rowHash = xxhash64(struct(df.columns.toSeq.map(col): _*))
      val copy = mode match {
        case "empty" => df.limit(0)
        case "nulls" => df.select(df.schema.fields.map { f =>
            if (f.nullable && (f.dataType == StringType || f.dataType == BinaryType))
              when(pmod(xxhash64(rowHash, lit(f.name)), lit(10)) === 0,
                lit(null).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            else col(f.name)
          }.toSeq: _*)
        case "dups" => df.unionByName(df.where(pmod(rowHash, lit(20)) === 0))
      }
      copy.write.parquet(s"$dir/$t")
    }
    dir
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession
      .builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outcomes =
      try sweep(spark, src, Modes, graft.SparkEntry.queries.toSeq.sortBy(_._1),
        o => println(o.line))
      finally spark.stop()
    args.lift(1).foreach { f =>
      val path = Paths.get(f).toAbsolutePath
      Files.createDirectories(path.getParent)
      Files.write(path, outcomes.map(_.line + "\n").mkString.getBytes(UTF_8))
    }
    println(s"[sweep] ${outcomes.size} outcomes, " +
      s"${outcomes.count(_.result.startsWith("refused: "))} refused, " +
      s"${outcomes.count(_.failed)} failed")
    if (!passed(outcomes)) sys.exit(1)
  }
}
