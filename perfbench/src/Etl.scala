package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import graft.Graft
import graft.operators.AsOfJoin
import graft.pipeline.Update
import graft.sinks.ParquetSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Order-independent content digest of a table: row count plus the
  * wrapping sum of a 64-bit hash of each row's canonical text. */
final case class Digest(rows: Long, sum: Long) {
  def +(s: String): Digest = Digest(rows + 1, sum + Digest.h(s))
}
object Digest {
  val empty = Digest(0, 0)
  def h(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) ^ (stringHash(s, 0x0dd).toLong & 0xffffffffL)
  }
  def of(xs: Iterable[String]): Digest = xs.foldLeft(empty)(_ + _)
  def cell(v: Any): String = v match {
    case null => "∅"
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: LocalDate => d.toEpochDay.toString
    case d: Double => java.lang.Double.toString(d)
    case o => o.toString
  }
  def of(rows: Array[Row]): Digest =
    of(rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("|")))
}

/** One WRDS-like table: each version is a complete export of it. */
final case class EtlRow(permno: Int, date: Int, ret: Option[Double], prc: Option[Double],
    shrout: Double, hexcd: Double, ticker: String, comnam: String)
final case class EtlTable(name: String, sas: Boolean, files: IndexedSeq[Path],
    rows: IndexedSeq[IndexedSeq[EtlRow]])
final case class EtlInputs(tables: IndexedSeq[EtlTable])

object Etl {
  val Tables = 3
  val ChangedPerCycle = 2
  val Permnos = 100
  val Months = 100
  private val Letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** Raw columns as both formats carry them; numerics are doubles, as SAS
    * stores them, and `colTypes` narrows them on extract. */
  val RawSchema: StructType = StructType(Seq(
    StructField("permno", DoubleType), StructField("date", DateType),
    StructField("ret", DoubleType), StructField("prc", DoubleType),
    StructField("shrout", DoubleType), StructField("hexcd", DoubleType),
    StructField("ticker", StringType), StructField("comnam", StringType)))

  private val SasCols = Seq(
    SasFile.Col("permno", num = true, 8), SasFile.Col("date", num = true, 8, "DATE"),
    SasFile.Col("ret", num = true, 8), SasFile.Col("prc", num = true, 8),
    SasFile.Col("shrout", num = true, 8), SasFile.Col("hexcd", num = true, 8),
    SasFile.Col("ticker", num = false, 8), SasFile.Col("comnam", num = false, 32))

  private val SasEpoch = LocalDate.of(1960, 1, 1).toEpochDay

  /** Even tables come as `.sas7bdat`, odd ones as PROC-EXPORT-style CSV with
    * special missing values and quoted embedded CR/LF; every table has two
    * versions, so each refresh really changes the content it lands. */
  def generate(seed: Long, dir: Path): EtlInputs = {
    Files.createDirectories(dir)
    val tables = (0 until Tables).map { t =>
      val rnd = new scala.util.Random(seed * 1000003L + t)
      val sas = t % 2 == 0
      val start = LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(28) + 7L * t).toEpochDay.toInt
      val names = (0 until Permnos).map { p =>
        val tk = (0 until 4).map(_ => Letters(rnd.nextInt(26))).mkString
        val words = (0 until 2 + rnd.nextInt(3)).map(_ => (0 until 3 + rnd.nextInt(5))
          .map(_ => Letters(rnd.nextInt(26))).mkString)
        (tk, words.mkString(" "))
      }
      val versions = (0 until 2).map { v =>
        val rows = for {
          p <- 0 until Permnos
          m <- 0 until Months + v * 6
          if rnd.nextDouble() < 0.97
        } yield {
          def r6(x: Double) = math.rint(x * 1e6) / 1e6
          val (tk, nm) = names(p)
          EtlRow(
            permno = 10000 + p,
            date = start + m * 30 + rnd.nextInt(3),
            ret = if (rnd.nextDouble() < 0.04) None else Some(r6(rnd.nextGaussian() * 0.08)),
            prc = if (rnd.nextDouble() < 0.03) None else Some(math.rint(rnd.nextDouble() * 6000) / 100),
            shrout = (1000 + rnd.nextInt(90000)).toDouble,
            hexcd = (1 + rnd.nextInt(3)).toDouble,
            ticker = tk,
            // CSV exports carry CR/LF inside quoted names; the reader strips them
            comnam = if (!sas && rnd.nextDouble() < 0.05) nm.replaceFirst(" ", "\r\n") else nm)
        }
        rows
      }
      val files = versions.zipWithIndex.map { case (rows, v) =>
        if (sas) {
          val f = dir.resolve(s"t$t-v$v.sas7bdat")
          Files.write(f, SasFile.build(SasCols, rows.map(r => Array[Any](
            r.permno.toDouble, (r.date - SasEpoch).toDouble, r.ret.getOrElse(Double.NaN),
            r.prc.getOrElse(Double.NaN), r.shrout, r.hexcd, r.ticker, r.comnam))))
          f
        } else {
          val f = dir.resolve(s"t$t-v$v.csv")
          val sb = new java.lang.StringBuilder("permno,date,ret,prc,shrout,hexcd,ticker,comnam\n")
          rows.foreach { r =>
            // SAS prints .A-.Z for special missing values, "." for plain ones
            val ret = r.ret.map(java.lang.Double.toString).getOrElse("." + Letters(rnd.nextInt(26)))
            sb.append(r.permno).append(',').append(LocalDate.ofEpochDay(r.date)).append(',')
              .append(ret).append(',').append(r.prc.map(java.lang.Double.toString).getOrElse("."))
              .append(',').append(r.shrout).append(',').append(r.hexcd).append(',')
              .append(r.ticker).append(",\"").append(r.comnam).append("\"\n")
          }
          Files.write(f, sb.toString.getBytes("UTF-8"))
          f
        }
      }
      EtlTable(s"t$t", sas, files, versions)
    }
    EtlInputs(tables)
  }

  /** The extract every refresh applies (keep/rename/where/colTypes). */
  val Keep = "permno date ret prc shrout ticker comnam"
  val Rename = "prc=price"
  val Where = "price > 5"
  val ColTypes = Map("permno" -> "integer", "shrout" -> "bigint")

  /** What the extract lands, as canonical row text. */
  def expected(rows: Seq[EtlRow]): Seq[EtlRow] = rows.filter(_.prc.exists(_ > 5))
  def canon(r: EtlRow): String = Seq[Any](r.permno, r.date, r.ret.orNull, r.prc.get,
    r.shrout.toLong, r.ticker, r.comnam.replaceAll("[\r\n]", "")).map(Digest.cell).mkString("|")

  /** Read-back query: a SAS `where=` over the refreshed parquet of the
    * first table, enriched as-of from the second. */
  val QueryWhere = "price > 20 and ret > 0"
}

/** Refresh cycles over the library: in each, `ChangedPerCycle` tables get a
  * new stamp and must be rebuilt while the rest must be skipped; then
  * no-op passes, then the read-back query. */
final class Etl(spark: SparkSession, run: Run, in: EtlInputs, out: Path) {
  import Etl._
  private val tr = run.tracer
  private val fmt = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")
  private val base = LocalDateTime.of(2024, 6, 3, 9, 0)
  private def stamp(cycle: Int, t: Int) =
    "Last modified: " + base.plusMinutes(cycle * 60L + t).format(fmt)

  private val version = Array.fill(in.tables.size)(0)
  private val stamps = Array.tabulate(in.tables.size)(stamp(0, _))
  private val landed = Array.fill(in.tables.size)(Option.empty[Digest])
  private def pq(t: Int) = out.resolve(s"${in.tables(t).name}.parquet").toString
  private def csv(t: Int) = out.resolve(s"${in.tables(t).name}.csv").toString

  private val rebuildRate = ArrayBuffer[Double]()
  private val noopMs = ArrayBuffer[Double]()
  private val querySeconds = ArrayBuffer[Double]()
  // traced-only layer samples
  private val stampCheckMs = ArrayBuffer[Double]()
  private val stampSeconds = ArrayBuffer[Double]()
  private var fsBytesWritten = 0L
  private var rebuilds = 0
  private var wastedRebuilds = 0
  private var skips = 0
  private var queryRowsOut = 0L

  private def source(t: Int): DataFrame = {
    val tab = in.tables(t)
    val file = tab.files(version(t)).toString
    val raw = if (tab.sas) tr.span("sources.read_sas7bdat")(tr.force(Graft.readSas7bdat(spark, file)))
      else tr.span("sources.read_sas_csv")(tr.force(
        Graft.readSasCsv(spark, file, RawSchema, fixMissing = true, fixCr = true)))
    tr.span("sources.extract")(tr.force(Graft.extract(raw, keep = Some(Keep),
      rename = Some(Rename), where = Some(Where), colTypes = ColTypes)))
  }

  private def fsWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.toArray
      .map(_.asInstanceOf[org.apache.hadoop.fs.FileSystem.Statistics])
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Refresh one table to parquet and gzipped CSV, checking the outcome
    * each sink reports against whether its stamp moved. */
  private def refresh(t: Int, changed: Boolean): Double = {
    val s = stamps(t)
    if (tr.enabled) {
      val t0 = System.nanoTime()
      ParquetSink.getModified(spark, pq(t)); Update.csvModified(csv(t))
      stampCheckMs += (System.nanoTime() - t0) / 1e6
    }
    val w0 = fsWritten()
    val ((o1, o2), dt) = run.timed(if (changed) "etl.rebuild" else "etl.skip") {
      val a = tr.span("pipeline.update_parquet")(Graft.updateParquet(spark, source(t), pq(t), s))
      val b = tr.span("pipeline.update_csv")(Graft.updateCsv(spark, source(t), csv(t), s))
      (a, b)
    }
    val want = if (changed) Update.Updated else Update.UpToDate
    run.check(o1 == want && o2 == want,
      s"${in.tables(t).name}: outcomes ($o1, $o2), expected $want")
    if (changed) {
      fsBytesWritten += fsWritten() - w0
      if (landed(t).nonEmpty) rebuildRate += expected(in.tables(t).rows(version(t))).size / dt
      rebuilds += 1
      if (tr.enabled) {
        val t0 = System.nanoTime()
        ParquetSink.setModified(spark, pq(t), s)
        stampSeconds += (System.nanoTime() - t0) / 1e9
      }
      verifyLanded(t)
    } else skips += 1
    dt
  }

  /** Fail-closed output check of a rebuilt table: both stamps read back,
    * and both artifacts hold exactly the expected rows. */
  private def verifyLanded(t: Int): Unit = {
    val name = in.tables(t).name
    run.check(ParquetSink.getModified(spark, pq(t)) == stamps(t), s"$name: parquet stamp did not read back")
    run.check(Update.csvModified(csv(t)).contains(stamps(t)), s"$name: csv stamp did not read back")
    val want = Digest.of(expected(in.tables(t).rows(version(t))).map(canon))
    val fromPq = Digest.of(spark.read.parquet(pq(t)).collect())
    run.check(fromPq == want, s"$name: parquet holds $fromPq, expected $want")
    val outSchema = StructType(Seq(
      StructField("permno", IntegerType), StructField("date", DateType),
      StructField("ret", DoubleType), StructField("price", DoubleType),
      StructField("shrout", LongType), StructField("ticker", StringType),
      StructField("comnam", StringType)))
    val fromCsv = Digest.of(spark.read.option("header", "true").schema(outSchema).csv(csv(t)).collect())
    run.check(fromCsv == want, s"$name: csv holds $fromCsv, expected $want")
    if (landed(t).contains(want)) wastedRebuilds += 1
    landed(t) = Some(want)
  }

  /** One refresh pass over the library; the tables in `changed` get a new
    * stamp and their other version first. Returns the pass's wall. */
  private def pass(cycle: Int, changed: Set[Int]): Double =
    in.tables.indices.map { t =>
      run.op("etl.refresh") {
        if (changed(t) && cycle > 0) { version(t) = 1 - version(t); stamps(t) = stamp(cycle, t) }
        refresh(t, changed(t))
      }
    }.sum

  /** Expected as-of enrichment: each left row gets the right side's latest
    * `shrout` at or before its date, for the same permno. */
  private def expectedQuery(): Digest = {
    val left = expected(in.tables(0).rows(version(0)))
      .filter(r => r.prc.get > 20 && r.ret.exists(_ > 0))
    val right = expected(in.tables(1).rows(version(1))).groupBy(_.permno)
      .map { case (k, rs) => k -> rs.sortBy(_.date).toIndexedSeq }
    Digest.of(left.map { l =>
      val ref = right.get(l.permno).flatMap(_.takeWhile(_.date <= l.date).lastOption)
        .map(_.shrout.toLong)
      canon(l) + "|" + Digest.cell(ref.orNull)
    })
  }

  private def query(): Unit = run.op("etl.query") {
    val (rows, dt) = run.timed("etl.query") {
      val left = tr.span("sources.extract")(tr.force(
        Graft.extract(spark.read.parquet(pq(0)), where = Some(QueryWhere))))
      val right = spark.read.parquet(pq(1))
        .select(col("permno"), col("date"), col("shrout").as("ref_shrout"))
      val joined = tr.span("plans.asof_join")(tr.force(AsOfJoin.leftAsOfNative(
        left, right, "permno", "permno", "date", "date", Seq("ref_shrout"))))
      joined.collect()
    }
    querySeconds += dt
    val got = Digest.of(rows)
    val want = expectedQuery()
    run.check(got == want, s"etl query returned $got, expected $want")
    queryRowsOut += rows.length
  }

  def run(budgetS: Double): Unit = {
    val rnd = new scala.util.Random(run.seed ^ 0xe71L)
    val n = in.tables.size
    val t0 = System.nanoTime()
    // initial load: every table is new (warm-up, not measured)
    pass(0, (0 until n).toSet)
    var cycle = 1
    while (cycle <= 3 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      val changed = rnd.shuffle((0 until n).toList).take(ChangedPerCycle).toSet
      pass(cycle, changed)
      // no-op passes are cheap; several per cycle steady their median
      (0 until 3).foreach(_ => noopMs += pass(cycle, Set.empty) * 1000)
      query()
      cycle += 1
    }
    val inputBytes = in.tables.indices.map(t => Files.size(in.tables(t).files(version(t)))).sum
    val stored = in.tables.indices.map(t => Layers.dirBytes(pq(t)) + Layers.dirBytes(csv(t))).sum
    // per rebuild of a changed table, so one slow call moves the median little
    run.e2e("rows_per_s") = (Stats.median(rebuildRate.toSeq), "rows/s")
    run.layer("etl.noop_refresh_ms") = Stats.median(noopMs.toSeq)
    run.layer("etl.query_s") = Stats.median(querySeconds.toSeq)
    run.layer("etl.stored_bytes_per_input_byte") = stored.toDouble / inputBytes
    if (tr.enabled) report(inputBytes)
  }

  private def report(inputBytes: Long): Unit = {
    def med(name: String, f: Span => Double) = {
      val xs = tr.named(name).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val L = run.layer
    val sasSpans = tr.named("sources.read_sas7bdat")
    val sasBytes = in.tables.filter(_.sas).map(t => Files.size(t.files(0))).sum.toDouble /
      in.tables.count(_.sas)
    L("sources.sas7bdat_mb_per_s") = sasSpans.size * sasBytes / 1e6 / sasSpans.map(_.seconds).sum
    L("sources.csv_read_s") = med("sources.read_sas_csv", _.seconds)
    L("sources.extract_s") = med("sources.extract", tr.selfSeconds)
    val q = tr.named("etl.query").flatMap(tr.subtree)
    L("sources.rows_scanned_per_row_returned") =
      q.map(_.scanRows).sum.toDouble / math.max(1L, queryRowsOut)
    L("pipeline.stamp_check_ms") = Stats.median(stampCheckMs.toSeq)
    L("pipeline.rebuilds") = rebuilds.toDouble
    L("pipeline.skips") = skips.toDouble
    L("pipeline.wasted_rebuild_frac") = wastedRebuilds.toDouble / rebuilds
    val rebuilt = (s: Span) => tr.children(s).nonEmpty
    val pqSelf = tr.named("pipeline.update_parquet").filter(rebuilt).map(tr.selfSeconds)
    val csvSelf = tr.named("pipeline.update_csv").filter(rebuilt).map(tr.selfSeconds)
    L("sinks.parquet_write_s") = Stats.median(pqSelf)
    L("sinks.stamp_s") = Stats.median(stampSeconds.toSeq)
    L("sinks.csv_write_s") = Stats.median(csvSelf)
    val finalBytes = in.tables.indices.map(t => Layers.dirBytes(pq(t)) + Layers.dirBytes(csv(t))).sum
    L("sinks.bytes_written_per_output_byte") =
      fsBytesWritten.toDouble / (finalBytes.toDouble / in.tables.size * rebuilds)
    L("plans.asof_join_s") = med("plans.asof_join", _.seconds)
  }
}
