package graft

import graft.tools.Sweep
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc, lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** [[Sweep]]: its mode copies, its fingerprint, the outcome of every class
  * on planted queries, and the single-run modes over the full registry. */
class SweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A one-table scale dir: 200 rows of (id, s). */
  private lazy val src = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep-spec").toString
    writeTable(dir, spark.range(200).select(col("id"), col("id").cast("string").as("s")), 2)
    dir
  }

  private def writeTable(dir: String, df: DataFrame, files: Int): Unit =
    df.repartition(files).write.parquet(s"$dir/t.parquet")

  private def table(spark: SparkSession, dir: String) = spark.read.parquet(s"$dir/t.parquet")

  private def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("fingerprint tells null from every string; row and column order do not matter") {
    def fp(vs: Any*) = Sweep.fingerprint(Array("c"), vs.map(v => Row(v)).toArray)
    assert(fp(null) != fp(" "))
    assert(fp(null) != fp("null"))
    assert(fp(null) != fp("\u0000"))
    assert(fp(Seq("a,b")) != fp(Seq("a", "b")))
    assert(fp("\"") != fp("\\"))
    assert(fp("x", "y") == fp("y", "x"))
    assert(Sweep.fingerprint(Array("b", "a"), Array(Row(1, 2))) ==
      Sweep.fingerprint(Array("a", "b"), Array(Row(2, 1))))
  }

  test("mode copies: empty keeps the schema; nulls and dups pick by row content alone") {
    // the same rows in another file layout and order
    val other = java.nio.file.Files.createTempDirectory("graft-sweep-spec-b").toString
    writeTable(other, table(spark, src).orderBy(desc("id")), 5)
    val source = table(spark, src)

    val empty = table(spark, Sweep.copyTables(spark, src, "empty"))
    assert(empty.count() == 0 && empty.schema == source.schema)

    val Seq(nullsA, nullsB) = Seq(src, other).map(d => table(spark, Sweep.copyTables(spark, d, "nulls")))
    assert(rows(nullsA) == rows(nullsB))
    val nulled = nullsA.where(col("s").isNull).count()
    assert(nulled > 5 && nulled < 40, s"$nulled of 200 cells nulled")
    assert(nullsA.where(col("id").isNull).count() == 0)
    assert(rows(nullsA.where(col("s").isNotNull)) ==
      rows(source.join(nullsA.where(col("s").isNotNull).select("id"), "id")))

    val Seq(dupsA, dupsB) = Seq(src, other).map(d => table(spark, Sweep.copyTables(spark, d, "dups")))
    assert(rows(dupsA) == rows(dupsB))
    assert(dupsA.count() > 200 && rows(dupsA.distinct()) == rows(source))
  }

  test("planted outcomes: crash, refusals, mismatch and lint each land in their class") {
    val calls = new AtomicLong
    val fakes: Seq[(String, Sweep.Query)] = Seq(
      "clean" -> ((s, d) => table(s, d).select("id")),
      "npe" -> { (s, d) =>
        import s.implicits._
        table(s, d).select("s").as[String].mapPartitions(_.map(_.trim)).toDF("s")
      },
      "require" -> { (s, d) => require(false, "planted refusal"); table(s, d) },
      "raise" -> ((s, d) => table(s, d).select(raise_error(lit("planted raise")).as("x"))),
      "nondet" -> ((s, d) => table(s, d).select(col("id"), lit(calls.incrementAndGet()).as("run"))),
      "cross" -> ((s, _) => s.range(3).crossJoin(s.range(3).toDF("j"))))
    val out = Sweep.sweep(spark, src, Sweep.Modes, fakes)
    val got = out.filter(_.mode != "lint").map(o => (o.mode, o.query) -> o.result).toMap
    def is(mode: String, q: String, prefix: String) =
      assert(got((mode, q)).startsWith(prefix), s"$mode $q: ${got((mode, q))}")

    Sweep.Modes.foreach(m => is(m, "clean", if (m == "empty") "ok(0)" else "ok("))
    is("empty", "npe", "ok(0)")
    is("nulls", "npe", "CRASH: NullPointerException")
    is("twice", "npe", "ok(200)")
    Sweep.Modes.foreach(m => is(m, "require", "refused: requirement failed: planted refusal"))
    is("empty", "raise", "ok(0)")
    Seq("nulls", "dups", "twice").foreach(m => is(m, "raise", "refused: "))
    assert(got(("twice", "raise")).contains("planted raise"))
    Seq("empty", "nulls").foreach(m => is(m, "nondet", "ok("))
    Seq("dups", "twice").foreach(m => is(m, "nondet", "MISMATCH "))
    Sweep.Modes.foreach(m => is(m, "cross", "ok(9)"))
    val lint = out.filter(_.mode == "lint")
    assert(lint.map(_.query) == Seq("cross"), lint)
    assert(lint.head.result.contains("NestedLoopJoin") || lint.head.result.contains("Cartesian"))

    def verdict(q: String) = Sweep.passed(out.filter(_.query == q))
    Seq("clean", "require", "raise").foreach(q => assert(verdict(q), q))
    Seq("npe", "nondet", "cross").foreach(q => assert(!verdict(q), q))
    assert(!Sweep.passed(Nil), "no query ran")
  }

  private lazy val registry = SparkEntry.queries.toSeq.sortBy(_._1)

  Seq("empty", "nulls").foreach { mode =>
    test(s"$mode mode: every registered query returns rows or refuses by name") {
      val out = Sweep.sweep(spark, "/root/testdata/sf0.001", Seq(mode), registry)
      assert(out.map(_.query) == registry.map(_._1))
      assert(Sweep.passed(out), out.filter(_.failed).map(_.line).mkString("\n"))
    }
  }
}
