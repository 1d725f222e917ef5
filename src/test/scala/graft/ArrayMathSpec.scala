package graft

import graft.functions.ArrayMath
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style check (seeded): the codegen DotProduct equals a strict
  * left-fold in double over the same elements, bit for bit, for random
  * float vectors of varied lengths and magnitudes. */
class ArrayMathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("DotProduct == sequential double fold for random float vectors") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (1 to 30).map { _ =>
      val n = 1 + rnd.nextInt(65)
      val scale = math.pow(10, rnd.nextInt(9) - 4).toFloat
      (Array.fill(n)((rnd.nextFloat() - 0.5f) * scale),
        Array.fill(n)((rnd.nextFloat() - 0.5f) * scale))
    }
    val got = cases.toDF("a", "b")
      .select(ArrayMath.dot(col("a"), col("b"))).as[Double].collect()
    cases.zip(got).foreach { case ((a, b), g) =>
      var expected = 0.0
      a.indices.foreach(i => expected += a(i).toDouble * b(i).toDouble)
      assert(java.lang.Double.compare(g, expected) == 0, s"dot mismatch: $g vs $expected")
    }
  }

  test("cosine matches oracle association order dot/(sqrt*sqrt)") {
    val s = spark
    import s.implicits._
    val a = Array(0.3f, -1.7f, 2.9f, 0.0f)
    val b = Array(1.1f, 0.2f, -0.4f, 5.5f)
    def fold(x: Array[Float], y: Array[Float]) =
      x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
    val expected = fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    val got = Seq((a, b)).toDF("a", "b")
      .select(ArrayMath.cosine(col("a"), col("b"))).as[Double].head()
    assert(java.lang.Double.compare(got, expected) == 0)
  }

  test("vecLit/vecsLit type and hold their values as typedLit does") {
    val v = Seq(0.5, -1.25, 3.0)
    val vs = Seq(v, Seq(2.0), Seq.empty[Double])
    val df = spark.range(1).select(ArrayMath.vecLit(v).as("a"), typedLit(v).as("ta"),
      ArrayMath.vecsLit(vs).as("b"), typedLit(vs).as("tb"))
    assert(df.schema("a").dataType == df.schema("ta").dataType)
    assert(df.schema("b").dataType == df.schema("tb").dataType)
    val r = df.head()
    assert(r.getSeq[Double](0) == v && r.getSeq[Seq[Double]](2) == vs)
  }

  test("BoundDouble: not folded, evaluates to its value in codegen and interpreted") {
    val x = 0.1 + 0.2
    val c = ArrayMath.bound(x) * lit(3.0)
    val df = spark.range(3).select((c + col("id")).as("y"))
    assert(!org.apache.spark.sql.graftshim.ColumnShim.expression(c).foldable)
    assert(df.collect().map(_.getDouble(0)).toSeq == (0 until 3).map(i => x * 3.0 + i))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_bound"), plan)
  }

  test("BoundLong: not folded, excludes an id from a long or an int column") {
    val c = ArrayMath.bound(3L)
    assert(!org.apache.spark.sql.graftshim.ColumnShim.expression(c).foldable)
    val longs = spark.range(6).toDF().where(col("id") =!= c)
    assert(longs.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 4L, 5L))
    assert(longs.queryExecution.optimizedPlan.toString.contains("graft_bound"))
    val ints = spark.range(6).select(col("id").cast("int").as("i")).where(col("i") =!= c)
    assert(ints.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2, 4, 5))
  }

  test("RollingMinHash: codegen equals hand fold; null under window size") {
    val s = spark
    import s.implicits._
    import graft.functions.TextHashes
    val texts = Seq("the quick brown fox jumps over the lazy dog", "short", "x" * 16)
    val got = texts.toDF("t")
      .select(TextHashes.rollingMinHash(col("t"), 16)).collect()
    def ref(t: String): Option[Long] = {
      val bs = t.getBytes("UTF-8"); val k = 16; val M = 1000000007L
      if (bs.length < k) None
      else Some((0 to bs.length - k).map { i =>
        bs.slice(i, i + k).foldLeft(0L)((h, b) => (h * 31 + (b & 0xFF)) % M)
      }.min)
    }
    texts.zip(got).foreach { case (t, row) =>
      ref(t) match {
        case None => assert(row.isNullAt(0), s"expected null for '$t'")
        case Some(v) => assert(row.getLong(0) === v, s"mismatch for '$t'")
      }
    }
  }

  test("SQL registration via SparkSessionExtensions: graft_dot + rolling hash") {
    val s = spark
    import s.implicits._
    val dot = s.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(3.0D, 4.0D))")
      .as[Double].head()
    assert(dot === 11.0)
    val fp = s.sql("SELECT graft_rolling_min_hash('the quick brown fox jumps', 16)")
      .as[Long].head()
    val viaColumn = Seq("the quick brown fox jumps").toDF("t")
      .select(graft.functions.TextHashes.rollingMinHash(col("t"), 16)).as[Long].head()
    assert(fp === viaColumn)
    val ntz = s.sql(
      "SELECT graft_ntz_micros(TIMESTAMP_NTZ '2024-01-01 00:09:58.778549')")
      .as[Long].head()
    assert(ntz === 1704067798778549L, "wall clock reads as UTC epoch micros")
  }

  test("mismatched lengths use the common prefix; empty arrays give 0") {
    val s = spark
    import s.implicits._
    val got = Seq((Array(1.0f, 2.0f, 3.0f), Array(10.0, 20.0)))
      .toDF("a", "b").select(ArrayMath.dot(col("a"), col("b"))).as[Double].head()
    assert(got === 50.0)
    val empty = Seq((Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b").select(ArrayMath.dot(col("a"), col("b"))).as[Double].head()
    assert(empty === 0.0)
  }
}
