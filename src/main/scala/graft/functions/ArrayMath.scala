package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{array_contains, sqrt}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Codegen'd dot product of two numeric array columns (float or double
  * elements), accumulated in double with a strict left-to-right fold — the
  * same association order as a sequential `list_reduce`, so results are
  * bit-identical to single-node engines that fold the same way.
  *
  * This replaces `aggregate(zip_with(...))` in the vector-math hot path:
  * higher-order functions drop out of whole-stage codegen and pay an
  * interpreted lambda call per element, which is the difference between
  * minutes and seconds on an all-pairs similarity scan (SURVEY §4).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> inputs, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, t: DataType): String =
        if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, elemType(left))} * ${get(b, elemType(right))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A d×d rotation (row-major flat) plus the tight mat-vec loop the
  * [[MatVec]] expression executes per row — the [[PqBooks]] pattern: the
  * matrix rides along as a broadcast-by-reference object, the loop runs in
  * plain JVM arrays, and whole-stage codegen keeps fusing around it. */
final class RotMat(val d: Int, val flat: Array[Double]) extends Serializable {
  require(flat.length == d * d, "flat rotation length must be d*d")

  /** R·v as a fresh double array (strict row-major sequential folds). */
  def apply(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val out = new Array[Double](d)
    var r = 0
    while (r < d) {
      val base = r * d
      var s = 0.0
      var i = 0
      while (i < d) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        s += flat(base + i) * x
        i += 1
      }
      out(r) = s
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** R·q driver-side, with [[apply]]'s folds: a query rotates once here,
    * not per row. */
  def rotate(q: Array[Double]): Array[Double] = {
    require(q.length == d, s"query dim ${q.length} != model dim $d")
    val out = new Array[Double](d)
    var r = 0
    while (r < d) {
      val base = r * d
      var s = 0.0
      var i = 0
      while (i < d) { s += flat(base + i) * q(i); i += 1 }
      out(r) = s
      r += 1
    }
    out
  }
}

/** Rotate a numeric array column by a literal orthogonal matrix — the OPQ
  * encode/search projection ([[graft.operators.Opq]]). One codegen node
  * calling into [[RotMat]]; the d×d doubles are a reference object, not an
  * expression tree (the [[PqBooks]] Janino argument). */
case class MatVec(child: Expression, mat: RotMat) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_matvec"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${other.catalogString}")
  }

  override def nullSafeEval(vec: Any): Any =
    mat(vec.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rotMat", mat, classOf[RotMat].getName)
    val f = isFloat
    nullSafeCodeGen(ctx, ev, vec => s"${ev.value} = $ref.apply($vec, $f);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** C centroids of one dimension, row-major (`flat(b * dim + i)`), plus
  * the nearest-centroid loop [[NearestCentroid]] runs per row — the
  * [[PqBooks]] pattern, so planning cost does not grow with C×dim the way
  * a tree of per-centroid cosine columns does. Scores are bit-identical
  * to the column form `dot(v, c) / (norm2(v) * norm2(c))` ([[ArrayMath]]):
  * every dot and norm is the sequential fold of [[DotProduct]], and the
  * first maximum under Spark's double ordering wins, as `greatest` orders
  * (NaN greatest; ties to the lowest index). */
final class CentroidTable private (val c: Int, val dim: Int, val flat: Array[Double])
    extends Serializable {

  private val norms: Array[Double] = Array.tabulate(c) { b =>
    var s = 0.0
    var i = 0
    while (i < dim) { val x = flat(b * dim + i); s += x * x; i += 1 }
    math.sqrt(s)
  }
  private val zero = norms.indexOf(0.0)
  require(zero < 0, s"CentroidTable: centroid $zero has zero norm")

  /** Index of the centroid with the greatest cosine to `vec`; refuses a
    * vector whose length is not `dim` and a zero-norm vector by name. */
  def nearest(vec: ArrayData, isFloat: Boolean): Int = {
    val n = vec.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"nearest centroid: vector length $n != centroid dim $dim")
    val v = Array.tabulate(dim)(i => if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i))
    var vv = 0.0
    var i = 0
    while (i < dim) { vv += v(i) * v(i); i += 1 }
    val vn = math.sqrt(vv)
    var best = Double.NegativeInfinity
    var bestB = 0
    var b = 0
    while (b < c) {
      var dot = 0.0
      i = 0
      while (i < dim) { dot += v(i) * flat(b * dim + i); i += 1 }
      val den = vn * norms(b)
      if (den == 0.0) throw new IllegalArgumentException(
        s"nearest centroid: zero-norm vector (|v| * |c$b| = 0, cosine undefined)")
      val sim = dot / den
      if (SQLOrderingUtil.compareDoubles(sim, best) > 0) { best = sim; bestB = b }
      b += 1
    }
    bestB
  }

  /** `vec − centroid(b)` in double, a null element of `vec` kept null;
    * refuses a bucket outside `[0, c)` and a vector whose length is not
    * `dim` by name. */
  def residual(vec: ArrayData, b: Int, isFloat: Boolean): ArrayData = {
    if (b < 0 || b >= c) throw new IllegalArgumentException(
      s"centroid residual: bucket $b outside [0, $c)")
    val n = vec.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"centroid residual: vector length $n != centroid dim $dim")
    new GenericArrayData(Array.tabulate[Any](dim) { i =>
      if (vec.isNullAt(i)) null
      else (if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)) - flat(b * dim + i)
    })
  }
}

object CentroidTable {

  /** Packs a driver-side centroid list, refusing an empty or ragged one. */
  def apply(centroids: Seq[Seq[Double]]): CentroidTable = {
    require(centroids.nonEmpty, "CentroidTable: no centroids")
    val dim = centroids.head.length
    val bad = centroids.indexWhere(_.length != dim)
    require(bad < 0,
      s"CentroidTable: centroid $bad has length ${centroids(bad).length}, centroid 0 has $dim")
    new CentroidTable(centroids.length, dim, centroids.flatten.toArray)
  }
}

/** Nearest-centroid bucket (int) of a numeric array column: one codegen
  * node calling [[CentroidTable.nearest]]; a null vector gives null. */
case class NearestCentroid(child: Expression, table: CentroidTable)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqCodecCheck.arrayOk(child)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.catalogString}")

  override def nullSafeEval(vec: Any): Any =
    table.nearest(vec.asInstanceOf[ArrayData], PqCodecCheck.isFloat(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", table, classOf[CentroidTable].getName)
    val f = PqCodecCheck.isFloat(child)
    nullSafeCodeGen(ctx, ev, vec => s"${ev.value} = $ref.nearest($vec, $f);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `vec − centroid(bucket)` (array<double>) of a numeric array column and
  * an int bucket column: one codegen node calling
  * [[CentroidTable.residual]], the table held by reference; null when
  * either input is. */
case class CentroidResidual(left: Expression, right: Expression, table: CentroidTable)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_centroid_residual"

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqCodecCheck.arrayOk(left) && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, int), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def nullSafeEval(vec: Any, bucket: Any): Any =
    table.residual(vec.asInstanceOf[ArrayData], bucket.asInstanceOf[Int], PqCodecCheck.isFloat(left))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", table, classOf[CentroidTable].getName)
    val f = PqCodecCheck.isFloat(left)
    nullSafeCodeGen(ctx, ev, (vec, b) => s"${ev.value} = $ref.residual($vec, $b, $f);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A driver-computed double that generated code reads through a
  * reference, never inlines: the [[CentroidTable]] pattern for a scalar.
  * A `Literal` double is constant-folded into the generated source, so
  * every distinct value (a probe's query norm) is a new class for Janino
  * to compile; bound here, every value shares one compiled class. Not
  * foldable, so the optimizer keeps it as it is. */
case class BoundDouble(value: Double) extends LeafExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bound"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Double.valueOf(value))
    ev.copy(code = code"final double ${ev.value} = $ref.doubleValue();", isNull = FalseLiteral)
  }
}

/** [[BoundDouble]] for a long: a driver-side id (a probe's `excludeId`)
  * that generated code reads by reference, so every id shares one
  * compiled class. */
private[graft] case class BoundLong(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bound"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Long.valueOf(value))
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

/** [[BoundDouble]] for a driver-side int list (a probe's bucket ids): an
  * `array<int>` that generated code reads by reference, so every list
  * shares one compiled class where an `isin` of literals compiles one per
  * list. */
private[graft] case class BoundInts(values: Seq[Int]) extends LeafExpression {

  private lazy val array: ArrayData = ArrayData.toArrayData(values.toArray)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bound"

  override def eval(input: InternalRow): Any = array

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ArrayData].getName
    val ref = ctx.addReferenceObj("bound", array, cls)
    ev.copy(code = code"final $cls ${ev.value} = $ref;", isNull = FalseLiteral)
  }
}

/** Column-API entry points for the vector math expressions. */
object ArrayMath {

  /** Sequential-fold double dot product (codegen'd, WholeStageCodegen-safe). */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** R·v for a literal row-major rotation (array<double> out). */
  def matVec(v: Column, mat: RotMat): Column =
    ColumnShim.column(MatVec(ColumnShim.expression(v), mat))

  /** Nearest-centroid bucket by cosine, ties to the lowest index
    * ([[CentroidTable]]). */
  def nearestCentroid(v: Column, centroids: Seq[Seq[Double]]): Column =
    ColumnShim.column(NearestCentroid(ColumnShim.expression(v), CentroidTable(centroids)))

  /** L2 norm. */
  def norm2(v: Column): Column = sqrt(dot(v, v))

  /** L2 norm of a driver-side vector by [[DotProduct]]'s sequential fold:
    * bit-identical to [[norm2]] over the same values. */
  def norm(v: Seq[Double]): Double = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))

  /** A driver-side double the generated code reads by reference
    * ([[BoundDouble]]). */
  def bound(v: Double): Column = ColumnShim.column(BoundDouble(v))

  /** A driver-side long the generated code reads by reference
    * ([[BoundLong]]). */
  private[graft] def bound(v: Long): Column = ColumnShim.column(BoundLong(v))

  /** `c` is one of `values` (null for a null `c`, as `isin`), with the
    * list bound by reference ([[BoundInts]]). */
  private[graft] def isIn(c: Column, values: Seq[Int]): Column =
    array_contains(ColumnShim.column(BoundInts(values)), c)

  /** `array<double>` literal, typed explicitly: `typedLit` derives the same
    * type through Scala reflection on every call. */
  def vecLit(v: Seq[Double]): Column =
    ColumnShim.column(Literal.create(v, ArrayType(DoubleType, containsNull = false)))

  /** `array<array<double>>` literal, the nested [[vecLit]] (outer elements
    * nullable, as `typedLit` types a `Seq[Seq[Double]]`). */
  def vecsLit(vs: Seq[Seq[Double]]): Column =
    ColumnShim.column(Literal.create(vs, ArrayType(ArrayType(DoubleType, containsNull = false))))

  /** Cosine similarity, computed exactly as `dot / (sqrt(dot(a,a)) *
    * sqrt(dot(b,b)))` in double — the oracle's association order. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))
}
