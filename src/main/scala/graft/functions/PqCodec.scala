package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Flattened product-quantization codebooks plus the tight argmin loops the
  * PQ encode expression below and training's Lloyd rounds execute per row.
  *
  * The column-combinator formulation of PQ cell assignment (an
  * `argmax(greatest, coalesce(when...))` tree over m×k `graft_dot` columns)
  * is semantically right but generates O(m·k·dsub) Java expression nodes;
  * at index-build shapes (m=4..8, k=16..256) Janino spends multiple seconds
  * compiling the tree — a fixed cost per QUERY that dominated the measured
  * wall time of the PQ benchmarks, and on a 1000-executor cluster is paid
  * once per executor too. [[PqEncode]] collapses the whole assignment
  * to ONE codegen node whose generated body is a single call into
  * [[PqBooks.encode]] — the codebooks ride along as a
  * broadcast-by-reference object (`ctx.addReferenceObj`), the loop runs in
  * plain JVM arrays, and whole-stage codegen keeps fusing the surrounding
  * projection. Training's Lloyd rounds call [[PqBooks.nearest]] from
  * their partition loop directly.
  *
  * Scoring math is IDENTICAL to the column formulation (and spec-pinned so):
  * cell = argmax_c (sv·c − |c|²/2) with a strict sequential-fold dot (the
  * [[DotProduct]] association order) and ties to the lowest cell index.
  */
final class PqBooks(val m: Int, val k: Int, val dsub: Int, val flat: Array[Double])
    extends Serializable {
  require(flat.length == m * k * dsub, "flat codebook length must be m*k*dsub")

  /** |c|²/2 per (subspace, cell), the constant term of the L2 expansion. */
  private val halfNorms: Array[Double] = {
    val hn = new Array[Double](m * k)
    var jc = 0
    while (jc < m * k) {
      var s = 0.0
      var i = 0
      while (i < dsub) { val x = flat(jc * dsub + i); s += x * x; i += 1 }
      hn(jc) = s / 2.0
      jc += 1
    }
    hn
  }

  /** argmax_c `sv[off..off+dsub)`·books(j)(c) − |c|²/2, ties to lowest c.
    * `off` lets a full concatenated vector encode subspace j in place —
    * no `slice` projection, no copy. */
  def nearest(j: Int, sv: ArrayData, off: Int, isFloat: Boolean): Int = {
    var best = Double.NegativeInfinity
    var bestC = 0
    var c = 0
    while (c < k) {
      val base = (j * k + c) * dsub
      var s = 0.0
      var i = 0
      while (i < dsub) {
        val x = if (isFloat) sv.getFloat(off + i).toDouble else sv.getDouble(off + i)
        s += x * flat(base + i)
        i += 1
      }
      s -= halfNorms(j * k + c)
      if (s > best) { best = s; bestC = c }
      c += 1
    }
    bestC
  }

  /** All m cells of a full vector as an array<tinyint> payload. */
  def encode(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      out(j) = nearest(j, vec, j * dsub, isFloat).toByte
      j += 1
    }
    new GenericArrayData(out)
  }
}

private object PqCodecCheck {
  def arrayOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** Full-vector PQ encoding: m cells in one pass over the concatenated
  * vector, no per-subspace `slice` columns. */
case class PqEncode(child: Expression, books: PqBooks) extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (PqCodecCheck.arrayOk(child)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${child.dataType.catalogString}")

  override def nullSafeEval(vec: Any): Any =
    books.encode(vec.asInstanceOf[ArrayData], PqCodecCheck.isFloat(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, classOf[PqBooks].getName)
    val f = PqCodecCheck.isFloat(child)
    nullSafeCodeGen(ctx, ev, vec =>
      s"${ev.value} = $ref.encode($vec, $f);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points for the PQ codec expressions. */
object PqCodec {

  /** All m cells of full vector `vec` as array<tinyint>. */
  def encode(vec: Column, books: PqBooks): Column =
    ColumnShim.column(PqEncode(ColumnShim.expression(vec), books))
}
