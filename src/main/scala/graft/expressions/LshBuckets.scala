package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All multi-table random-hyperplane LSH bucket ids of one embedding in a
  * single native expression: element `t` of the returned `array<int>` is
  * table t's bucket, bit j set iff `dot(emb, plane(t·bits+j)) >= 0`.
  *
  * Semantically identical to the column-composed spelling
  * `array(bucket(0), …, bucket(tables−1))` with
  * `bucket(t) = Σⱼ CASE WHEN dot(emb, planeₜⱼ) >= 0 THEN 2ʲ ELSE 0 END`
  * over literal plane arrays — same ascending-index accumulation order as
  * [[VecDot]], same float→double promotion, same `>= 0.0` comparison
  * (false for NaN, like the CASE) — but as ONE plan node instead of
  * tables×bits literal arrays (8×8×64 = 4096 Literal nodes at the
  * default parameters). The literal spelling made every plan
  * construction re-walk those nodes through the whole optimizer rule
  * stack, a fixed driver-side cost paid per serving batch; here the
  * plane matrix rides along as a single flattened reference object and
  * the generated code is one static call, so the plan stays small and
  * the per-row work is a tight cache-friendly loop over `double[]`.
  */
case class LshBuckets(child: Expression, planes: Array[Array[Double]], bits: Int)
    extends UnaryExpression with VecKernel {
  require(planes.nonEmpty && bits > 0 && planes.length % bits == 0,
    "lsh_buckets: planes must be a whole number of tables x bits rows")

  private val tables = planes.length / bits
  private val dim = planes(0).length

  override protected def vectors: Seq[Expression] = Seq(child)

  override def prettyName: String = "lsh_buckets"

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  /** Row-major (tables·bits)×dim plane matrix, flattened once at plan
    * construction — a single JVM-shared reference object in codegen. */
  private lazy val flat: Array[Double] = {
    val out = new Array[Double](planes.length * dim)
    var p = 0
    while (p < planes.length) {
      require(planes(p).length == dim, "lsh_buckets: ragged plane matrix")
      System.arraycopy(planes(p), 0, out, p * dim, dim)
      p += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    LshBucketsUtil.buckets(input.asInstanceOf[ArrayData], flat, dim, bits,
      tables, isFloat(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", flat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.LshBucketsUtil.buckets($c, $ref, $dim, $bits, $tables, ${isFloat(child)})")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  /** Deep (value) equality over the plane matrix — same rationale as
    * [[ArgMinDistSq.equals]]: reference equality on `Array` fields
    * defeated expression canonicalization. */
  override def equals(other: Any): Boolean = other match {
    case that: LshBuckets =>
      child == that.child && bits == that.bits && java.util.Arrays.deepEquals(
        planes.asInstanceOf[Array[AnyRef]],
        that.planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  /** The matrix hash is O(tables·bits·dim) and Catalyst calls expression
    * hashCode repeatedly during analysis/canonicalization — computed once
    * (the matrix is construction-immutable by contract). */
  @transient private lazy val planesHash: Int =
    java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])

  override def hashCode(): Int =
    31 * (31 * child.hashCode() + bits) + planesHash
}

/** Static helper called from generated code. */
object LshBucketsUtil {
  def buckets(a: ArrayData, planes: Array[Double], dim: Int, bits: Int,
      tables: Int, isFloat: Boolean): ArrayData = {
    val n = math.min(a.numElements(), dim)
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var b = 0
      var j = 0
      while (j < bits) {
        val base = (t * bits + j) * dim
        var acc = 0.0
        var i = 0
        if (isFloat) while (i < n) { acc += a.getFloat(i) * planes(base + i); i += 1 }
        else while (i < n) { acc += a.getDouble(i) * planes(base + i); i += 1 }
        if (acc >= 0.0) b |= 1 << j
        j += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }
}
