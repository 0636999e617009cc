package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest centroid of one embedding under squared L2, against a literal
  * centroid matrix, in a single native pass: returns
  * `struct(d: double, j: int)` — the smallest distance and its centroid
  * index, ties broken to the smallest index.
  *
  * Semantically identical to the column-composed argmin spelling
  * `array_min(array(struct(vec_distsq(v, c₀) AS d, 0 AS j), …))` over
  * literal centroid arrays: each distance is [[VecDistSq]]'s
  * ascending-index `(aᵢ−cᵢ)²` double fold over the common prefix, and
  * the winner is selected with `java.lang.Double.compare` — the same
  * total order Spark's struct MIN uses for `DoubleType` (NaN sorts
  * last, so a NaN distance loses to any real one; an all-NaN row keeps
  * index 0, exactly like the struct ordering's tie-to-smallest-j).
  *
  * Why not the literal spelling it replaces: constant-folded
  * `array(lit…)` centroids are BOXED GenericArrayData, so k literal
  * dist trees re-read k·dim boxed Doubles per row (SURVEY §7.3g, the
  * dedup_embed lesson — 160× on the banding stage). Here the k×dim
  * matrix rides along flattened once as a primitive `double[]`
  * reference object and the generated code is one static call.
  */
case class ArgMinDistSq(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with VecKernel {
  require(centroids.nonEmpty, "arg_min_distsq: empty centroid matrix")

  private val k = centroids.length
  private val dim = centroids(0).length

  override protected def vectors: Seq[Expression] = Seq(child)

  override def prettyName: String = "arg_min_distsq"

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("j", IntegerType, nullable = false)))

  /** Row-major k×dim centroid matrix, flattened once at plan
    * construction — a single JVM-shared reference object in codegen. */
  private lazy val flat: Array[Double] = {
    val out = new Array[Double](k * dim)
    var c = 0
    while (c < k) {
      require(centroids(c).length == dim, "arg_min_distsq: ragged centroid matrix")
      System.arraycopy(centroids(c), 0, out, c * dim, dim)
      c += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    ArgMinDistSqUtil.argmin(input.asInstanceOf[ArrayData], flat, dim, k, isFloat(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", flat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.ArgMinDistSqUtil.argmin($c, $ref, $dim, $k, ${isFloat(child)})")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  /** Deep (value) equality over the centroid matrix: the default
    * case-class equality compares `Array` fields by REFERENCE, so two
    * semantically identical nodes never compared equal — which defeated
    * semanticEquals/canonicalization (e.g. common-subexpression
    * elimination would re-evaluate an identical argmin). */
  override def equals(other: Any): Boolean = other match {
    case that: ArgMinDistSq =>
      child == that.child && java.util.Arrays.deepEquals(
        centroids.asInstanceOf[Array[AnyRef]],
        that.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  /** The matrix hash is O(k·dim) and Catalyst calls expression hashCode
    * repeatedly during analysis/canonicalization — computed once (the
    * matrix is construction-immutable by contract). */
  @transient private lazy val centroidsHash: Int =
    java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])

  override def hashCode(): Int = 31 * child.hashCode() + centroidsHash
}

/** Static helper called from generated code. */
object ArgMinDistSqUtil {
  def argmin(a: ArrayData, cents: Array[Double], dim: Int, k: Int,
      isFloat: Boolean): InternalRow = {
    val n = math.min(a.numElements(), dim)
    var bestD = 0.0
    var bestJ = 0
    var c = 0
    while (c < k) {
      val base = c * dim
      var acc = 0.0
      var i = 0
      if (isFloat) while (i < n) {
        val d = a.getFloat(i) - cents(base + i); acc += d * d; i += 1
      } else while (i < n) {
        val d = a.getDouble(i) - cents(base + i); acc += d * d; i += 1
      }
      if (c == 0 || java.lang.Double.compare(acc, bestD) < 0) {
        bestD = acc; bestJ = c
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestJ))
  }
}
