package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY.md §4 upgrade
  * path: custom `Expression` with `doGenCode` beats higher-order functions
  * beats UDFs).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * allocates an intermediate array and evaluates a lambda per element in
  * the interpreter — measured ~6× slower on the similarity/dedup suite.
  * These expressions generate a tight primitive loop inside whole-stage
  * codegen: no allocation, no virtual calls, direct `getFloat`/`getDouble`
  * reads off the columnar/unsafe array format.
  *
  * Every kernel accepts `array<float>` and `array<double>` vectors in
  * any mix (embeddings are float; LSH hyperplane literals are double).
  * That operand rule is checked once, here: each of `vectors` is an
  * `array<float|double>`, each of `scalars` a double, and a failure names
  * the function and every operand's type. `elemGetter` (generated code)
  * and `read` (interpreted path) read a vector element as a double
  * whichever element type it has.
  */
trait VecKernel extends Expression {
  protected def vectors: Seq[Expression]
  protected def scalars: Seq[Expression] = Nil

  override def checkInputDataTypes(): TypeCheckResult = {
    val isVec = (t: DataType) => t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (vectors.forall(v => isVec(v.dataType)) && scalars.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else {
      val expects = vectors.map(_ => "array<float|double>") ++ scalars.map(_ => "double")
      val got = (vectors ++ scalars).map(_.dataType.sql)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (${expects.mkString(", ")}), got (${got.mkString(", ")})")
    }
  }

  protected def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  protected def elemGetter(e: Expression): String =
    if (isFloat(e)) "getFloat" else "getDouble"

  protected def read(e: Expression, a: ArrayData, i: Int): Double =
    if (isFloat(e)) a.getFloat(i).toDouble else a.getDouble(i)
}

/** A double-valued kernel over two vectors. */
trait VecBinaryOp extends BinaryExpression with VecKernel {
  override def dataType: DataType = DoubleType
  override protected def vectors: Seq[Expression] = Seq(left, right)
}

/** Σ aᵢ·bᵢ over the common prefix, accumulated in double. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryOp {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += read(left, a, i) * read(right, b, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double)$a.${elemGetter(left)}($i) * (double)$b.${elemGetter(right)}($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** max |aᵢ| over the vector — the scale pass of int8 quantization.
  * Same tight-loop shape as [[VecDot]]; 0.0 for an empty array (callers
  * guard division by zero with a `when`). */
case class VecMaxAbs(child: Expression) extends UnaryExpression with VecKernel {
  override def prettyName: String = "vec_max_abs"
  override def dataType: DataType = DoubleType
  override protected def vectors: Seq[Expression] = Seq(child)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var m = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = math.abs(read(child, a, i))
      if (x > m) m = x
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = java.lang.Math.abs((double)$a.${elemGetter(child)}($i));
         |  if ($x > $m) $m = $x;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Element-wise aᵢ / s → array<double>. Spelled as DIVISION (not multiply
  * by reciprocal — the two differ in the last ulp) so the DuckDB oracle's
  * `x / norm` reproduces it bit-for-bit. Used for L2 normalization. */
case class VecDiv(left: Expression, right: Expression) extends BinaryExpression with VecKernel {
  override def prettyName: String = "vec_div"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def vectors: Seq[Expression] = Seq(left)
  override protected def scalars: Seq[Expression] = Seq(right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val s = r.asInstanceOf[Double]
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = read(left, a, i) / s
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val tmp = ctx.freshName("tmp")
      s"""
         |int $n = $a.numElements();
         |double[] $tmp = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $tmp[$i] = (double)$a.${elemGetter(left)}($i) / $s;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($tmp);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Int8-style scalar quantization: round(aᵢ · s) half-away-from-zero →
  * array<int> (int, not tinyint, so the values survive a parquet
  * round-trip in every engine; the RANGE is still [-127, 127] when s is
  * 127 / vec_max_abs). Rounding is spelled floor(x+0.5)/ceil(x-0.5) —
  * half away from zero — matching both Spark's `round(x, 0)` (BigDecimal
  * HALF_UP) and DuckDB's `round` (std::round), which is what makes
  * quantized pipelines oracle-checkable cross-engine. NOTE:
  * `java.lang.Math.round` is half-UP (toward +∞ for negatives) and would
  * NOT match either engine. */
case class VecQuantize(left: Expression, right: Expression) extends BinaryExpression with VecKernel {
  override def prettyName: String = "vec_quantize"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def vectors: Seq[Expression] = Seq(left)
  override protected def scalars: Seq[Expression] = Seq(right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val s = r.asInstanceOf[Double]
    val n = a.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = read(left, a, i) * s
      out(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val tmp = ctx.freshName("tmp")
      s"""
         |int $n = $a.numElements();
         |int[] $tmp = new int[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double)$a.${elemGetter(left)}($i) * $s;
         |  $tmp[$i] = (int)($x >= 0 ? java.lang.Math.floor($x + 0.5) : java.lang.Math.ceil($x - 0.5));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($tmp);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass cosine similarity; 0.0 on zero-norm inputs (keeps top-k
  * orderings total instead of emitting NaN). */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryOp {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = read(left, a, i); val y = read(right, b, i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double)$a.${elemGetter(left)}($i);
         |  double $y = (double)$b.${elemGetter(right)}($i);
         |  $d += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $d / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² over the common prefix, accumulated left-to-right in
  * double — the squared-L2 distance for k-means assignment. The fold
  * order matches DuckDB's `list_sum(list_transform(...))` exactly, so
  * distances (and therefore cluster assignments) are cross-engine
  * bit-identical. */
case class VecDistSq(left: Expression, right: Expression) extends VecBinaryOp {
  override def prettyName: String = "vec_distsq"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = read(left, a, i) - read(right, b, i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double)$a.${elemGetter(left)}($i) - (double)$b.${elemGetter(right)}($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
