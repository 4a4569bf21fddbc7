package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Index of the nearest centroid (squared euclidean, 0-based) of a
  * numeric array column against a TRAINED centroid matrix — one native
  * codegen'd argmin loop whose generated code is CONSTANT-SIZE in the
  * number of centroids (the matrix lives in the references array, not
  * in the generated source).
  *
  * Why an Expression and not the unrolled/HOF column forms
  * (r15 — the ivfTopKRp join probe): the composed forms depend on the
  * OPTIMIZER keeping the argmin's input staged. Under a join,
  * ColumnPruning re-synthesizes the pruned projection with the input
  * expression INLINED into the argmin — and the loop form is a
  * higher-order `transform`, which evaluates INTERPRETED, re-computing
  * the inlined input once PER CENTROID ELEMENT (measured: the 16-dot
  * JL projection inlined into a 3,200-centroid argmin turned a 0.9 s
  * assignment into a 29 s join stage — nlist×dOut extra dots per
  * row). An Expression evaluates its child exactly once by
  * construction, in every plan position, and its codegen is one fused
  * loop.
  *
  * Arithmetic is BIT-IDENTICAL to the unrolled/loop column forms
  * (LlmSpec pins all three cell-for-cell): per centroid c,
  * score = dot(vec, c) · (−2) + Σc², dot accumulated left-to-right in
  * double over the shorter length ([[DotProduct]]'s rule), Σc² a
  * driver-side left fold; the argmin keeps the FIRST minimum
  * (`<` — NaN scores are never less, matching array_min's
  * NaN-greatest ordering). A NULL vector yields NULL; a null ELEMENT
  * within the compared range poisons every score in the unrolled form
  * (null dot → null score → null array_min) and yields NULL here
  * too.
  *
  * INTENTIONAL divergence on all-NaN scores (a NaN element in the
  * input vector makes every centroid's score NaN): this expression
  * returns NULL — there is no nearest centroid — while the column
  * form's `array_position(s, array_min(s))` returns cell 0 under
  * Spark's NaN-equals/NaN-greatest semantics (array_min of an
  * all-NaN array is NaN, and array_position finds it at slot 1).
  * "Assigned to cell 0" is an arbitrary artifact of NaN ordering,
  * not a meaningful assignment, so NULL is the deliberate contract;
  * the LlmSpec cell-for-cell equality pin therefore covers NaN-free
  * inputs only (the trained-embedding corpora it runs on). */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "centroid matrix is empty")
  require(centroids.forall(_.length == centroids.head.length),
    "centroid rows must share one dimension")

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if Seq(FloatType, DoubleType, IntegerType,
        LongType, ShortType).contains(t) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(_: DecimalType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a numeric array input, got ${other.sql}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"
  // nullable even over a non-null array column: element nulls poison
  // the scores (the unrolled form's null-dot contract)
  override def nullable: Boolean = true

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val c2s: Array[Double] =
    centroids.map(_.map(x => x * x).sum).toArray

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case ShortType => a.getShort(i).toDouble
    case d: DecimalType => a.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val t = elemType
    val n = math.min(a.numElements(), cents.head.length)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    val vec = new Array[Double](n)
    i = 0
    while (i < n) { vec(i) = get(a, t, i); i += 1 }
    var best = Double.NaN
    var bestIdx = -1
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += vec(k) * c(k); k += 1 }
      val score = acc * -2.0 + c2s(j)
      // first minimum; NaN is never `<`, matching array_min's
      // NaN-greatest ordering
      if (bestIdx < 0 && !java.lang.Double.isNaN(score)) {
        best = score; bestIdx = j
      } else if (score < best) { best = score; bestIdx = j }
      j += 1
    }
    if (bestIdx < 0) null else bestIdx
  }

  private def genGet(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case ShortType => s"(double) $arr.getShort($i)"
    case d: DecimalType =>
      s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
    case other => throw new IllegalStateException(s"unexpected $other")
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("cents", cents,
        "double[][]")
      val c2Ref = ctx.addReferenceObj("c2s", c2s, "double[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val vec = ctx.freshName("vec")
      val acc = ctx.freshName("acc")
      val score = ctx.freshName("score")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      val c = ctx.freshName("c")
      val poisoned = ctx.freshName("poisoned")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $centsRef[0].length);
         |boolean $poisoned = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) { $poisoned = true; break; }
         |}
         |if ($poisoned) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $vec = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $vec[$i] = ${genGet(elemType, v, i)};
         |  }
         |  double $best = Double.NaN;
         |  int $bestIdx = -1;
         |  for (int $j = 0; $j < $centsRef.length; $j++) {
         |    double[] $c = $centsRef[$j];
         |    double $acc = 0.0;
         |    for (int $k = 0; $k < $n; $k++) {
         |      $acc += $vec[$k] * $c[$k];
         |    }
         |    double $score = $acc * -2.0 + $c2Ref[$j];
         |    if ($bestIdx < 0 && !Double.isNaN($score)) {
         |      $best = $score; $bestIdx = $j;
         |    } else if ($score < $best) {
         |      $best = $score; $bestIdx = $j;
         |    }
         |  }
         |  if ($bestIdx < 0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $bestIdx; }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroid = copy(child = newChild)
}

object NearestCentroid {
  /** Column-level entry point. */
  def apply(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftColumnBridge.column(NearestCentroid(
      GraftColumnBridge.expression(vec),
      centroids.map(_.toSeq).toSeq))
}
