package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared shape of the engine's codegen'd element-fold expressions over two
  * array<double> columns (`dot_d`, `l2sq_d`).
  *
  * The engine's custom-`Expression` extension point (SURVEY.md §7): the
  * built-in formulation `aggregate(zip_with(a, b, term), 0d, _+_)` is a
  * HigherOrderFunction — interpreted per element, no codegen — and was the
  * bench hot spot (~90 s for the 4M-pair brute-force ANN at sf0.1). These
  * expressions emit a tight codegen'd loop with the SAME left-to-right
  * IEEE summation order, AND the same null semantics as that fold:
  * mismatched lengths or a null element yield NULL (zip_with pads the
  * shorter array with nulls, the term goes null, the running sum goes
  * null) — which is what makes [[graft.optimizer.RewriteVectorFolds]]'s
  * automatic fold→native rewrite an identity on every input, not just the
  * engine's fixed-width never-null vectors.
  */
abstract class BinaryVectorFold extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // null even on non-null inputs (length mismatch / null element) — the
  // default left.nullable || right.nullable would let the planner assume
  // non-null results from non-null columns
  override def nullable: Boolean = true

  /** Per-element contribution, driver-side twin of [[termCode]]. */
  protected def term(x: Double, y: Double): Double
  /** Java source for the per-element contribution over `x` and `y`. */
  protected def termCode(x: String, y: String): String

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        // getDouble on non-double array data would silently misread bytes
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<double> arguments, got ${l.catalogString} and ${r.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += term(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${termCode(s"$a.getDouble($i)", s"$b.getDouble($i)")};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}

/** dot_d(a, b): sequential-fold dot product of two array<double> columns. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryVectorFold {
  override def prettyName: String = "dot_d"
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** l2sq_d(a, b): sequential-fold squared L2 distance Σ(aᵢ−bᵢ)² — the PQ
  * codebook/encode hot loop's fold, same IEEE order.
  */
case class L2SqDistance(left: Expression, right: Expression)
    extends BinaryVectorFold {
  override def prettyName: String = "l2sq_d"
  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** sorted_intersect_n(a, b): |A ∩ B| of two array<string> columns whose
  * arrays are SORTED ASCENDING WITH DISTINCT ELEMENTS (the engine's
  * `array_sort(array_distinct(...))` token-set contract) — a codegen'd
  * two-pointer merge, zero allocation per row.
  *
  * r18 optimization (guide §"expressions and codegen"): the built-in
  * `size(array_intersect(a, b))` builds an OpenHashSet and boxes every
  * element PER ROW — measured 8.2 s for setsim_join's 1.7M verify rows at
  * sf0.1 vs 0.3 s for the surrounding joins. On the sorted-distinct inputs
  * the merge count is exactly `size(array_intersect(a, b))` (intersect
  * returns left's distinct elements present in right; distinct inputs make
  * that |A∩B|); UTF8String.compare is the same binary ordering array_sort
  * used, so the merge never misses. Null ARRAY → null (the BinaryExpression
  * contract); a null ELEMENT would break the ordering contract silently, so
  * it fails fast instead.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "sorted_intersect_n"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<string> arguments, got ${l.catalogString} and ${r.catalogString}")
    }
  }

  private def nullElem(): Nothing = throw new IllegalArgumentException(
    "sorted_intersect_n: null array element — the merge contract requires " +
      "array_sort(array_distinct(...)) inputs with non-null elements")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < n && j < m) {
      if (x.isNullAt(i) || y.isNullAt(j)) nullElem()
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { acc += 1L; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val err = "sorted_intersect_n: null array element - the merge " +
        "contract requires array_sort(array_distinct(...)) inputs with " +
        "non-null elements"
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |long $acc = 0L;
         |while ($i < $n && $j < $m) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j))
         |    throw new IllegalArgumentException("$err");
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $acc++; $i++; $j++; }
         |  else if ($c < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object VectorFunctions {
  // weak keys: the guard must not pin sessions for the driver's lifetime
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Idempotently register the engine's custom expressions with the
    * session's FunctionRegistry (usable from SQL and via call_function)
    * and install [[graft.optimizer.RewriteVectorFolds]] through the
    * public `experimental.extraOptimizations` hook — sessions built with
    * [[graft.GraftExtensions]] get both at build time instead.
    */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "dot_d", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "l2sq_d", exprs => L2SqDistance(exprs(0), exprs(1)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "sorted_intersect_n",
        exprs => SortedIntersectSize(exprs(0), exprs(1)), "scala_udf")
      if (!spark.experimental.extraOptimizations
          .contains(graft.optimizer.RewriteVectorFolds)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.optimizer.RewriteVectorFolds
      }
    }
  }

  /** Column API for [[DotProduct]]. Requires register(spark) first. */
  def dotD(a: Column, b: Column): Column = call_function("dot_d", a, b)

  /** Column API for [[L2SqDistance]]. Requires register(spark) first. */
  def l2sqD(a: Column, b: Column): Column = call_function("l2sq_d", a, b)

  /** Column API for [[SortedIntersectSize]]. Requires register(spark) first. */
  def sortedIntersectN(a: Column, b: Column): Column =
    call_function("sorted_intersect_n", a, b)
}
