package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `co_occur_pairs(products)` — the repeat-terminated co-occurrence window
  * (SURVEY.md §2 O4/O5) as a Catalyst `Generator` (UDTF), so the engine's
  * one custom operator is first-class in SQL:
  *
  * {{{ SELECT c.product, c.neighbor
  *     FROM baskets LATERAL VIEW co_occur_pairs(products) c }}}
  *
  * Exact semantics of reference `src/CrystalBallPair.java:42-63`: for each
  * position i, emit (products(i), products(j)) for j = i+1.. until
  * end-of-array or the first j with products(j) == products(i) (the repeat
  * closes the window; self-pairs never emitted; duplicate neighbors each
  * count). Same relation as CoOccurrence.windowPairs (property-tested).
  */
case class CoOccurGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("product", StringType, nullable = true),
    StructField("neighbor", StringType, nullable = true)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"co_occur_pairs requires array<string>, got ${child.dataType.catalogString}")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) Iterator.empty
    else {
      val n = arr.numElements()
      val items = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var x = 0
      while (x < n) {
        val u = arr.getUTF8String(x)
        items(x) = if (u == null) null else u.clone()
        x += 1
      }
      // lazy emission: a pathological w-wide basket must not buffer
      // O(w^2) rows — mirror windowPairs' streaming iterators
      (0 until n - 1).iterator.flatMap { i =>
        val cur = items(i)
        new Iterator[InternalRow] {
          private var j = i + 1
          def hasNext: Boolean = j < n && {
            val nb = items(j)
            !(cur == nb || (cur != null && cur.equals(nb)))
          }
          def next(): InternalRow = { val r = InternalRow(cur, items(j)); j += 1; r }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CoOccurFunctions {
  // weak keys: the guard must not pin sessions for the driver's lifetime
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Idempotently register `co_occur_pairs` for SQL use. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "co_occur_pairs", exprs => CoOccurGenerator(exprs.head), "scala_udf")
    }
  }
}
