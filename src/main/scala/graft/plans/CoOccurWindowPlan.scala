package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}

/** The reference's flagship operator (O4/O5: the repeat-terminated
  * co-occurrence window, `/root/reference/src/CrystalBallPair.java:42-63`)
  * as a WHOLE-OPERATOR Catalyst extension — the (c) rung of the custom-
  * operator ladder the engine's other extension points already cover
  * ((a) composition: `CoOccurrence.pairsSql`; (b) scalar/generator
  * functions: `DotProduct` Expression, `CoOccurGenerator` UDTF):
  *
  *  - [[CoOccurWindow]] — the logical node: declares the (product,
  *    neighbor) output relation over any child producing a single
  *    `array<string>` column. Catalyst treats it like any other unary
  *    node (column pruning above it, filters pushed below it by the
  *    optimizer's ordinary rules where legal).
  *  - [[CoOccurWindowStrategy]] — the planner strategy: one-to-one
  *    translation to the physical node (injected via
  *    `GraftExtensions.injectPlannerStrategy`, or per-session through
  *    `spark.experimental.extraStrategies` — the public pattern).
  *  - [[CoOccurWindowExec]] — the physical node: a partition-preserving
  *    `mapPartitions` over the child's `InternalRow`s, scanning
  *    each basket's `ArrayData` IN PLACE (`getUTF8String` — no
  *    deserialization to JVM objects) and emitting pairs through one
  *    reused `UnsafeProjection` — the Tungsten emission contract
  *    (downstream operators copy what they retain).
  *
  * It is the engine's one pair-count kernel: every co-occurrence count
  * ([[graft.operators.CoOccurrence.counts]], capped or not) runs on it.
  * Semantics are EXACTLY [[graft.operators.CoOccurrence.windowPairs]],
  * the pure reference model: for each position i, emit (arr(i), arr(j))
  * for i < j < min(n, i + 1 + maxWindow) until the first j with
  * arr(j) == arr(i) (the repeat terminates the window; the repeat itself
  * is not emitted). The bound is computed in long arithmetic, so a cap
  * near Int.MaxValue cannot wrap.
  */
case class CoOccurWindow(child: LogicalPlan, maxWindow: Int,
    // output attributes live in the CONSTRUCTOR, not a body val: Catalyst
    // copies nodes freely during optimization (withNewChildInternal →
    // copy), and a body val would mint fresh exprIds on every copy,
    // orphaning every downstream reference to product/neighbor
    output: Seq[Attribute] = CoOccurWindow.freshOutput())
    extends UnaryNode with MultiInstanceRelation {

  // the output attributes originate HERE (QueryPlan's reflection would
  // otherwise read the constructor Seq[Attribute] as references and
  // demand the child provide them)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  // the exec scans the child's (single) array column positionally, so the
  // node DOES consume it even though no Catalyst expression says so —
  // without this, ColumnPruning sees an expression-free node and prunes
  // the basket column to an empty Project (r17's stripe_lookup bench
  // failure: the count() action left the child aggregate with zero output
  // columns and doConsume's input.head threw)
  override def references: AttributeSet = child.outputSet

  // self-join re-instancing (r17's crystalball_totals analysis failure):
  // DeduplicateRelations renews any MultiInstanceRelation — leaf or not —
  // whose exprIds it has already seen, so a frame whose lineage contains
  // one shared CoOccurWindow node can sit on both sides of a join
  override def newInstance(): CoOccurWindow =
    copy(output = CoOccurWindow.freshOutput())

  override protected def withNewChildInternal(newChild: LogicalPlan): CoOccurWindow =
    copy(child = newChild)
}

object CoOccurWindow {

  /** Fresh (product, neighbor) attribute pair — one per NODE, not per
    * copy (see the constructor note). */
  private def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("product", StringType, nullable = false)(),
    AttributeReference("neighbor", StringType, nullable = false)())

  /** DataFrame-level entry: `df`'s single column must be
    * `array<string>` (the basket's ordered products). `maxWindow` caps
    * the forward scan per occurrence. Builds the logical node over the
    * analyzed child and installs the strategy in the session
    * (idempotent), so callers need no session pre-config.
    */
  def pairs(df: DataFrame, maxWindow: Int = Int.MaxValue): DataFrame = {
    // containsNull=true schemas are accepted (collect_list marks its
    // array nullable even over a non-null child), but null ELEMENTS are
    // a runtime fail-fast in the exec, never data: the output attributes
    // are declared nullable=false (downstream rules may fold
    // IsNotNull(product) to true on that basis), so projecting a null
    // element through would be a silent correctness leak — and the
    // in-place UTF8String scan would NPE on it undiagnosed first
    require(df.schema.length == 1 &&
      df.schema.head.dataType.isInstanceOf[ArrayType] &&
      df.schema.head.dataType.asInstanceOf[ArrayType]
        .elementType == StringType,
      s"CoOccurWindow.pairs expects one array<string> column, got ${df.schema}")
    val spark = df.sparkSession
    install(spark)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      CoOccurWindow(df.queryExecution.analyzed, maxWindow))
  }

  /** Per-session strategy install (the public `experimental` surface;
    * sessions built with `spark.sql.extensions=graft.GraftExtensions`
    * get it at build time instead). Idempotent.
    */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(CoOccurWindowStrategy))
      spark.experimental.extraStrategies =
        CoOccurWindowStrategy +: spark.experimental.extraStrategies
}

object CoOccurWindowStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: CoOccurWindow =>
      CoOccurWindowExec(w.output, w.maxWindow, planLater(w.child)) :: Nil
    case _ => Nil
  }
}

case class CoOccurWindowExec(output: Seq[Attribute], maxWindow: Int,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  // an uncapped window prints as it always has; a cap shows as an argument
  override protected def stringArgs: Iterator[Any] =
    if (maxWindow == Int.MaxValue) Iterator(output) else Iterator(output, maxWindow)

  // ---- whole-stage codegen (the last rung of the custom-operator
  // ladder): the i/j window scan is emitted INLINE between the child's
  // produced row and the parent's consume, so the flagship pipeline
  // scan → window-pairs → partial-aggregate fuses into ONE generated
  // stage — no iterator hand-off, no UnsafeProjection per pair (the
  // interpreted doExecute below stays as the codegen-off fallback and
  // the semantics oracle).

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  // one input row fans out to many output rows whose UTF8String values
  // point into the child's (reusable) array buffer — a buffering parent
  // must copy what it retains
  override def needCopyResult: Boolean = true

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val ev = input.head
    val arr = ctx.freshName("basket")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val bound = ctx.freshName("bound")
    val cur = ctx.freshName("product")
    val nb = ctx.freshName("neighbor")
    val utf8 = classOf[org.apache.spark.unsafe.types.UTF8String].getName
    val arrData = classOf[org.apache.spark.sql.catalyst.util.ArrayData].getName
    // the pair variables ARE the output columns: non-null by the
    // fail-fast contract (see doExecute), scoped to the inner loop where
    // the parent's consume code is inlined
    val outputVars = Seq(
      ExprCode(FalseLiteral, JavaCode.variable(cur, StringType)),
      ExprCode(FalseLiteral, JavaCode.variable(nb, StringType)))
    val nullElem = "CoOccurWindow: null basket element - the window scan " +
      "is defined over non-null products only; array_compact the basket " +
      "column first"
    // a NULL basket emits nothing (the lateral-explode convention, same
    // as the interpreted path); the repeat check is UTF8String.equals on
    // in-place array slices — zero allocation per comparison
    s"""
       |${ev.code}
       |if (!(${if (child.output.head.nullable) ev.isNull.code else "false"})) {
       |  $arrData $arr = ${ev.value};
       |  int $n = $arr.numElements();
       |  for (int $i = 0; $i + 1 < $n; $i++) {
       |    if ($arr.isNullAt($i)) throw new IllegalArgumentException("$nullElem");
       |    $utf8 $cur = $arr.getUTF8String($i);
       |    int $bound = (int) Math.min((long) $n, $i + 1L + ${maxWindow}L);
       |    for (int $j = $i + 1; $j < $bound; $j++) {
       |      if ($arr.isNullAt($j)) throw new IllegalArgumentException("$nullElem");
       |      $utf8 $nb = $arr.getUTF8String($j);
       |      if ($nb.equals($cur)) break;
       |      ${consume(ctx, outputVars)}
       |    }
       |  }
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    child.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(
        Array[DataType](StringType, StringType))
      val out = new GenericInternalRow(2)
      // a NULL basket (nullable child column) carries no pairs — skip it
      // rather than NPE on getArray (the lateral-explode convention); a
      // null ELEMENT is an executor-side fail-fast below, so the
      // nullable=false output attributes stay sound without silently
      // dropping data
      rows.filter(!_.isNullAt(0)).flatMap { row =>
        // scan the ArrayData in place; valid for the full drain of this
        // row's pairs (the parent iterator only advances afterwards)
        val arr = row.getArray(0)
        val n = arr.numElements()
        (0 until n - 1).iterator.flatMap { i =>
          val cur = arr.getUTF8String(i)
          if (cur == null) throw new IllegalArgumentException(
            "CoOccurWindow: null basket element at position " + i +
              " — the window scan is defined over non-null products only;" +
              " array_compact the basket column first")
          val bound = math.min(n.toLong, i + 1L + maxWindow).toInt
          new Iterator[InternalRow] {
            private var j = i + 1
            def hasNext: Boolean = j < bound && {
              val nb = arr.getUTF8String(j)
              if (nb == null) throw new IllegalArgumentException(
                "CoOccurWindow: null basket element at position " + j +
                  " — the window scan is defined over non-null products" +
                  " only; array_compact the basket column first")
              nb != cur
            }
            def next(): InternalRow = {
              out.update(0, cur)
              out.update(1, arr.getUTF8String(j))
              j += 1
              proj(out)
            }
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CoOccurWindowExec =
    copy(child = newChild)
}
