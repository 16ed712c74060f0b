package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The line under construction and the probability memo of one line
  * expression instance.
  *
  * Bytes are appended to one growable buffer and copied out once per line.
  * A probability is printed by `java.lang.Double.toString` — the formatter
  * behind `cast(double AS STRING)`, so the text is the cast's text — and
  * its bytes are kept in a direct-mapped table keyed by the double's raw
  * bits: a hit copies the stored bytes, a miss (empty slot, or another
  * value in it) prints and overwrites. Probabilities are ratios of small
  * counts, so a reference output repeats few distinct values and most
  * lines print none.
  *
  * Not thread-safe: each task runs on its own deserialized copy of the
  * expression that owns this.
  */
private[functions] final class LineWriter {
  import LineWriter._

  private var buf = new Array[Byte](256)
  private var len = 0
  private val keys = new Array[Long](Slots)
  private val texts = new Array[Array[Byte]](Slots)

  def begin(): this.type = { len = 0; this }

  def bytes(b: Array[Byte]): this.type = {
    ensure(b.length)
    System.arraycopy(b, 0, buf, len, b.length)
    len += b.length
    this
  }

  def utf8(u: UTF8String): this.type = {
    val n = u.numBytes()
    ensure(n)
    u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
    len += n
    this
  }

  def prob(d: Double): this.type = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val slot = ((bits * 0x9E3779B97F4A7C15L) >>> (64 - SlotBits)).toInt
    var text = texts(slot)
    if (text == null || keys(slot) != bits) {
      text = java.lang.Double.toString(d).getBytes(US_ASCII)
      keys(slot) = bits
      texts(slot) = text
    }
    bytes(text)
  }

  def line(): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))

  private def ensure(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
}

private[functions] object LineWriter {
  private val SlotBits = 12
  private val Slots = 1 << SlotBits

  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)
}

/** `pair_line(product, neighbor, prob)` → `[product, neighbor]\tprob`, the
  * reference Pairs line (SURVEY.md §2 O15), written in one pass over the
  * row: the ids' UTF-8 bytes as they sit in the row, the probability
  * through the [[LineWriter]] memo. Takes string ids and a double
  * probability; a null input gives a null line.
  *
  * Interpreted (`CodegenFallback`): the memo lives in this instance, and
  * each task deserializes its own copy of it.
  */
case class PairLine(product: Expression, neighbor: Expression, prob: Expression)
    extends TernaryExpression with CodegenFallback {
  import PairLine._

  override def first: Expression = product
  override def second: Expression = neighbor
  override def third: Expression = prob
  override def prettyName: String = "pair_line"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (product.dataType, neighbor.dataType, prob.dataType) match {
      case (_: StringType, _: StringType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (p, n, q) => TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
        s"(string, string, double), got (${p.catalogString}, " +
        s"${n.catalogString}, ${q.catalogString})")
    }

  @transient private lazy val out = new LineWriter

  override protected def nullSafeEval(p: Any, n: Any, q: Any): Any =
    out.begin().bytes(Open).utf8(p.asInstanceOf[UTF8String])
      .bytes(Comma).utf8(n.asInstanceOf[UTF8String])
      .bytes(CloseTab).prob(q.asInstanceOf[Double]).line()

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PairLine =
    copy(newFirst, newSecond, newThird)
}

object PairLine {
  private val Open = LineWriter.ascii("[")
  private val Comma = LineWriter.ascii(", ")
  private val CloseTab = LineWriter.ascii("]\t")
}

/** `stripe_line(product, stripe)` → `product\t{(b, p), (b2, p2), }`, the
  * reference Stripes/Hybrid line (SURVEY.md §2 O15, trailing `", }"`
  * included), over a stripe of `struct<neighbor: string, prob: double>`
  * read in place from its `ArrayData`, for a string product. A null
  * product or stripe gives a null line; a null
  * entry, or an entry with a null field, is skipped, as `array_join`
  * skips it; an empty stripe gives `product\t{}`.
  *
  * Interpreted (`CodegenFallback`): the memo lives in this instance, and
  * each task deserializes its own copy of it.
  */
case class StripeLine(product: Expression, stripe: Expression)
    extends BinaryExpression with CodegenFallback {
  import StripeLine._

  override def left: Expression = product
  override def right: Expression = stripe
  override def prettyName: String = "stripe_line"
  override def dataType: DataType = StringType

  private def entryType = stripe.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = {
    def fieldIs(s: StructType, name: String, want: DataType => Boolean) =
      s.fields.exists(f => f.name == name && want(f.dataType))
    (product.dataType, stripe.dataType) match {
      case (_: StringType, ArrayType(s: StructType, _))
          if fieldIs(s, "neighbor", _.isInstanceOf[StringType]) &&
            fieldIs(s, "prob", _ == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (p, s) => TypeCheckResult.TypeCheckFailure(s"$prettyName requires " +
        s"(string, array<struct<neighbor: string, prob: double>>), got " +
        s"(${p.catalogString}, ${s.catalogString})")
    }
  }

  @transient private lazy val out = new LineWriter
  @transient private lazy val width = entryType.length
  @transient private lazy val neighborAt = entryType.fieldIndex("neighbor")
  @transient private lazy val probAt = entryType.fieldIndex("prob")

  override protected def nullSafeEval(p: Any, s: Any): Any = {
    val entries = s.asInstanceOf[ArrayData]
    out.begin().utf8(p.asInstanceOf[UTF8String]).bytes(OpenStripe)
    var i = 0
    while (i < entries.numElements()) {
      if (!entries.isNullAt(i)) {
        val e = entries.getStruct(i, width)
        if (!e.isNullAt(neighborAt) && !e.isNullAt(probAt))
          out.bytes(OpenEntry).utf8(e.getUTF8String(neighborAt))
            .bytes(Comma).prob(e.getDouble(probAt)).bytes(CloseEntry)
      }
      i += 1
    }
    out.bytes(CloseStripe).line()
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): StripeLine =
    copy(newLeft, newRight)
}

object StripeLine {
  private val OpenStripe = LineWriter.ascii("\t{")
  private val OpenEntry = LineWriter.ascii("(")
  private val Comma = LineWriter.ascii(", ")
  private val CloseEntry = LineWriter.ascii("), ")
  private val CloseStripe = LineWriter.ascii("}")
}
