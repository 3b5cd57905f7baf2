package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryExpression, Coalesce, EvalMode, Expression, Literal, Multiply, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact, order-preserving fixed-width key of a short string, so a
  * string `min`/`max` becomes a long one: a long aggregate buffer is
  * mutable and plans as a HashAggregate, where a string buffer falls
  * back to SortAggregate (two sorts of the whole input).
  *
  * The key packs the first 7 UTF-8 bytes big-endian, zero-padded, above
  * a 3-bit byte length: key = (Σ b_i·2^(8·(6−i)))·8 + len, below 2^59.
  * Two strings of at most 7 bytes compare as their keys do (unsigned
  * byte order, a proper prefix first — Spark's and DuckDB's binary
  * string order), and [[decode]] inverts it. A longer string fails with
  * the bound named: no key would be exact for it. The top 4 bits of a
  * non-negative long stay free, so a count below 16 packs above a key
  * (`count << Bits | key`) into one long that still compares exactly. */
object OrderKey {
  val MaxBytes = 7
  val Bits = 59
  val Mask: Long = (1L << Bits) - 1

  def encode(s: UTF8String): Long = {
    val n = s.numBytes()
    if (n > MaxBytes) throw new IllegalArgumentException(
      s"order_key supports strings of <= $MaxBytes UTF-8 bytes, got $n")
    var k = 0L
    var i = 0
    while (i < MaxBytes) {
      k = (k << 8) | (if (i < n) s.getByte(i) & 0xffL else 0L)
      i += 1
    }
    (k << 3) | n
  }

  def decode(k: Long): UTF8String = {
    val n = (k & 7L).toInt
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      out(i) = ((k >>> (3 + 8 * (MaxBytes - 1 - i))) & 0xffL).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** string → its [[OrderKey]] long. */
case class OrderKeyOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"order_key expects STRING input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    OrderKey.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.OrderKey.encode($c);")

  override protected def withNewChildInternal(c: Expression): OrderKeyOf =
    copy(child = c)
}

/** [[OrderKey]] long → the string it encodes. */
case class StringOfOrderKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    OrderKey.decode(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.OrderKey.decode($c);")

  override protected def withNewChildInternal(c: Expression): StringOfOrderKey =
    copy(child = c)
}

/** Shared micro-share arithmetic (interpreted + codegen). */
object MicroShareImpl {
  private val Micro = java.math.BigInteger.valueOf(1000000L)

  /** floor(s·10⁶ / t) for 0 ≤ s ≤ t, t > 0: in long arithmetic while
    * s·10⁶ fits, else through a 128-bit hop — the exact result of the
    * DECIMAL(38,0) / HUGEINT step both engines' oracles take. */
  def of(s: Long, t: Long): Long =
    if (s <= Long.MaxValue / 1000000L) s * 1000000L / t
    else java.math.BigInteger.valueOf(s).multiply(Micro)
      .divide(java.math.BigInteger.valueOf(t)).longValue()
}

/** (s, t) → floor(s·10⁶ / t) (see [[MicroShareImpl.of]]), NULL when
  * t = 0: a posterior share in micro with the 0/0 sentinel, as one
  * compiled call instead of a DECIMAL(38,0) multiply and divide per
  * value. */
case class MicroShare(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType == LongType && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"micro_share expects (BIGINT, BIGINT), got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(s: Any, t: Any): Any = {
    val tl = t.asInstanceOf[Long]
    if (tl == 0L) null else MicroShareImpl.of(s.asInstanceOf[Long], tl)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, t) =>
      s"""if ($t == 0L) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.MicroShareImpl.of($s, $t); }""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MicroShare =
    copy(left = l, right = r)
}

/** Exact int64 product of a column's non-null values (1 for none): a
  * declarative aggregate over one long buffer, so it plans as a
  * HashAggregate and runs inside whole-stage codegen. The multiplies
  * are ANSI whatever the session mode: an overflow fails the query
  * instead of wrapping. */
case class LongProduct(child: Expression) extends DeclarativeAggregate
    with UnaryLike[Expression] {
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"long_product expects BIGINT input, got ${child.dataType.sql}")
  }

  private lazy val prod = AttributeReference("prod", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = prod :: Nil
  override lazy val initialValues: Seq[Expression] = Seq(Literal(1L))
  override lazy val updateExpressions: Seq[Expression] =
    Seq(Multiply(prod, Coalesce(Seq(child, Literal(1L))), EvalMode.ANSI))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(Multiply(prod.left, prod.right, EvalMode.ANSI))
  override lazy val evaluateExpression: Expression = prod

  override protected def withNewChildInternal(c: Expression): LongProduct =
    copy(child = c)
}

object LabelExprs {
  /** Column wrapper for [[OrderKeyOf]]. */
  def order_key(s: Column): Column =
    ColumnBridge.column(OrderKeyOf(ColumnBridge.expression(s)))

  /** Column wrapper for [[StringOfOrderKey]]. */
  def order_key_string(k: Column): Column =
    ColumnBridge.column(StringOfOrderKey(ColumnBridge.expression(k)))

  /** Column wrapper for [[MicroShare]]. */
  def micro_share(s: Column, t: Column): Column =
    ColumnBridge.column(MicroShare(ColumnBridge.expression(s), ColumnBridge.expression(t)))

  /** Column wrapper for the [[LongProduct]] aggregate. */
  def long_product(c: Column): Column =
    ColumnBridge.column(LongProduct(ColumnBridge.expression(c)).toAggregateExpression())
}
