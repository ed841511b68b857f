package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/**
 * The engine's order-independent float sum: the same type and the same
 * value, bit for bit, as Spark's `sum(cast(child AS decimal(28,10)))`
 * over a double `child`, without the string round trip. Every exact
 * Lloyd mean ([[graft.operators.Ivf.train]], `trainJoin`,
 * [[graft.operators.Pq.trainCodebooks]]), every ADC distance
 * (`Pq.adcRank`) and the BM25, entropy and nDCG scores sum through it;
 * the DuckDB oracles keep the cast-then-sum form, whose results this
 * reproduces exactly.
 *
 * Why an aggregate of its own: Spark casts a double to a decimal through
 * its printed digits (`Double.toString`, `BigDecimal`, then a half-up
 * rescale to 10 places) once per value, and keeps the sum as a
 * decimal(38,10) buffer whose every store goes through `BigInteger`.
 * In the ann benchmark workload that was over 40% of the executor CPU
 * samples (JFR). Here:
 *  - per value, the scaled value x·10¹⁰ = m·5¹⁰ / 2^s is computed from
 *    the double's mantissa m in 128-bit integer arithmetic
 *    ([[ExactDecimalSum.fastUnscaled]]). Spark rounds the PRINTED digits
 *    half-up, not the binary value, but the printed value lies within
 *    half an ulp of the binary one; so wherever the 10-place half-way
 *    point is more than one ulp away from x both round alike, and the
 *    kernel rounds the binary value. Every other input — near-ties,
 *    |x| ≥ 2^18, NaN, ±Inf — goes through Spark's own `Cast` expression,
 *    evaluated only for that row, so nulls, NaN and ±Inf, and the
 *    out-of-range null or ANSI error all stay Spark's;
 *  - per group, the unscaled sum is an exact 128-bit accumulator of two
 *    longs (decimal(38,10) needs 127 bits); the decimal is built once,
 *    by [[ExactDecimalSum.toDecimal]], when the group is evaluated.
 *
 * Semantics mirror Spark's `Sum` over decimals: a null input (or a null
 * cast) is skipped, a group with no non-null input is null, and a sum
 * that reaches 38 digits at any buffer store stays overflowed (the
 * buffer's `hi` is null) until evaluation, which returns null or, under
 * ANSI, throws Spark's own overflow error (`CheckOverflowInSum`). The
 * buffer is three fixed-width fields, so the hash aggregate keeps its
 * codegen'd fast map. ExactExprSpec pins the equality property.
 */
case class ExactDecimalSum(child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression] {
  import ExactDecimalSum._

  override def prettyName: String = "graft_exact_decimal_sum"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a double input, got ${child.dataType}")
  override def nullable: Boolean = true
  override def dataType: DataType = ResultType
  // plans show graft_exact_decimal_sum(x), as Spark's Sum shows sum(x)
  override def flatArguments: Iterator[Any] = Iterator(child)

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  // One half of the addend: the kernel's unscaled value where it applies,
  // else the same half of Spark's cast. Whole-stage codegen evaluates the
  // shared `fast` once per row; the cast sits in an `If` branch, so it
  // runs only on the rows that fall back.
  private lazy val fast = FastUnscaled(child)
  private lazy val cast = Cast(child, AddendType, None, evalMode)
  private def addend(high: Boolean): Expression =
    If(EqualTo(fast, Literal(Fallback)), UnscaledHalf(cast, high),
      if (high) ShiftRight(fast, Literal(63)) else fast)

  override lazy val updateExpressions: Seq[Expression] = {
    val (aHi, aLo) = (addend(high = true), addend(high = false))
    val skip = IsNull(aLo)
    Seq(If(skip, hi, Add128(hi, lo, aHi, aLo, high = true)),
      If(skip, lo, Add128(hi, lo, aHi, aLo, high = false)),
      And(isEmpty, skip))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add128(hi.left, lo.left, hi.right, lo.right, high = true),
    Add128(hi.left, lo.left, hi.right, lo.right, high = false),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, ResultType),
      CheckOverflowInSum(ToDecimal(hi, lo), ResultType,
        evalMode != EvalMode.ANSI, null))

  override protected def withNewChildInternal(
      newChild: Expression): ExactDecimalSum = copy(child = newChild)
}

object ExactDecimalSum {
  /** The per-value type of the sum it reproduces: decimal(28,10)... */
  val AddendType: DecimalType = DecimalType(28, 10)
  /** ...and Spark's sum type over it: decimal(38,10). */
  val ResultType: DecimalType = DecimalType(38, 10)

  /** [[fastUnscaled]]'s answer for a value that takes Spark's cast. */
  final val Fallback = Long.MinValue

  private final val Pow5 = 9765625L // 5^10: 10^10 = 5^10 · 2^10
  // 10^38 = BoundHi · 2^64 + BoundLo (BoundLo read unsigned)
  private final val BoundHi = 5421010862427522170L
  private final val BoundLo = 687399551400673280L
  private val Mask64 =
    java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)

  /** `sum(cast(c AS decimal(28,10)))` over a double column, exactly. */
  def of(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      ExactDecimalSum(org.apache.spark.sql.GraftBridge.expression(c))
        .toAggregateExpression())

  /**
   * The unscaled decimal(28,10) value Spark's cast gives `x`, or
   * [[Fallback]] when this cannot be decided from the binary value.
   *
   * x = m·2^(exp−1075), so x·10¹⁰ = m·5¹⁰ / 2^s with s = 1065 − exp. The
   * quotient n0 and the fraction f (its top 64 bits, f = 2^63 at the
   * half-way point) come from the 128-bit product m·5¹⁰. The printed
   * value Spark rounds lies within half an ulp of x, so when the
   * half-way point is more than one ulp (5¹⁰ / 2^s scaled) away from
   * x·10¹⁰, both round half-up to n0 or n0 + 1 alike.
   * |x| < 2^-35 rounds to 0 in both forms (the half-way point 5·10⁻¹¹ is
   * far outside the rounding interval); |x| ≥ 2^18 is left to the cast:
   * there one ulp (≥ 2^-34 ≈ 5.8·10⁻¹¹) exceeds 5·10⁻¹¹, the farthest
   * any value lies from a half-way point, so the margin test could never
   * pass.
   */
  def fastUnscaled(x: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(x)
    val exp = ((bits >>> 52) & 0x7ff).toInt
    if (exp < 988) 0L
    else if (exp > 1040) Fallback
    else {
      val m = (bits & 0xfffffffffffffL) | (1L << 52)
      val ph = Math.multiplyHigh(m, Pow5)
      val pl = m * Pow5
      val s = 1065 - exp // 25..77
      var n0 = 0L; var f = 0L; var margin = 0L
      if (s < 64) {
        n0 = (ph << (64 - s)) | (pl >>> s)
        f = pl << (64 - s)
        margin = Pow5 << (64 - s)
      } else {
        val u = s - 64
        n0 = ph >>> u
        f = if (u == 0) pl else (ph << (64 - u)) | (pl >>> u)
        margin = (Pow5 >>> u) + 1 // f is truncated: one more unit
      }
      val g = f ^ Long.MinValue // signed distance from the half-way point
      if (g > margin || g < -margin - 1) {
        val n = if (g >= 0) n0 + 1 else n0
        if (bits < 0) -n else n
      } else Fallback
    }
  }

  /** The high (sign-extended) or low 64 bits of a decimal(28,10)'s
    * unscaled value — the fallback path, one row at a time. */
  def unscaledHalf(d: Decimal, high: Boolean): Long = {
    val u = d.toJavaBigDecimal.unscaledValue
    if (high) u.shiftRight(64).longValue else u.longValue
  }

  /** High half of the 128-bit sum of (ah, al) and (bh, ·), given its low
    * half `l` = al + bl. */
  def sumHi(ah: Long, al: Long, bh: Long, l: Long): Long =
    ah + bh + (if (java.lang.Long.compareUnsigned(l, al) < 0) 1L else 0L)

  /** Whether the sum (h, l) of two terms whose high halves are `ah` and
    * `bh` has left decimal(38,·): the signed 128-bit addition wrapped, or
    * |(h, l)| ≥ 10³⁸. */
  def overflows(ah: Long, bh: Long, h: Long, l: Long): Boolean =
    ((ah ^ h) & (bh ^ h)) < 0 ||
      (if (h >= 0) h > BoundHi ||
        (h == BoundHi && java.lang.Long.compareUnsigned(l, BoundLo) >= 0)
      else h < -BoundHi - 1 ||
        (h == -BoundHi - 1 && java.lang.Long.compareUnsigned(l, -BoundLo) <= 0))

  /** The decimal(38,10) whose unscaled value is the 128-bit (h, l). */
  def toDecimal(h: Long, l: Long): Decimal = {
    val u = java.math.BigInteger.valueOf(h).shiftLeft(64)
      .or(java.math.BigInteger.valueOf(l).and(Mask64))
    Decimal(new java.math.BigDecimal(u, 10), 38, 10)
  }
}

/** [[ExactDecimalSum.fastUnscaled]] of a double column. */
private[functions] case class FastUnscaled(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any): Any =
    ExactDecimalSum.fastUnscaled(x.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      x => s"graft.functions.ExactDecimalSum.fastUnscaled($x)")
  override protected def withNewChildInternal(newChild: Expression): FastUnscaled =
    copy(child = newChild)
}

/** [[ExactDecimalSum.unscaledHalf]] of a decimal column. */
private[functions] case class UnscaledHalf(child: Expression, high: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(d: Any): Any =
    ExactDecimalSum.unscaledHalf(d.asInstanceOf[Decimal], high)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      d => s"graft.functions.ExactDecimalSum.unscaledHalf($d, $high)")
  override protected def withNewChildInternal(newChild: Expression): UnscaledHalf =
    copy(child = newChild)
}

/** One half of the 128-bit sum (hi, lo) + (addHi, addLo); null when an
  * input is null (an overflowed side) or the sum overflows. */
private[functions] case class Add128(hi: Expression, lo: Expression,
    addHi: Expression, addLo: Expression, high: Boolean)
    extends QuaternaryExpression {
  override def first: Expression = hi
  override def second: Expression = lo
  override def third: Expression = addHi
  override def fourth: Expression = addLo
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val (ah, al, bh) = (a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long])
    val l = al + d.asInstanceOf[Long]
    val h = ExactDecimalSum.sumHi(ah, al, bh, l)
    if (ExactDecimalSum.overflows(ah, bh, h, l)) null
    else if (high) h else l
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ah, al, bh, bl) => {
      val (h, l) = (ctx.freshName("h"), ctx.freshName("l"))
      val f = "graft.functions.ExactDecimalSum"
      s"""
         |long $l = $al + $bl;
         |long $h = $f.sumHi($ah, $al, $bh, $l);
         |if ($f.overflows($ah, $bh, $h, $l)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${if (high) h else l};
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Add128 =
    copy(hi = newFirst, lo = newSecond, addHi = newThird, addLo = newFourth)
}

/** [[ExactDecimalSum.toDecimal]] of the buffer's two halves. */
private[functions] case class ToDecimal(hi: Expression, lo: Expression)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = ExactDecimalSum.ResultType
  override def nullSafeEval(h: Any, l: Any): Any =
    ExactDecimalSum.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (h, l) => s"graft.functions.ExactDecimalSum.toDecimal($h, $l)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ToDecimal = copy(hi = newLeft, lo = newRight)
}
