package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact sum of `CAST(x AS DECIMAL(30,6))` on a 128-bit integer of micros:
  * the same DECIMAL(38,6) value `sum(CAST(x AS DECIMAL(30,6)))` returns,
  * NULLs, NaN/±Inf, out-of-range rows and overflow included, under both
  * ANSI settings.
  *
  * Why not `Sum`: its DECIMAL(38,6) buffer is read and written through
  * `BigDecimal` on every row, and the cast before it goes through
  * `Double.toString`. Here a double row with |x| < 2²³ whose `x·10⁶` is
  * clear of a rounding tie becomes its micros in double arithmetic (see
  * [[DsumKernel]]), every other row goes through Spark's own cast, and
  * the running sum is two longs.
  *
  * Buffer: `hi` (nullable) and `lo`, the high and low words of the sum in
  * micros. A NULL `hi` means the group has seen no non-NULL row (the
  * result is NULL, as `Sum`'s is for an empty group). `hi` =
  * `Long.MinValue` marks a sum that once passed DECIMAL(38,6): sticky, and
  * reported as a grouped `Sum` reports it (NULL with ANSI off,
  * ARITHMETIC_OVERFLOW with ANSI on). An ungrouped `Sum` checks the range
  * only at the end, so a running sum that passes the range and comes back
  * is not an overflow there; here it always is. The buffer is 16 bytes
  * against `Sum`'s 32 (a DECIMAL(38,6) slot plus its `isEmpty` flag), and
  * it is what the partial aggregate shuffles.
  */
case class DsumAgg(child: Expression, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | NullType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dsum expects a numeric argument, got ${other.simpleString}")
  }

  override def dataType: DataType = DsumKernel.Result
  override def nullable: Boolean = true

  private lazy val hi = AttributeReference("dsum_hi", LongType)()
  private lazy val lo = AttributeReference("dsum_lo", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, LongType), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    DsumUpdate(hi, lo, child, ansi, high = true),
    DsumUpdate(hi, lo, child, ansi, high = false))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    DsumMerge(hi.left, lo.left, hi.right, lo.right, high = true),
    DsumMerge(hi.left, lo.left, hi.right, lo.right, high = false))

  override lazy val evaluateExpression: Expression =
    If(IsNull(hi), Literal.create(null, DsumKernel.Result),
      CheckOverflowInSum(DsumValue(hi, lo), DsumKernel.Result,
        nullOnOverflow = !ansi, null))

  override protected def withNewChildInternal(newChild: Expression): DsumAgg =
    copy(child = newChild)

  override def prettyName: String = "graft_dsum"

  override def flatArguments: Iterator[Any] = Iterator(child)
}

/** The arithmetic of [[DsumAgg]], shared by its interpreted and generated
  * paths.
  *
  * Fast path, exact: `CAST(x AS DECIMAL(30,6))` is HALF_UP at 6 dp of
  * `Double.toString(x)`'s decimal value s. For |x| < 2²³, |s − x|·10⁶ ≤
  * ulp(x)/2·10⁶ ≤ 9.3·10⁻⁴, and `x * 1e6` (< 2⁴³) rounds by at most
  * ulp/2 ≤ 9.8·10⁻⁴, so y = fl(x·10⁶) is within 1.91·10⁻³ of s·10⁶. When
  * frac(y) is more than [[Window]] = 5·10⁻³ from ½, s·10⁶ lies on the same
  * side of the tie as y, and the micros are floor(y) or floor(y) + 1
  * whatever the rounding mode. Every other double (ties, |x| ≥ 2²³,
  * NaN, ±Inf) and every non-double row takes Spark's cast.
  */
object DsumKernel {
  val Result: DecimalType = DecimalType(38, 6)
  val Target: DecimalType = DecimalType(30, 6)

  /** Doubles with |x| below this take the fast path. */
  private val FastBound: Double = 8388608.0 // 2^23
  /** Half-width of the band around frac = ½ that takes the cast path. */
  private val Window: Double = 5e-3

  /** `hi` of a sum that passed DECIMAL(38,6). */
  val Overflow: Long = Long.MinValue

  // 10^38 - 1 and -(10^38 - 1) as (hi, lo) words
  private val maxDec = java.math.BigInteger.TEN.pow(38).subtract(java.math.BigInteger.ONE)
  private val MaxHi: Long = maxDec.shiftRight(64).longValue
  private val MaxLo: Long = maxDec.longValue
  private val MinHi: Long = maxDec.negate.shiftRight(64).longValue
  private val MinLo: Long = maxDec.negate.longValue

  /** The micros of `x` if the fast path decides them, else `Long.MinValue`
    * (never a fast-path result: those are below 2⁴⁴ in magnitude).
    */
  def fastMicros(x: Double): Long =
    if (!(Math.abs(x) < FastBound)) Long.MinValue
    else {
      val y = x * 1e6
      val f = Math.floor(y)
      val r = y - f
      if (r < 0.5 - Window) f.toLong
      else if (r > 0.5 + Window) f.toLong + 1
      else Long.MinValue
    }

  /** True when (hi, lo) lies outside ±(10³⁸ − 1). */
  private def outOfRange(hi: Long, lo: Long): Boolean =
    hi > MaxHi || (hi == MaxHi && java.lang.Long.compareUnsigned(lo, MaxLo) > 0) ||
      hi < MinHi || (hi == MinHi && java.lang.Long.compareUnsigned(lo, MinLo) < 0)

  /** (aHi, aLo) + (bHi, bLo): word `high` of the sum, or [[Overflow]]. */
  def add(aHi: Long, aLo: Long, bHi: Long, bLo: Long, high: Boolean): Long =
    if (aHi == Overflow || bHi == Overflow) Overflow
    else {
      val l = aLo + bLo
      val h = aHi + bHi + (if (java.lang.Long.compareUnsigned(l, aLo) < 0) 1 else 0)
      if (!high) l else if (outOfRange(h, l)) Overflow else h
    }

  def hiOf(d: Decimal): Long = d.toJavaBigDecimal.unscaledValue.shiftRight(64).longValue
  def loOf(d: Decimal): Long = d.toJavaBigDecimal.unscaledValue.longValue

  def toDecimal(hi: Long, lo: Long): Decimal =
    if (hi == (lo >> 63)) Decimal(lo, Result.precision, Result.scale)
    else Decimal(new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo))),
      Result.scale), Result.precision, Result.scale)
}

/** An input the surrounding code has already evaluated, so the cast path
  * can reuse Spark's `Cast` codegen without evaluating the input twice.
  * Lives only while one piece of code is generated.
  */
private case class Evaluated(value: String, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException("Evaluated is codegen-only")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode(FalseLiteral, JavaCode.variable(value, dataType))
}

/** Word `high` (or low) of buffer + the row's micros. A NULL row, or one
  * Spark's cast turns into NULL, leaves the buffer as it is.
  */
case class DsumUpdate(hi: Expression, lo: Expression, child: Expression,
                      ansi: Boolean, high: Boolean) extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = high

  private def evalMode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
  private lazy val cast = Cast(child, DsumKernel.Target, None, evalMode)

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input)
    val l = lo.eval(input).asInstanceOf[Long]
    val keep = if (high) h else l
    val x = child.eval(input)
    if (x == null) return keep
    var mHi = 0L
    var mLo = Long.MinValue
    if (child.dataType == DoubleType) {
      mLo = DsumKernel.fastMicros(x.asInstanceOf[Double])
      mHi = mLo >> 63
    }
    if (mLo == Long.MinValue) {
      val d = cast.eval(input).asInstanceOf[Decimal]
      if (d == null) return keep
      mHi = DsumKernel.hiOf(d)
      mLo = DsumKernel.loOf(d)
    }
    val oldHi = if (h == null) 0L else h.asInstanceOf[Long]
    DsumKernel.add(oldHi, l, mHi, mLo, high)
  }

  /** Java that sets `mHi`/`mLo` to the micros of the already evaluated
    * non-null input `in`, or `mNull` when Spark's cast makes it NULL.
    */
  private def genMicros(ctx: CodegenContext, in: ExprCode,
                        mHi: String, mLo: String, mNull: String): String = {
    val cast = Cast(Evaluated(in.value.toString, child.dataType), DsumKernel.Target,
      None, evalMode).genCode(ctx)
    val slow =
      s"""
         |${cast.code}
         |if (${cast.isNull}) {
         |  $mNull = true;
         |} else {
         |  $mHi = graft.plans.DsumKernel.hiOf(${cast.value});
         |  $mLo = graft.plans.DsumKernel.loOf(${cast.value});
         |}
       """.stripMargin
    if (child.dataType != DoubleType) slow
    else
      s"""
         |$mLo = graft.plans.DsumKernel.fastMicros(${in.value});
         |if ($mLo != Long.MIN_VALUE) {
         |  $mHi = $mLo >> 63;
         |} else {
         |  $slow
         |}
       """.stripMargin
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx)
    val l = lo.genCode(ctx)
    val x = child.genCode(ctx)
    val mHi = ctx.freshName("mHi")
    val mLo = ctx.freshName("mLo")
    val mNull = ctx.freshName("mNull")
    val keep = if (high) s"${ev.isNull} = ${h.isNull}; ${ev.value} = ${h.value};"
               else s"${ev.value} = ${l.value};"
    val micros = genMicros(ctx, x, mHi, mLo, mNull)
    ev.copy(code =
      code"""
         |${h.code}
         |${l.code}
         |${x.code}
         |boolean ${ev.isNull} = false;
         |long ${ev.value} = -1L;
         |if (${x.isNull}) {
         |  $keep
         |} else {
         |  long $mHi = 0L;
         |  long $mLo = 0L;
         |  boolean $mNull = false;
         |  $micros
         |  if ($mNull) {
         |    $keep
         |  } else {
         |    ${ev.value} = graft.plans.DsumKernel.add(
         |      ${h.isNull} ? 0L : ${h.value}, ${l.value}, $mHi, $mLo, $high);
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): DsumUpdate =
    copy(hi = c(0), lo = c(1), child = c(2))
}

/** Word `high` (or low) of two partial buffers added; a NULL `hi` on
  * either side is an empty partial.
  */
case class DsumMerge(hiL: Expression, loL: Expression, hiR: Expression,
                     loR: Expression, high: Boolean) extends Expression {
  override def children: Seq[Expression] = Seq(hiL, loL, hiR, loR)
  override def dataType: DataType = LongType
  override def nullable: Boolean = high

  override def eval(input: InternalRow): Any = {
    val hl = hiL.eval(input)
    val ll = loL.eval(input).asInstanceOf[Long]
    val hr = hiR.eval(input)
    val lr = loR.eval(input).asInstanceOf[Long]
    if (hr == null) { if (high) hl else ll }
    else if (hl == null) { if (high) hr else lr }
    else DsumKernel.add(hl.asInstanceOf[Long], ll, hr.asInstanceOf[Long], lr, high)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(hl, ll, hr, lr) = children.map(_.genCode(ctx))
    def take(h: ExprCode, l: ExprCode): String =
      if (high) s"${ev.isNull} = ${h.isNull}; ${ev.value} = ${h.value};"
      else s"${ev.value} = ${l.value};"
    ev.copy(code =
      code"""
         |${hl.code}
         |${ll.code}
         |${hr.code}
         |${lr.code}
         |boolean ${ev.isNull} = false;
         |long ${ev.value} = -1L;
         |if (${hr.isNull}) {
         |  ${take(hl, ll)}
         |} else if (${hl.isNull}) {
         |  ${take(hr, lr)}
         |} else {
         |  ${ev.value} = graft.plans.DsumKernel.add(
         |    ${hl.value}, ${ll.value}, ${hr.value}, ${lr.value}, $high);
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): DsumMerge =
    copy(hiL = c(0), loL = c(1), hiR = c(2), loR = c(3))
}

/** The DECIMAL(38,6) a non-empty buffer holds; NULL once it overflowed. */
case class DsumValue(hi: Expression, lo: Expression)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DsumKernel.Result
  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any = {
    val hv = h.asInstanceOf[Long]
    if (hv == DsumKernel.Overflow) null
    else DsumKernel.toDecimal(hv, l.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""
         |if ($h == Long.MIN_VALUE) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.DsumKernel.toDecimal($h, $l);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DsumValue =
    copy(hi = newLeft, lo = newRight)
}
