package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryExpression, Expression, If, IsNotNull, IsNull, Literal, Or, ShiftRight}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.GraftColumns
import org.apache.spark.sql.types._

import java.math.{BigInteger, BigDecimal => JBigDecimal}

/** Exact fixed-point SUM: `SUM(CAST(term AS DECIMAL(18, s)))` without a
  * BigDecimal per row.
  *
  * Spark's own form pays twice per row: the double → decimal `Cast`
  * formats the double (`Double.toString`) and parses it back as a
  * BigDecimal, and the DECIMAL(28, s) sum buffer is too wide for a long,
  * so every update reads, adds and writes back a BigDecimal. Here each
  * row becomes the unscaled long of the same cast ([[DecimalUnscaled]]),
  * added into a 128-bit two's-complement accumulator held in two long
  * buffer slots; only the final per-group value becomes a `Decimal`.
  * The aggregate is declarative, so it runs inside whole-stage codegen
  * with a fixed-width hash-map buffer.
  *
  * Result: DECIMAL(38, s), null for an empty or all-null group (as
  * `sum`). It is exact, so order-independent; a total outside
  * DECIMAL(38, s) throws ARITHMETIC_OVERFLOW, and a NaN or ±Inf term
  * throws [[NonFiniteTermException]] (the ANSI cast makes such a term
  * null, which `sum` would silently skip). (The 128-bit accumulator
  * itself cannot wrap first: each term is below 10¹⁸, so that would need
  * more than 10²⁰ rows.)
  */
object ExactSum {

  /** `SUM(CAST(term AS DECIMAL(18, scale)))` as DECIMAL(38, scale). */
  def apply(term: Column, scale: Int): Column = {
    val unscaled = DecimalUnscaled(
      GraftColumns.expression(term),
      GraftColumns.expression(term.cast(DecimalType(18, scale))))
    GraftColumns.column(ExactDecimalSum(unscaled, scale).toAggregateExpression())
  }

  /** The check behind a floating term the cast made null. */
  def requireFinite(term: Double): Unit =
    if (term.isNaN || term.isInfinite) throw new NonFiniteTermException(term)

  /** |y| bound of the fast path: a double y = x·10ˢ below 2⁴⁰ is within
    * 2⁻¹² of the decimal the cast rounds (see [[DecimalUnscaled]]). */
  val FastLimit: Double = 1099511627776.0 // 2^40

  /** Fast path only where y's fraction is farther than this from ½. */
  val TieGuard: Double = 1.0 / 1024 // 2^-10

  private val Max38 = BigInteger.TEN.pow(38)
  private val Low64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  /** The 128-bit two's-complement value (hi, lo) as DECIMAL(38, scale). */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal =
    if (hi == (lo >> 63)) Decimal(lo, 38, scale)
    else {
      val unscaled = BigInteger.valueOf(hi).shiftLeft(64).or(BigInteger.valueOf(lo).and(Low64))
      if (unscaled.abs.compareTo(Max38) >= 0)
        throw GraftColumns.decimalSumOverflow()
      Decimal(new JBigDecimal(unscaled, scale), 38, scale)
    }
}

/** A NaN or ±Inf term of [[ExactSum]]: it has no DECIMAL value, and
  * skipping it (what `sum` over the ANSI cast's null does) would report
  * the sum of the other terms as the group's total. */
final class NonFiniteTermException(term: Double) extends ArithmeticException(
  s"graft_exact_sum: term $term has no DECIMAL value; filter or replace NaN and ±Infinity terms first")

/** Unscaled long of `exact` = CAST(child AS DECIMAL(18, s)), with a
  * guarded fast path for a DOUBLE child.
  *
  * The cast rounds (HALF_UP) the double's shortest decimal form R to s
  * places. Let y = fl(x·10ˢ). If |y| < 2⁴⁰, y is within 2⁻¹³ of x·10ˢ
  * (one rounding of a product below 2⁴⁰), and x·10ˢ within 2⁻¹³ of R·10ˢ
  * (R rounds back to x, so |R − x| ≤ ulp(x)/2). So when y's fraction is
  * more than 2⁻¹⁰ away from ½, R·10ˢ rounds to the same integer as y and
  * `Math.round(y)` is the cast's unscaled value. Every other row (ties
  * and near-ties, |y| ≥ 2⁴⁰, NaN, ±Inf, non-double children) evaluates
  * Spark's own cast, so its value, its null and its ANSI error are the
  * cast's — except that a floating term the cast makes null (NaN, ±Inf)
  * throws [[NonFiniteTermException]].
  */
case class DecimalUnscaled(child: Expression, exact: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child, exact)
  override def dataType: DataType = LongType
  override def nullable: Boolean = exact.nullable
  override def prettyName: String = "graft_decimal_unscaled"

  private lazy val fast: Boolean = child.dataType == DoubleType
  private lazy val floating: Boolean = fast || child.dataType == FloatType
  private lazy val pow10: Double =
    java.lang.Double.parseDouble("1e" + exact.dataType.asInstanceOf[DecimalType].scale)

  override def eval(input: InternalRow): Any = {
    if (fast) {
      val v = child.eval(input)
      if (v == null) return null
      val y = v.asInstanceOf[Double] * pow10
      val f = y - math.floor(y)
      if (math.abs(y) < ExactSum.FastLimit && math.abs(f - 0.5) > ExactSum.TieGuard)
        return math.round(y)
    }
    val d = exact.eval(input)
    if (d != null) return d.asInstanceOf[Decimal].toUnscaledLong
    if (floating) child.eval(input) match {
      case v: java.lang.Number => ExactSum.requireFinite(v.doubleValue)
      case _ =>
    }
    null
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // own null flag: `ev.isNull` is the literal `false` when not nullable
    val isNull = JavaCode.isNullVariable(ctx.freshName("isNull"))
    val e = exact.genCode(ctx)
    // the cast's null for a non-null floating term: NaN or ±Inf
    // one static call, so the generated method grows by a few bytes only
    def nonFinite(v: String) = s"graft.functions.ExactSum.requireFinite((double) $v);"
    def slow(check: Block) =
      code"""
         |${e.code}
         |$isNull = ${e.isNull};
         |if (!$isNull) { ${ev.value} = ${e.value}.toUnscaledLong(); } else { $check }
       """.stripMargin
    val body = if (!fast) {
      val check = if (!floating) EmptyBlock else {
        val c = child.genCode(ctx)
        code"${c.code}\nif (!${c.isNull}) { ${nonFinite(c.value.toString)} }"
      }
      code"boolean $isNull = true; long ${ev.value} = 0L; ${slow(check)}"
    } else {
      val x = child.genCode(ctx)
      val y = ctx.freshName("y")
      val f = ctx.freshName("f")
      code"""
         |${x.code}
         |boolean $isNull = ${x.isNull};
         |long ${ev.value} = 0L;
         |if (!$isNull) {
         |  double $y = ${x.value} * ${pow10}D;
         |  double $f = $y - java.lang.Math.floor($y);
         |  if (java.lang.Math.abs($y) < ${ExactSum.FastLimit}D
         |      && java.lang.Math.abs($f - 0.5D) > ${ExactSum.TieGuard}D) {
         |    ${ev.value} = java.lang.Math.round($y);
         |  } else {
         |    ${slow(code"${nonFinite(x.value.toString)}")}
         |  }
         |}
       """.stripMargin
    }
    ev.copy(code = body, isNull = isNull)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): DecimalUnscaled =
    copy(child = newChildren(0), exact = newChildren(1))
}

/** One 64-bit half of the wrapping 128-bit sum (aHi, aLo) + (bHi, bLo):
  * the low half is aLo + bLo, the high half aHi + bHi plus the low
  * half's unsigned carry. Children are read as non-null longs. */
case class Int128Add(aHi: Expression, aLo: Expression, bHi: Expression, bLo: Expression, high: Boolean)
    extends Expression {

  override def children: Seq[Expression] = Seq(aHi, aLo, bHi, bLo)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = if (high) "graft_int128_add_hi" else "graft_int128_add_lo"

  override def eval(input: InternalRow): Any = {
    val al = aLo.eval(input).asInstanceOf[Long]
    val lo = al + bLo.eval(input).asInstanceOf[Long]
    if (!high) lo
    else aHi.eval(input).asInstanceOf[Long] + bHi.eval(input).asInstanceOf[Long] +
      (if (java.lang.Long.compareUnsigned(lo, al) < 0) 1L else 0L)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val al = aLo.genCode(ctx)
    val bl = bLo.genCode(ctx)
    if (!high) {
      ev.copy(code = code"${al.code}\n${bl.code}\nlong ${ev.value} = ${al.value} + ${bl.value};",
        isNull = FalseLiteral)
    } else {
      val ah = aHi.genCode(ctx)
      val bh = bHi.genCode(ctx)
      val lo = ctx.freshName("lo")
      ev.copy(code =
        code"""
           |${al.code}
           |${bl.code}
           |${ah.code}
           |${bh.code}
           |long $lo = ${al.value} + ${bl.value};
           |long ${ev.value} = ${ah.value} + ${bh.value}
           |  + (java.lang.Long.compareUnsigned($lo, ${al.value}) < 0 ? 1L : 0L);
         """.stripMargin,
        isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Int128Add =
    copy(aHi = newChildren(0), aLo = newChildren(1), bHi = newChildren(2), bLo = newChildren(3))
}

/** The 128-bit value (hi, lo) as DECIMAL(38, scale); throws outside it. */
case class Int128ToDecimal(left: Expression, right: Expression, scale: Int) extends BinaryExpression {
  override def dataType: DataType = DecimalType(38, scale)
  override def prettyName: String = "graft_int128_to_decimal"

  override def nullSafeEval(hi: Any, lo: Any): Any =
    ExactSum.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long], scale)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hi, lo) => s"graft.functions.ExactSum.toDecimal($hi, $lo, $scale)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Int128ToDecimal =
    copy(left = newLeft, right = newRight)
}

/** The aggregate behind [[ExactSum]]: `child` is a nullable long
  * (a [[DecimalUnscaled]]); buffer (hi, lo, seen). */
case class ExactDecimalSum(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "graft_exact_sum"
  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, scale)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val signHi = ShiftRight(child, Literal(63))
    Seq(
      If(IsNull(child), hi, Int128Add(hi, lo, signHi, child, high = true)),
      If(IsNull(child), lo, Int128Add(hi, lo, signHi, child, high = false)),
      Or(seen, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Int128Add(hi.left, lo.left, hi.right, lo.right, high = true),
    Int128Add(hi.left, lo.left, hi.right, lo.right, high = false),
    Or(seen.left, seen.right))

  override lazy val evaluateExpression: Expression =
    If(seen, Int128ToDecimal(hi, lo, scale), Literal.create(null, dataType))

  override protected def withNewChildInternal(newChild: Expression): ExactDecimalSum =
    copy(child = newChild)
}
