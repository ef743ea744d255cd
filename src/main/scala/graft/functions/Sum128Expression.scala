package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, BinaryExpression, BitwiseAnd, EvalMode, Expression, If, IsNull, Literal, ShiftRight}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType}

/** Exact 128-bit integer sum of a `bigint` column, evaluated as
  * `DECIMAL(38, scale)` — the scalable replacement for wide-decimal power
  * sums (`SUM(CAST(x AS DECIMAL(20,4)) * CAST(y AS DECIMAL(17,4)))`).
  *
  * Spark backs any decimal of precision > 18 with `java.math.BigDecimal`,
  * so each row of a DECIMAL(38,8) product-sum allocates and carries
  * object arithmetic — measured at ~3× the cost of the equivalent
  * primitive sums (1.2 s vs 0.37 s over sf0.1 lineitem). A
  * plain `SUM(bigint)` is primitive but overflows at ~9.2e18, which
  * cents-scale products reach after ~10k rows.
  *
  * This aggregate keeps TWO Long limbs — `lo` holding the low 32 bits
  * (always 0 ≤ lo < 2^32) and `hi` the remaining signed high part — and
  * does the carry add with plain `+`/`&`/`>>`, all codegen-able Catalyst
  * primitives that CANNOT overflow before the 2^95 capacity bound:
  * per-row `lo + (x & 0xFFFFFFFF) ≤ 2^33`, and `hi` grows by at most
  * `2^31 + 1` per row. At capacity, ANSI `Add` raises instead of
  * wrapping — exactness never degrades silently. Capacity in rows is
  * `2^95 / max|x|`: for 8-decimal fixed-point products of money values
  * (|x| ≲ 5e14) that is ~7e13 rows, comfortably past a 100 TB lineitem.
  *
  * The input is an UNSCALED fixed-point value; `scale` only places the
  * decimal point in the result (`sum / 10^scale`, exact). The decomposed
  * signed invariant `sum = hi·2^32 + lo` holds for negative inputs too
  * (`x >> 32` sign-extends while `x & 0xFFFFFFFF` stays unsigned).
  *
  * Divergence from SQL SUM: an empty group evaluates to 0, not NULL
  * (aggregation here is always over non-empty groups).
  */
case class Sum128(
    child: Expression,
    scale: Int)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  require(scale >= 0 && scale <= 38, "scale must be in [0, 38]")

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = false
  override def prettyName: String = "sum128"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sum128 expects a bigint column, got ${child.dataType.sql}")

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L), Literal(0L))

  private val mask = Literal(0xFFFFFFFFL)
  private val thirtyTwo = Literal(32)

  override lazy val updateExpressions: Seq[Expression] = {
    val x = If(IsNull(child), Literal(0L), child) // SUM skips NULLs
    val t = Add(lo, BitwiseAnd(x, mask)) // ≤ 2^33, never overflows
    // hi-limb adds are EXPLICITLY ANSI: the 2^95-capacity guarantee is
    // "raise, never wrap", and a default Add inherits the session's
    // eval mode (silent wrap with ansi.enabled=false — the default)
    Seq(
      Add(Add(hi, ShiftRight(x, thirtyTwo), EvalMode.ANSI),
        ShiftRight(t, thirtyTwo), EvalMode.ANSI),
      BitwiseAnd(t, mask))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val t = Add(lo.left, lo.right) // both < 2^32
    Seq(
      Add(Add(hi.left, hi.right, EvalMode.ANSI),
        ShiftRight(t, thirtyTwo), EvalMode.ANSI),
      BitwiseAnd(t, mask))
  }

  override lazy val evaluateExpression: Expression =
    Int128ToDecimal(hi, lo, scale)

  override protected def withNewChildInternal(newChild: Expression): Sum128 =
    copy(child = newChild)
}

object Sum128 {
  /** Aggregate Column: exact `DECIMAL(38, scale)` sum of an unscaled
    * fixed-point bigint column.
    */
  def apply(c: Column, scale: Int): Column =
    GraftSqlBridge.column(
      Sum128(GraftSqlBridge.expression(c), scale).toAggregateExpression())
}

/** `(hi, lo) → Decimal(38, scale)` where the exact integer is
  * `hi·2^32 + lo` — one evaluation per group, via a static helper both
  * eval and generated code call.
  */
case class Int128ToDecimal(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = false
  override def prettyName: String = "int128_to_decimal"

  override def nullSafeEval(h: Any, l: Any): Any =
    Sum128Helper.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.functions.Sum128Helper.toDecimal($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128ToDecimal =
    copy(left = newLeft, right = newRight)
}

object Sum128Helper {
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(32)
      .add(java.math.BigInteger.valueOf(lo))
    Decimal(new java.math.BigDecimal(bi, scale), 38, scale)
  }
}
