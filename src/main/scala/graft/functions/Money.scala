package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Abs, And, Cast, Concat, CreateMap, Divide,
  EqualTo, EvalMode, Expression, If, IsNaN, LessThan, Literal, MakeDecimal, Multiply, Or,
  RaiseError, Rint, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType, LongType,
  StringType}

/** Exact money arithmetic: amounts become DECIMAL(18,4) before they are
  * summed, so totals are exact and independent of partition merge order
  * (SURVEY.md §7.4 trap 8) — a double sum's low bits would depend on it.
  *
  * [[decimal4]] is `cast(c as decimal(18,4))`, value for value, with ANSI on
  * or off, except for the non-finite amounts below. Spark compiles that
  * cast of a DOUBLE or FLOAT into
  * `Decimal(BigDecimal.valueOf(d))`: one `Double.toString` and one
  * `BigDecimal` per row. [[decimal4]] first tries primitive arithmetic:
  * `r = rint(d·10⁴)`; when `|d| < 2³⁸` and `r / 10⁴ == d` it emits the
  * decimal with unscaled value `r`, and every other row (NaN, ±Inf, large
  * values, more than four decimals) takes Spark's own cast.
  *
  * Why the fast path is exact: Spark's value is the decimal string of
  * `Double.toString(d)`, which parses back to `d`, so it lies within
  * ½ulp(d) of `d`. `r / 10⁴ == d` in IEEE division means the exact
  * quotient `r/10⁴` rounds to `d`, so it lies within ½ulp(d) of `d` too.
  * The two differ by at most ulp(d) ≤ 2⁻¹⁵ for `|d| < 2³⁸`, which is less
  * than half a step of scale 4 (0.5·10⁻⁴); HALF_UP rounding of Spark's
  * value to scale 4 therefore lands on `r`. `|r| < 2.8·10¹⁵` fits
  * precision 18, so neither path can overflow where the other does not.
  *
  * Non-finite amounts: Spark's cast turns NaN and ±Inf into NULL even with
  * ANSI on, so a sum would silently leave those rows out. With ANSI on
  * (the cast's eval mode) [[decimal4]] raises instead: a
  * `SparkRuntimeException` with condition `USER_RAISED_EXCEPTION` and the
  * message `Money: non-finite amount <value> has no DECIMAL(18,4) value`.
  * With ANSI off they stay NULL, as the cast has them. The check sits in
  * the fallback branch only; the fast path's test is already false for
  * NaN and ±Inf.
  */
object Money {
  private val Type = DecimalType(18, 4)

  /** `c.cast("decimal(18,4)")`, computed without `Double.toString` for the
    * doubles and floats that have at most four decimals; with ANSI on, a
    * NaN or ±Inf raises instead of the cast's NULL. Alias it when it
    * stands alone in a select: its generated name is the cast's SQL, where
    * a bare cast of a column keeps the column's name. */
  private[graft] def decimal4(c: Column): Column =
    GraftBridge.column(ExactDecimal4(GraftBridge.expression(c.cast(Type))))

  /** Exact sum: Spark's decimal `Sum` over [[decimal4]], so the result is
    * `decimal(28,4)` with Spark's own overflow behaviour. */
  def sum(c: Column): Column = functions.sum(decimal4(c))
}

/** `child` is the cast to DECIMAL(18,4) that this node stands for; it is
  * the replacement itself for every input type but DOUBLE and FLOAT, and
  * the fallback branch for those. The node names itself after the cast,
  * so generated column names do not change.
  */
private[graft] final case class ExactDecimal4(child: Expression)
    extends UnaryExpression with RuntimeReplaceable {

  // 2^38: below it ulp(d) <= 2^-15 < 0.5e-4 (see Money).
  private val Limit = Literal(274877906944.0)
  private val Scale = Literal(10000.0)

  override def replacement: Expression = child match {
    case c: Cast if c.child.resolved &&
        (c.child.dataType == DoubleType || c.child.dataType == FloatType) =>
      // FLOAT widens to DOUBLE exactly, which is what Spark's cast does too
      val d = if (c.child.dataType == FloatType) Cast(c.child, DoubleType) else c.child
      val r = Rint(Multiply(d, Scale))
      val fallback =
        if (c.evalMode != EvalMode.ANSI) c
        else {
          val message = Concat(Seq(Literal("Money: non-finite amount "),
            Cast(d, StringType), Literal(" has no DECIMAL(18,4) value")))
          If(Or(IsNaN(d), EqualTo(Abs(d), Literal(Double.PositiveInfinity))),
            RaiseError(Literal("USER_RAISED_EXCEPTION"),
              CreateMap(Seq(Literal("errorMessage"), message)), c.dataType),
            c)
        }
      If(And(LessThan(Abs(d), Limit), EqualTo(Divide(r, Scale), d)),
        MakeDecimal(Cast(r, LongType, None, EvalMode.LEGACY), 18, 4, nullOnOverflow = false),
        fallback)
    case _ => child
  }

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def sql: String = child.sql

  override protected def withNewChildInternal(newChild: Expression): ExactDecimal4 =
    copy(child = newChild)
}
