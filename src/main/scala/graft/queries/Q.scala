package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.catalyst.expressions.{EvalMode, IntegralDivide, Literal, Remainder}
import org.apache.spark.sql.types.DecimalType

/** Query registry shared by SparkEntry / Verify / Bench.
  *
  * Every operator claimed in SURVEY.md §2 gets a [[Q.Def]]: a named
  * DataFrame query plus (when SQL-expressible) a DuckDB oracle that must
  * hash-match. Conventions for bit-exact oracle parity:
  *   - money doubles are 2-decimal: sum via DECIMAL cast, then CAST AS
  *     DOUBLE (deterministic in both engines; avoids fp reorder drift);
  *   - averages computed as exact-decimal-sum / count;
  *   - timestamps never output raw — formatted as 'yyyy-MM-dd …' strings;
  *   - every query ends in a deterministic ORDER BY (unique tie-break).
  */
object Q {
  type Fn = (SparkSession, String) => DataFrame

  final case class Def(name: String, fn: Fn, oracle: Option[String] = None)

  /** Exact 2-decimal money cast (fixture money columns are 2-dec). */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Small-fraction cast for discount/tax (0.00–0.10). */
  def frac2(c: Column): Column = c.cast(DecimalType(4, 2))

  // -------------------------------------------------------------------
  // r17 (optimization guide §1.2 "per-task work"): exact decimal money
  // sums computed on unscaled LONGS. `sum(dec2(x))` keeps a >18-digit
  // decimal buffer, so every row pays a BigDecimal allocation in the
  // partial aggregate (measured +0.13 s per decimal sum over 590k rows
  // vs a long sum at sf0.1). The same exact rational is obtained by
  // summing the decimal's unscaled long and rescaling ONCE per group:
  //   sum(dec2(x)) = Σ unscaled(dec2(x)) / 10²  (exactly)
  // The decimal CAST itself is kept (its double→decimal rounding is the
  // semantic); only multiply/accumulate move to long arithmetic, which
  // is also exact: unscaled(a·b) = unscaled(a)·unscaled(b) for decimal
  // multiplication (result scale s₁+s₂, never truncated at ≤38 digits).
  //
  // Overflow headroom (the reason for the hi/lo split): a scale-6
  // charge term is < 2·10¹¹ per row, so a single long partial sum
  // overflows around 5·10⁷ rows per group — fine at bench scale, not at
  // 100 TB. Splitting u into (u div 10⁶, u mod 10⁶) keeps BOTH partial
  // sums long-safe to ~10¹² rows per group (hi ≤ 2·10⁵/row, |lo| <
  // 10⁶), and Σu = 10⁶·Σhi + Σlo reassembles exactly (Java division
  // identity, sign-correct) in decimal(38) once per group. Under the
  // session's ANSI mode an overflow beyond even that headroom fails
  // loudly instead of wrapping.
  // -------------------------------------------------------------------

  private val SplitM = 1000000L

  /** Unscaled long of `c.cast(decimal(p,s))` (null iff the cast is) —
    * the fast-path [[graft.functions.UnscaledDec]] kernel (exact-decimal
    * doubles skip the cast's per-value BigDecimal/toString round trip;
    * everything else takes Spark's own Decimal slow path).
    */
  def uDec(c: Column, p: Int, s: Int): Column =
    Bridge.column(graft.functions.UnscaledDec(Bridge.expression(c), p, s))

  /** uDec for the 2-dec money convention (pairs with [[dec2]]). */
  def u2(c: Column): Column = uDec(c, 12, 2)

  /** uDec for the discount/tax convention (pairs with [[frac2]]). */
  def uf2(c: Column): Column = uDec(c, 4, 2)

  /** Unscaled (scale-4) revenue term: pairs with
    * `dec2(price) * (1 - frac2(disc))`.
    */
  def uRev(price: Column, disc: Column): Column =
    u2(price) * (lit(100L) - uf2(disc))

  /** `== sum(u).cast(decimal).cast(double)` at `scale`, overflow-split:
    * two long partial sums reassembled per group. Bit-identical to the
    * decimal-sum formulation (same exact rational, same decimal→double
    * conversion), NULL-transparent the same way (sum skips nulls; an
    * all-null group yields NULL).
    */
  def sumUnscaledDbl(u: Column, scale: Int): Column = {
    val ue = Bridge.expression(u)
    val hi = Bridge.column(
      IntegralDivide(ue, Literal(SplitM), EvalMode.LEGACY))
    val lo = Bridge.column(Remainder(ue, Literal(SplitM), EvalMode.LEGACY))
    val total = sum(hi).cast(DecimalType(38, 0)) * lit(SplitM) + sum(lo)
    (total / lit(math.pow(10, scale).toLong).cast(DecimalType(7, 0)))
      .cast("double")
  }
}

trait QueryGroup {
  def defs: Seq[Q.Def]

  /** Fixture table `n` of the data dir (memoised by [[graft.GraftSession.table]]). */
  protected def t(s: SparkSession, dir: String, n: String): DataFrame =
    graft.GraftSession.table(s, dir, n)
}
