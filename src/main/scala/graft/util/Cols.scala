package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-safe numeric helpers.
  *
  * The driver hash-compares our parquet output against DuckDB. Double
  * summation order differs between engines (ulp drift), so money math is
  * done in exact decimal space and converted to double once at the end —
  * the nearest-double conversion of the same exact decimal is bit-identical
  * in both engines.
  */
object Cols {
  val Money: DecimalType = DecimalType(18, 2)

  /** Exact decimal view of a 2-decimal money double. */
  def dec2(c: Column): Column = c.cast(Money)

  /** sum(x) computed exactly in decimal, emitted as double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** x * (1 - y) in exact decimal space (TPC-H disc_price shape). */
  def discPrice(price: Column, discount: Column): Column =
    (dec2(price) * (lit(1).cast(Money) - dec2(discount))).cast("double")

  val Money4: DecimalType = DecimalType(18, 4)

  /** Exact decimal view of a 4-decimal double (e.g. price*discount). */
  def dec4(c: Column): Column = c.cast(Money4)

  /** round(n/d, 2) HALF_UP computed deterministically: `num100` is the
    * numerator pre-scaled by 100 (integral), `den` integral. All steps are
    * IEEE-exact for |num100| < 2^52, so Spark and DuckDB agree bitwise —
    * unlike round(double,2), whose half-way detection differs per engine.
    * floor((2n+d)/(2d)) == floor(n/d + 1/2) for positive d. */
  def roundRatio2(num100: Column, den: Column): Column =
    floor((num100 * 2 + den) / (den * 2)) / 100.0

  /** bround(n/d, 2) HALF_EVEN, same exact-integer technique:
    * q=floor(n/d); tie (2r==d) rounds to even via q + q%2. */
  def broundRatio2(num100: Column, den: Column): Column = {
    val q = floor(num100 / den)
    val r2 = (num100 - q * den) * 2
    (when(r2 > den, q + 1).when(r2 < den, q).otherwise(q + q % 2)) / 100.0
  }

  /** Exact floor(num/den) via the positive-mod subtraction — correct on
    * long AND decimal columns, negative numerators included (plain
    * integer division truncates toward zero and disagrees with DuckDB's
    * // on the negative half). The numerator is forced into DECIMAL(38,0)
    * FIRST: Spark's Divide casts two integral operands to double, which
    * is exact only below 2^53 — decimal division is exact while the
    * QUOTIENT fits 32 digits (Spark's precision-loss rule keeps 6
    * fractional digits on a capped decimal divide, leaving 10³² integer
    * headroom — far above every ppm/milli chain here; past it the
    * division NULLs rather than wraps). Precondition: den > 0 (or the
    * caller guards den ≤ 0 — m20's degenerate-class CASE is the model;
    * an unguarded 0 is a silent Spark NULL vs a DuckDB raise).
    * The numerator is floor()ed BEFORE the decimal cast (ADVICE r10):
    * every current caller passes an integral num, where floor is the
    * identity — but the bare cast rounds a fractional double HALF-UP,
    * so a future fractional caller would silently get round-half-up
    * semantics instead of a true floor division. Callers cast the
    * result width. */
  def floorDiv(num: Column, den: Column): Column = {
    val n = floor(num).cast(DecimalType(38, 0))
    (n - pmod(n, den)) / den
  }

  /** Exact parts-per-million floor num·10⁶/den with the scale-up in
    * DECIMAL BEFORE the multiply (a long·long product wraps first at
    * ~10¹²-row aggregates — the m13 headroom lesson); den ≤ 0 pins 0. */
  def ppm(num: Column, den: Column): Column =
    when(den > 0,
      floorDiv(num.cast(DecimalType(38, 0)) * 1000000L, den).cast("long"))
      .otherwise(lit(0L))

  /** DuckDB spellings of the two helpers (kept adjacent so they never
    * drift from the Spark forms above). */
  def roundRatio2Sql(num100: String, den: String): String =
    s"floor(($num100 * 2 + $den) / ($den * 2)) / 100.0"

  def broundRatio2Sql(num100: String, den: String): String = {
    val q = s"floor($num100 / $den)"
    val r2 = s"(($num100) - $q * ($den)) * 2"
    s"(CASE WHEN $r2 > ($den) THEN $q + 1 WHEN $r2 < ($den) THEN $q ELSE $q + ($q % 2) END) / 100.0"
  }
}
