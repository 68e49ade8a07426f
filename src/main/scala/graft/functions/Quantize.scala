package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic decimal quantization for float outputs.
  *
  * `round(x, n)` is implementation-defined at half boundaries: Spark rounds
  * via exact BigDecimal HALF_UP on the double's binary expansion while other
  * engines (incl. the DuckDB oracle) round via double multiplication — the
  * same double can round in opposite directions. We instead quantize with an
  * explicit `floor(x * 10^n + 0.5) / 10^n`: every step is a plain IEEE-754
  * double op, so any engine computing the same input double produces the
  * same output double, bit for bit. The oracle SQL uses the identical
  * formula (see OracleSql fragments).
  */
object Quantize {

  /** floor(x·10^scale + 0.5) / 10^scale, as plain IEEE double arithmetic. */
  def r(c: Column, scale: Int = 6): Column = {
    val p = math.pow(10.0, scale)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** [[r]] over one JVM double, the same IEEE op sequence (Spark's `floor`
    * yields a BIGINT, so NaN quantizes to 0.0 on both sides).
    */
  def value(x: Double, scale: Int = 6): Double = {
    val p = math.pow(10.0, scale)
    math.floor(x * p + 0.5).toLong / p
  }

  /** The integer quantum of [[r]]: floor(x·10^scale + 0.5) as BIGINT.
    *
    * This is the scale-safe form of the ordered-fold discipline: once a
    * value is an exact integer, plain SUM aggregates are
    * associative-commutative-EXACT, so moment sums (Σx, Σx², Σxy) are
    * order-independent and hash-stable cross-engine with no per-group
    * arrays and no ordered fold at all. Applying [[i]] to a value already
    * quantized by [[r]] recovers the same integer exactly (the recovery
    * error is ≤ a few ulps, far below the 0.5 slack in the floor).
    */
  def i(c: Column, scale: Int = 6): Column = {
    val p = math.pow(10.0, scale)
    floor(c * lit(p) + lit(0.5)).cast("long")
  }

  /** SQL-side twin of [[r]] for oracle fragments. */
  def sql(inner: String, scale: Int = 6): String = {
    val p = s"1e$scale"
    s"floor(($inner) * $p + 0.5) / $p"
  }
}
