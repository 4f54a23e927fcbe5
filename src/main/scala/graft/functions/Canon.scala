package graft.functions

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C-style `%g` float canonicalization.
  *
  * The reference dictionary-encodes float cell values through Python's
  * `"{0:g}".format(v)` before the lookup (`/root/reference/csvs_to_sqlite/
  * utils.py:196-200`), so `7.0` is stored as `"7"`. Python's `g` is
  * C-printf `%g`: 6 significant digits, trailing zeros stripped,
  * scientific notation when the decimal exponent is < -4 or >= 6, with a
  * signed two-digit exponent (`1e+06`, `1.5e-05`).
  *
  * Java's `String.format("%g")` does NOT strip trailing zeros, so this is
  * a hand-rolled implementation. It matches DuckDB's `printf('%g', x)`
  * (fmt library, C semantics), which is what the oracle uses.
  */
object Canon {

  def gFormat(v: Double): String = {
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0" else "0"
    val neg = v < 0
    val abs = math.abs(v)
    // Round to 6 significant digits, decimal-exact.
    val bd = new JBigDecimal(abs).round(new MathContext(6, RoundingMode.HALF_EVEN))
    // Decimal exponent of the rounded value: position of leading digit.
    val unscaled = bd.unscaledValue.toString
    val exp = unscaled.length - 1 - bd.scale
    val digits = unscaled.reverse.dropWhile(_ == '0').reverse match {
      case "" => "0"
      case s  => s
    }
    val sign = if (neg) "-" else ""
    if (exp < -4 || exp >= 6) {
      val mant =
        if (digits.length == 1) digits
        else digits.substring(0, 1) + "." + digits.substring(1)
      val esign = if (exp < 0) "-" else "+"
      sign + mant + "e" + esign + f"${math.abs(exp)}%02d"
    } else if (exp >= 0) {
      val intPart =
        if (digits.length > exp + 1) digits.substring(0, exp + 1)
        else digits + "0" * (exp + 1 - digits.length)
      val fracPart = if (digits.length > exp + 1) digits.substring(exp + 1) else ""
      sign + intPart + (if (fracPart.nonEmpty) "." + fracPart else "")
    } else {
      sign + "0." + ("0" * (-exp - 1)) + digits
    }
  }

  /** Canonicalize a column to the string form the reference stores in a
    * lookup table: floats via %g, everything else via plain string cast.
    * NULL passes through (`utils.py:193-194`). The %g path is a native
    * codegen expression ([[graft.expressions.GFormat]]) — it runs per
    * fact CELL during encode, so it must not be a UDF.
    */
  def canonicalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      graft.expressions.GFormat.g_format(c.cast(DoubleType))
    case _ => c.cast(StringType)
  }
}
