package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The exact-sum policy. An unordered double sum differs between Spark
  * and DuckDB (and between two Spark runs) in the last ulp, so every
  * cross-row sum of a double is taken over integers: quantize (scale by
  * one of the four [[Scale]]s and round; Spark `round` is HALF_UP, ties
  * away from zero, while `math.round` in [[Scale.of]] sends ties toward
  * +∞), accumulate in a `long` or in [[Dec]], dequantize
  * (cast to double, divide by the scale). Each site keeps its own
  * scale, integer type and order of operations on the way back; the
  * helpers only name the steps, so a site builds the `Column` it built
  * by hand.
  *
  * Overflow: a quantized term is exact in a long while |x|·scale < 2⁶³
  * ≈ 9.22e18, i.e. |x| < 9.22e6 at [[Pico]] (the bound
  * `Performance.MaxAbsReturn` raises on) and |x| < 9.22e12 at [[Micro]];
  * past it a non-ANSI cast clamps silently. Sums that several
  * near-bound terms could wrap accumulate in [[Dec]] (38 digits).
  *
  * `ExactSpec` fails the build if another `src/main` file outside the
  * DuckDB oracle tables names the accumulator type or quantizes by a
  * policy scale inside `round(`. */
object Exact {

  /** The one accumulator type for exact sums. */
  val Dec: DecimalType = DecimalType(38, 0)

  /** One fixed-point scale: `unit` integer steps per 1.0. */
  final class Scale private[Exact] (val unit: Long) {
    val factor: Double = unit.toDouble

    /** quantize, still a double: `round(x · factor)`. */
    def apply(x: Column): Column = round(x * factor)
    def long(x: Column): Column = apply(x).cast(LongType)
    def dec(x: Column): Column = apply(x).cast(Dec)

    /** quantize a ratio, scaling the numerator first: `round(a · factor / n)`. */
    def ratio(a: Column, n: Column): Column = round(a.cast(DoubleType) * factor / n)

    /** quantize a reciprocal: `round(factor / d)`. */
    def inv(d: Column): Column = round(lit(factor) / d)

    /** dequantize: `s / factor` as a double. */
    def back(s: Column): Column = s.cast(DoubleType) / factor

    /** dequantize a mean rounded to the quantum: `round(s / n) / factor`. */
    def mean(s: Column, n: Column): Column = round(s.cast(DoubleType) / n) / factor

    /** quantize a plain Scala double: `math.round(x · factor)`. */
    def of(x: Double): Long = math.round(x * factor)
  }

  val Basis = new Scale(10000L)
  val Micro = new Scale(1000000L)
  val Nano = new Scale(1000000000L)
  val Pico = new Scale(1000000000000L)

  /** accumulate: `sum(c)` in [[Dec]]. */
  def decSum(c: Column): Column = sum(c.cast(Dec))
}
