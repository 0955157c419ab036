package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers — rules D1–D5 from SURVEY.md §2.
  *
  * Cross-engine hash-matching against DuckDB requires:
  *  - D1: total ORDER BY over a unique key in every declared query
  *        (callers' responsibility; helpers here don't order).
  *  - D2: never emit raw nanosecond timestamps (see [[Tables.events]]).
  *  - D3: double aggregation via exact decimal addition —
  *        `SUM(CAST(x AS DECIMAL(18,4)))` on both engines, final cast to
  *        DOUBLE; averages/ratios computed from decimal sums then
  *        `ROUND(..., 4)`.
  *  - D4: identical output column names/order on both sides.
  *  - D5: pinned NOW (no wall-clock / randomness inside queries).
  */
object D {
  /** CAST(x AS DECIMAL(18,4)) — exact, order-independent addition.
    * r18: routed through [[org.apache.spark.sql.graftfn.FastDec]] —
    * bit-identical to the plain cast (slow path IS the cast; fast path
    * proven by DSpec's adversarial sweep) without the per-row
    * Double.toString → BigDecimal parse that dominated every decimal
    * aggregation over raw points. */
  def dec(c: Column): Column =
    org.apache.spark.sql.graftfn.FastDec.of(c.cast("double"), 18, 4)

  /** Cross-engine-safe 4dp rounding: `round(x*10⁴, 0)/10⁴`.
    *
    * Plain `round(x, 4)` DIVERGES between Spark and DuckDB when the
    * double's shortest decimal representation ends in a 5 at the 5th
    * decimal (Spark rounds the shortest-repr BigDecimal, DuckDB the raw
    * double) — observed once in 600k rows at sf0.1. After scaling, a
    * ".5" shortest repr can only occur when the double IS exactly N.5
    * (N.5 is representable), where both engines round half away from
    * zero — so integer-scale rounding agrees on every input. Both sides
    * must compute the identical expression shape: (x) * 10000.0 first.
    * The trailing `+ 0.0` normalizes IEEE signed zero (-0.0 + 0.0 = +0.0):
    * Spark's BigDecimal round() yields +0.0 for tiny negative values while
    * DuckDB ROUND preserves -0.0, which breaks the exact hash compare. */
  def r4s(c: Column): Column =
    // r18: FastRound0 ≡ round(y, 0) bit-for-bit (FastDecSpec sweep);
    // the scale/unscale/sign-normalize double ops stay identical
    org.apache.spark.sql.graftfn.FastRound0.of(c * lit(10000.0)) / 10000.0 + lit(0.0)
  def oR4(x: String): String = s"ROUND(($x) * 10000.0, 0) / 10000.0 + 0.0"

  /** [[r4s]] for DRIVER/EXECUTOR-side Scala (typed folds that replicate
    * a Column recurrence): byte-for-byte Spark `round(x·10⁴, 0)/10⁴ +
    * 0.0` — java `BigDecimal.valueOf` (shortest-repr), HALF_UP, signed
    * zero normalized. Any typed reimplementation of a quantized
    * recurrence MUST use this, never `math.round`/`rint` (different
    * tie rules → silent hash divergence). */
  def r4d(x: Double): Double =
    java.math.BigDecimal.valueOf(x * 10000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue() / 10000.0 + 0.0

  /** [[dec]] for EXECUTOR-side Scala (typed folds that replicate a
    * decimal-sum aggregation): the 4dp-scaled unscaled long of
    * `CAST(x AS DECIMAL(18,4))` — byte-identical to Spark's cast,
    * which quantizes the double's SHORTEST decimal representation
    * with HALF_UP (`Decimal(d)` → `BigDecimal.valueOf(d)` →
    * `changePrecision(…, HALF_UP)`). Summing these longs is the exact
    * decimal addition [[dec]] sums perform, with wider overflow
    * headroom than DECIMAL(18,4) itself.
    *
    * Fast path: scale-and-round in double arithmetic, valid only when
    * the scaled value is far from a .5 boundary (ties at the 5th
    * decimal are where shortest-repr rounding and raw-double rounding
    * can disagree — the r4s scaladoc's divergence class) and small
    * enough that one multiply's ULP cannot cross the guard band
    * (|y| < 1e9 → ulp ≤ ~1.2e-7 ≪ the 1e-4 band). Everything inside
    * the guard takes the exact BigDecimal path, so boundary inputs —
    * including doubles whose shortest repr ends in 5 at the 5th
    * decimal — are always quantized by the reference rule.
    *
    * NaN and ±Inf return null, as the cast returns NULL; a fold skips
    * such a term the way SUM skips NULL. */
  def q4(x: Double): java.lang.Long = {
    val y = x * 10000.0
    val a = math.abs(y)
    if (a < 1e9) {
      val f = a - math.floor(a)
      if (f > 0.4999 && f < 0.5001) q4Slow(x)
      // off-boundary every half-rounding rule agrees; rint is branch-free
      else math.rint(y).toLong
    } else if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) null
    else q4Slow(x)
  }
  private def q4Slow(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** CAST(x AS DECIMAL(28,10)) — exact order-independent addition for
    * SMALL per-term contributions (entropy / KL terms are O(p·log p),
    * down around 1e-6, which DECIMAL(18,4) would crush to zero): ten
    * fractional digits sit orders below the terms while 18 integer
    * digits keep billions-of-terms sums overflow-safe. Same ULP-tie
    * risk class as [[dec]] — both engines quantize the identical
    * double expression. */
  def dec10(c: Column): Column =
    org.apache.spark.sql.graftfn.FastDec.of(c.cast("double"), 28, 10)
  def oSumDec10(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(28,10))) AS DOUBLE)"

  /** Order-independent sum of a double column, emitted as DOUBLE.
    * Oracle side: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`. */
  def sumDec(c: Column): Column = sum(dec(c)).cast("double")

  /** Order-independent mean, rounded to 4dp.
    * Oracle: `ROUND(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)/COUNT(x), 4)`. */
  def avgDec(c: Column): Column = r4s(sum(dec(c)).cast("double") / count(c))

  /** Sample variance from decimal sums (native stddev is float-order
    * dependent). var = (Σx² − (Σx)²/n) / (n−1), computed in DOUBLE at the
    * end, rounded 4dp. Oracle uses the same explicit formula. */
  def varSampDec(c: Column): Column = {
    val n = count(c).cast("double")
    val sx = sum(dec(c)).cast("double")
    val sxx = sum(dec(c) * dec(c)).cast("double")
    r4s((sxx - sx * sx / n) / (n - lit(1.0)))
  }

  def stddevSampDec(c: Column): Column = {
    val n = count(c).cast("double")
    val sx = sum(dec(c)).cast("double")
    val sxx = sum(dec(c) * dec(c)).cast("double")
    r4s(sqrt((sxx - sx * sx / n) / (n - lit(1.0))))
  }

  /** Round a final double ratio to 4dp (D3) — see [[r4s]]. */
  def r4(c: Column): Column = r4s(c)

  /** Fixed-4dp decimal TEXT from integer arithmetic — the scalar-column
    * form of Response.toJsonColumnText4's dps render: sign, unscaled
    * DIV 10⁴, '.', lpad(unscaled MOD 10⁴). No float→text formatter of
    * either engine is consulted, so the bytes are hash-comparable at
    * ANY magnitude (Java goes scientific below 1e-3; DuckDB doesn't).
    * Precondition: the input is already 4dp-quantized (every D3/r4s
    * output), so round() here only repairs double representation
    * error. Emitted text is valid JSON/SQL numeric syntax. */
  def text4(x: String): Column = expr(
    s"""concat(
          CASE WHEN CAST(round(($x) * 10000) AS BIGINT) < 0
               THEN '-' ELSE '' END,
          CAST(abs(CAST(round(($x) * 10000) AS BIGINT)) DIV 10000 AS STRING),
          '.',
          lpad(CAST(abs(CAST(round(($x) * 10000) AS BIGINT)) % 10000 AS STRING),
               4, '0'))""")

  /** DuckDB mirror of [[text4]] (// = integer division). */
  def oText4(x: String): String =
    s"""(CASE WHEN CAST(round(($x) * 10000) AS BIGINT) < 0
              THEN '-' ELSE '' END ||
         CAST(abs(CAST(round(($x) * 10000) AS BIGINT)) // 10000 AS VARCHAR) ||
         '.' ||
         lpad(CAST(abs(CAST(round(($x) * 10000) AS BIGINT)) % 10000 AS VARCHAR),
              4, '0'))"""

  // Oracle-SQL fragment builders (keep Spark + DuckDB text in one place).
  def oSumDec(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
  def oAvgDec(x: String): String = oR4(s"${oSumDec(x)} / COUNT($x)")
  def oVarSampDec(x: String): String = {
    val sx = oSumDec(x); val sxx = s"CAST(SUM(CAST($x AS DECIMAL(19,4)) * CAST($x AS DECIMAL(19,4))) AS DOUBLE)"
    oR4(s"($sxx - $sx*$sx/CAST(COUNT($x) AS DOUBLE)) / (CAST(COUNT($x) AS DOUBLE)-1.0)")
  }
  def oStddevSampDec(x: String): String = {
    val sx = oSumDec(x); val sxx = s"CAST(SUM(CAST($x AS DECIMAL(19,4)) * CAST($x AS DECIMAL(19,4))) AS DOUBLE)"
    oR4(s"SQRT(($sxx - $sx*$sx/CAST(COUNT($x) AS DOUBLE)) / (CAST(COUNT($x) AS DOUBLE)-1.0))")
  }
}
