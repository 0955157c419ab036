// Lives under org.apache.spark.sql for the private[sql] expression
// plumbing, like Dot4 / Md5Winnow.
package org.apache.spark.sql.graftfn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native `CAST(double AS DECIMAL(p, s))` with the string-free fast path
  * (r18, guide §1.2 step 2 — per-task work).
  *
  * Spark's cast quantizes through the double's SHORTEST decimal
  * representation: `Decimal(d)` = `BigDecimal(Double.toString(d))`, then
  * `changePrecision(p, s, HALF_UP)` — a per-row string render + parse
  * (~0.5 µs) that dominated every decimal-sum aggregation over raw
  * points (OPTIMIZATION_r18.md, llm_embed_pca: 6.3 s of an 8 s row was
  * this cast).
  *
  * Fast path: `u = rint(x·10^s)` as a long, valid iff the scaled value
  * is (a) finite, (b) small enough that the long is exact and one
  * multiply's ULP is far below the guard band (|y| < 2^51), and (c) at
  * distance > 4·ulp(|y|) from the nearest .5 rounding boundary — within
  * the band, shortest-repr rounding and raw-double rounding can
  * disagree (the D.r4s divergence class), so those rows take the slow
  * path. The slow path IS the reference: `Decimal(d)` +
  * `changePrecision` — bit-identical to Cast by construction, including
  * NaN/±Inf → NULL and overflow → the ANSI arithmetic error, or NULL
  * in a non-ANSI session (OPTIMIZATION_r18.md, "D.dec / D.dec10 →
  * graftfn.FastDec"; FastDecSpec pins both). Like `Cast`, the
  * expression captures the session's ANSI mode when it is built
  * (`ansi`), so no row reads a conf. Off the boundary every half
  * rounding rule agrees, so rint inside the guard equals HALF_UP
  * exactly. The fast path emits up to 16 unscaled digits (2^51 <
  * 10^16), so `precision` must hold 16.
  *
  * DSpec sweeps randomized + adversarial values against the real Cast
  * for both (18,4) and (28,10); every oracle row exercises it at two
  * scale factors on top.
  */
case class FastDec(child: Expression, precision: Int, scale: Int,
                   ansi: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression with ExpectsInputTypes {
  require(scale >= 0 && scale <= 10 && precision >= 16 && precision > scale,
    s"fast_dec needs precision >= 16 and 0 <= scale <= 10 (got $precision, $scale)")

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DecimalType(precision, scale)
  override def prettyName: String = "fast_dec"
  // NaN/Inf and (non-ANSI) overflow yield null even for non-null input
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    FastDec.eval(input.asInstanceOf[Double], precision, scale, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val y = ctx.freshName("y")
      val a = ctx.freshName("a")
      val d = ctx.freshName("d")
      val fd = classOf[FastDec].getName // companion static forwarders
      s"""
        double $y = $x * ${FastDec.pow10(scale)}D;
        double $a = Math.abs($y);
        org.apache.spark.sql.types.Decimal $d;
        if ($a < 2.251799813685248E15D &&
            Math.abs($a - Math.floor($a) - 0.5D) > 4.0D * Math.ulp($a)) {
          $d = org.apache.spark.sql.types.Decimal.apply(
            (long) Math.rint($y), $precision, $scale);
        } else {
          $d = $fd.slowCast($x, $precision, $scale, $ansi);
        }
        if ($d == null) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): FastDec =
    copy(child = newChild)
}

object FastDec {
  private val Pow10 = Array.tabulate(11)(i => math.pow(10, i))
  def pow10(s: Int): Double = Pow10(s)

  /** Interpreted twin of the generated code. */
  def eval(x: Double, precision: Int, scale: Int, ansi: Boolean = true): Decimal = {
    val y = x * Pow10(scale)
    val a = math.abs(y)
    if (a < 2.251799813685248e15 /* 2^51 */ &&
        math.abs(a - math.floor(a) - 0.5) > 4.0 * Math.ulp(a))
      Decimal(math.rint(y).toLong, precision, scale)
    else slowCast(x, precision, scale, ansi)
  }

  /** The reference path — Spark's own cast steps, verbatim: NaN/±Inf →
    * null, `Decimal(d)` (shortest-repr BigDecimal), `changePrecision`
    * (HALF_UP), overflow → the ANSI arithmetic error exactly as Cast
    * raises it, or null when `ansi` is off (the surface's queries are
    * range-designed never to overflow, so this branch firing at all
    * means the same query would have failed under the plain cast too). */
  def slowCast(x: Double, precision: Int, scale: Int, ansi: Boolean): Decimal = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return null
    val d = Decimal(x)
    if (d.changePrecision(precision, scale)) d
    else if (!ansi) null
    else throw org.apache.spark.sql.errors.QueryExecutionErrors
      .cannotChangeDecimalPrecisionError(Decimal(x), precision, scale)
  }

  def of(c: Column, precision: Int, scale: Int): Column =
    ExpressionUtils.column(FastDec(ExpressionUtils.expression(c), precision, scale))
}

/** Native `round(double, 0)` with the same guarded fast path as
  * [[FastDec]] (r18): Spark's Round on DoubleType goes through
  * `BigDecimal.valueOf(d).setScale(0, HALF_UP).doubleValue()` per row
  * (verified in the 4.1.2 bytecode — interpreted AND codegen), i.e. the
  * same Double.toString render the decimal cast pays. Semantics
  * replicated exactly: NaN/±Inf pass through unchanged; off the .5
  * boundary band `rint` equals shortest-repr HALF_UP; the band and the
  * large-magnitude region take the reference BigDecimal path. Used by
  * D.r4s, whose surrounding `* 10000.0`, `/ 10000.0`, `+ 0.0` double
  * ops are untouched, so every emitted value is bit-identical. */
case class FastRound0(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fast_round0"

  override def nullSafeEval(input: Any): Any =
    FastRound0.round0(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      s"${classOf[FastRound0].getName}.round0($x)")

  override protected def withNewChildInternal(newChild: Expression): FastRound0 =
    copy(child = newChild)
}

object FastRound0 {
  /** Shared by interpreted eval and codegen (static forwarder; named
    * round0 — an `eval` forwarder would clash with Expression.eval). */
  def round0(y: Double): Double = {
    val a = math.abs(y)
    if (a < 2.251799813685248e15 /* 2^51 */ &&
        math.abs(a - math.floor(a) - 0.5) > 4.0 * Math.ulp(a))
      // + 0.0: rint keeps -0.0 for inputs in (-0.5, -0.0]; the
      // BigDecimal reference has no signed zero and returns +0.0
      math.rint(y) + 0.0
    else if (java.lang.Double.isNaN(y) || java.lang.Double.isInfinite(y)) y
    else
      java.math.BigDecimal.valueOf(y)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  def of(c: Column): Column =
    ExpressionUtils.column(FastRound0(ExpressionUtils.expression(c)))
}
