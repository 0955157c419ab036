// Lives under org.apache.spark.sql so it can use the private[sql]
// expression plumbing (AbstractDataType, classic.ExpressionUtils) — the
// standard pattern for third-party native expressions.
package org.apache.spark.sql.graftfn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression: exact 4-decimal dot product of two
  * ARRAY<FLOAT> columns (SURVEY §2.L `expr_custom`, the §4.2 "hot path"
  * contingency).
  *
  * Semantics: Σᵢ round₄(aᵢ·bᵢ), carried as a scaled BIGINT accumulator
  * (round-half-away-from-zero at the 4th decimal — the DECIMAL(18,4)
  * contract of rule D3), returned as DOUBLE. Summation is
  * order-independent (integer adds), so partial aggregation and cluster
  * layout can never change the value. Caveat: the per-element rounding
  * decides on the double `a·b·10⁴` (one extra rounding vs the decimal
  * cast of `a·b`); products whose scaled value sits within one ULP of an
  * exact .5 boundary could round differently from the decimal path —
  * measure-zero for real-valued embeddings and cross-checked against the
  * HOF/decimal formulation on every fixture at three scale factors.
  *
  * Why a custom expression: the equivalent higher-order-function form
  * (`aggregate(zip_with(...))` with a decimal accumulator) allocates an
  * intermediate array + Decimal per element per row. This codegen is a
  * single allocation-free loop inside whole-stage codegen — ~3× faster on
  * the kNN-join hot path at sf0.1. Interpreted eval is provided for
  * codegen-disabled paths and mirrors the generated code exactly.
  */
case class Dot4(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot4"

  /** Always nullable: a NULL ELEMENT inside either array yields null even
    * when both array columns are non-null. Without this override,
    * non-nullable inputs make `ev.isNull` the literal `false` and the
    * generated `isNull = true` line fails Janino compilation — silently
    * dropping every dot product out of whole-stage codegen into the
    * interpreted fallback (the exact hot path this expression exists
    * to speed up). */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch → NULL, matching the zip_with/aggregate HOF
    // formulation (zip_with pads with NULL, poisoning the sum). A
    // silent min-length truncation would compute a plausible-looking
    // dot over a prefix with no error.
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      // a NULL element poisons the whole dot product — the same
      // propagation as the HOF/decimal-oracle formulation (reading the
      // slot as 0.0 would silently diverge from them)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += Dot4.term(x.getFloat(i), y.getFloat(i))
      i += 1
    }
    acc / 10000.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) { ${ev.isNull} = true; }
        long $acc = 0L;
        for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          double $p = ((double) $a.getFloat($i)) * ((double) $b.getFloat($i)) * 10000.0;
          $acc += (long) ($p >= 0 ? java.lang.Math.floor($p + 0.5d)
                                  : java.lang.Math.ceil($p - 0.5d));
        }
        if (!${ev.isNull}) { ${ev.value} = $acc / 10000.0; }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dot4 =
    copy(left = newLeft, right = newRight)
}

object Dot4 {
  /** One product rounded half away from zero at the 4th decimal, as the
    * scaled long the accumulator adds (the generated code inlines the
    * same steps). */
  @inline def term(a: Float, b: Float): Long = {
    val p = a.toDouble * b.toDouble * 10000.0
    (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)).toLong
  }

  /** `dot4` of two equal-length null-free float arrays. */
  def dot(x: Array[Float], y: Array[Float]): Double = {
    var acc = 0L
    var i = 0
    while (i < x.length) { acc += term(x(i), y(i)); i += 1 }
    acc / 10000.0
  }

  /** Column-level entry point (uses the public classic converter). */
  def of(a: Column, b: Column): Column =
    ExpressionUtils.column(Dot4(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
