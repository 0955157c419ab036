package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.FastDec
import org.apache.spark.sql.types.DecimalType

/** r18: pins FastDec ≡ Cast(double AS DECIMAL(p,s)) — the D.dec/D.dec10
  * replacement must be bit-identical to the cast it replaces, including
  * the boundary band where shortest-repr rounding and raw-double
  * rounding can disagree, NaN/Inf null-ing, and signed zero. */
class FastDecSpec extends SparkSpec {
  import spark.implicits._

  private def sweep(vals: Seq[Double], prec: Int, scale: Int): Unit = {
    val df = vals.toDF("x").select(
      col("x"),
      col("x").cast(DecimalType(prec, scale)).as("ref"),
      FastDec.of(col("x"), prec, scale).as("fast"))
    // whole-stage codegen path
    val bad = df.where(!(col("ref") <=> col("fast"))).collect()
    assert(bad.isEmpty, s"codegen mismatch (p=$prec,s=$scale): " +
      bad.take(5).map(r => s"${r.get(0)} ref=${r.get(1)} fast=${r.get(2)}").mkString("; "))
    // interpreted path (eval) — mirror of the generated code
    vals.foreach { x =>
      val ref =
        try {
          val d = org.apache.spark.sql.types.Decimal(x)
          if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) null
          else if (d.changePrecision(prec, scale)) d else null
        } catch { case _: NumberFormatException => null }
      val fast =
        try FastDec.eval(x, prec, scale)
        catch { case _: ArithmeticException => null }
      assert((ref == null && fast == null) ||
        (ref != null && fast != null && ref.toJavaBigDecimal == fast.toJavaBigDecimal),
        s"eval mismatch x=$x (p=$prec,s=$scale): ref=$ref fast=$fast")
    }
  }

  test("FastDec ≡ Cast on adversarial boundary values, both scales") {
    val adversarial = Seq(
      0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE,
      0.00005, -0.00005, 0.00015, 2.5e-4, 7.5e-4, 0.12345, -0.12345,
      0.5, -0.5, 1.00005, -1.00005, 123.45675, 123.45665,
      1e-11, -1e-11, 5e-11, 5.0000000001e-5, 4.9999999999e-5,
      1e7, 1e9, 1e11, 9.87654321e13, 9.9999999e13,
      // just inside/outside the fast-region ceiling (2^51 scaled)
      2.2517e11, 2.2518e11, 2.3e11, 1e12, 1e13,
      // shortest-repr tie shapes at the 11th decimal (dec10 boundary)
      5e-11, 1.5e-10, 2.5e-10, 0.00000000005,
      math.nextUp(0.00005), math.nextDown(0.00005),
      math.nextUp(2.5e-4), math.nextDown(2.5e-4))
    sweep(adversarial, 18, 4)
    sweep(adversarial.filter(v => v.isNaN || v.isInfinite || math.abs(v) < 9e17), 28, 10)
  }

  test("FastDec ≡ Cast on randomized sweeps at mixed magnitudes") {
    val rnd = new scala.util.Random(42)
    val vals = (1 to 200000).map { _ =>
      val mag = math.pow(10, rnd.nextInt(16) - 8) // 1e-8 .. 1e7
      (rnd.nextDouble() - 0.5) * mag
    } ++ (1 to 50000).map { _ =>
      // values engineered near .5 scaled boundaries for scale 4
      (rnd.nextInt(2000001) - 1000000) / 2.0 / 1e4 + (rnd.nextGaussian() * 1e-12)
    }
    sweep(vals, 18, 4)
    sweep(vals, 28, 10)
  }

  test("FastRound0 ≡ round(x, 0) on adversarial and randomized values") {
    import org.apache.spark.sql.graftfn.FastRound0
    val rnd = new scala.util.Random(7)
    val vals = Seq(0.0, -0.0, -0.3, -0.5, 0.5, 2.5, -2.5, 1.5, -1.5,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e300, -1e300, 9.007199254740993e15, 4.5e15,
      math.nextUp(0.5), math.nextDown(0.5), math.nextUp(-0.5)) ++
      (1 to 200000).map(_ => (rnd.nextDouble() - 0.5) *
        math.pow(10, rnd.nextInt(14) - 4)) ++
      (1 to 50000).map(_ => (rnd.nextInt(2000001) - 1000000) / 2.0 +
        rnd.nextGaussian() * 1e-12)
    val df = vals.toDF("x").select(col("x"),
      round(col("x"), 0).as("ref"), FastRound0.of(col("x")).as("fast"))
    val bad = df.where(!(col("ref") <=> col("fast"))).collect()
    assert(bad.isEmpty, "codegen mismatch: " +
      bad.take(5).map(r => s"${r.get(0)} ref=${r.get(1)} fast=${r.get(2)}").mkString("; "))
    // bit-level check incl. signed zero, driver-side against the
    // reference formula Spark's RoundBase uses
    vals.foreach { x =>
      val ref =
        if (x.isNaN || x.isInfinite) x
        else java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      val fast = FastRound0.round0(x)
      assert(java.lang.Double.doubleToRawLongBits(ref) ==
        java.lang.Double.doubleToRawLongBits(fast) ||
        (ref.isNaN && fast.isNaN),
        s"round0 mismatch x=$x ref=$ref fast=$fast")
    }
  }

  test("FastDec overflow raises the cast's ANSI arithmetic error") {
    intercept[ArithmeticException] {
      FastDec.eval(1.5e14, 18, 4)
    }
    intercept[ArithmeticException] {
      Seq(1.5e14).toDF("x").select(FastDec.of(col("x"), 18, 4)).collect()
    }
  }

  test("FastDec overflow yields the cast's NULL in a non-ANSI session") {
    val k = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(k)
    spark.conf.set(k, "false")
    try {
      val got = Seq(1.5e14, 2.5).toDF("x").select(
        col("x").cast(DecimalType(18, 4)).as("ref"),
        FastDec.of(col("x"), 18, 4).as("fast")).collect()
      assert(got.map(_.get(0)).toSeq == Seq(null, new java.math.BigDecimal("2.5000")))
      assert(got.forall(r => r.get(0) == r.get(1)),
        s"non-ANSI FastDec must follow the cast: ${got.toSeq}")
    } finally spark.conf.set(k, saved)
  }

  test("FastDec refuses a precision its 16-digit fast path can overflow") {
    // (10, 4) holds 6 integer digits; 1e7 must not reach the fast
    // path's Decimal(long, 10, 4), which throws where the cast does not
    intercept[IllegalArgumentException] {
      Seq(1e7).toDF("x").select(FastDec.of(col("x"), 10, 4)).collect()
    }
    val vals = Seq(1e7, -1e7, 2.2e11, -2.2e11, 9.99999e11, 123.45675)
    sweep(vals, 16, 4)
  }

  test("D.q4 equals CAST(x AS DECIMAL(18,4)), NULL on NaN and ±Inf") {
    val vals = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1.00005, -1.00005, 123.45675, 0.12345, 1e9, -2.5e-4)
    val ref = vals.toDF("x").select(col("x").cast(DecimalType(18, 4)))
      .collect().map(r => Option(r.getDecimal(0)).map(_.unscaledValue.longValue))
    val got = vals.map(x => Option(graft.core.D.q4(x)).map(_.longValue))
    assert(got == ref.toSeq, s"q4 $got != cast $ref")
  }
}
