// Lives under org.apache.spark.sql for the private[sql] expression
// plumbing, like Dot4 / FastDec.
package org.apache.spark.sql.graftfn

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The k centroids of one codebook as DATA: ids, float vectors and the
  * squared norms `dot4(c, c)`. Carried by [[NearestCentroid]] as a
  * reference object, so the generated code is one call whatever k and
  * the dimension are (a literal argmin tree grows O(k·dim) and drops
  * out of the JIT past 8,000 bytes of method bytecode).
  *
  * `nearest` is the argmin of `least(struct(dist_c, id_c), …)` over the
  * region's distances `(sq_a + sq_c) − 2.0·dot4(region, c)`, bit for bit:
  * every term is Dot4's (per-element 4-decimal rounding, scaled long
  * accumulator), a null distance orders first (a null struct field does
  * in `least`), ties go to the lowest id, and doubles compare as Spark
  * orders them (`SQLOrderingUtil.compareDoubles`: −0.0 = 0.0, NaN
  * last). A distance is null when the region is null, holds a null
  * element, or differs in length from the centroid. */
final class CentroidSet(val ids: Array[Int], val vecs: Array[Array[Float]],
                        val sq: Array[Double]) extends Serializable {
  require(ids.nonEmpty && ids.length == vecs.length && ids.length == sq.length,
    "CentroidSet needs k >= 1 aligned ids, vectors and squared norms")
  private val minId = ids.min

  /** Nearest centroid id of `a`'s region: the whole array when `len < 0`,
    * else `[off, off + len)` clipped to the array, as `slice` clips. */
  def nearest(a: ArrayData, off: Int, len: Int): Int = {
    if (a == null) return minId
    val n = a.numElements()
    val end = if (len < 0) n else math.min(n, off + len)
    val rlen = math.max(0, end - off)
    val r = new Array[Float](rlen)
    var i = 0
    while (i < rlen) {
      if (a.isNullAt(off + i)) return minId
      r(i) = a.getFloat(off + i)
      i += 1
    }
    val sqA = Dot4.dot(r, r)
    var bestId = 0
    var bestD = 0.0
    var found = false
    var bestNull = false
    var c = 0
    while (c < ids.length) {
      val id = ids(c)
      if (vecs(c).length != rlen) {
        if (!bestNull || id < bestId) { bestNull = true; bestId = id }
      } else if (!bestNull) {
        val d = (sqA + sq(c)) - 2.0 * Dot4.dot(r, vecs(c))
        val cmp = if (found) SQLOrderingUtil.compareDoubles(d, bestD) else -1
        if (cmp < 0 || (cmp == 0 && id < bestId)) { bestId = id; bestD = d; found = true }
      }
      c += 1
    }
    bestId
  }

  override def equals(o: Any): Boolean = o match {
    case s: CentroidSet =>
      java.util.Arrays.equals(ids, s.ids) && java.util.Arrays.equals(sq, s.sq) &&
        ids.indices.forall(i => java.util.Arrays.equals(vecs(i), s.vecs(i)))
    case _ => false
  }
  override def hashCode: Int =
    31 * java.util.Arrays.hashCode(ids) + java.util.Arrays.hashCode(sq)
  override def toString: String = s"${ids.length} centroids"
}

object CentroidSet {
  def apply(cs: Seq[(Int, Seq[Float], Double)]): CentroidSet =
    new CentroidSet(cs.map(_._1).toArray, cs.map(_._2.toArray).toArray,
      cs.map(_._3).toArray)
}

/** Nearest-centroid id of an ARRAY<FLOAT> column's region (see
  * [[CentroidSet.nearest]]); `len < 0` means the whole array. Never
  * null: with every distance null the lowest id wins, as in `least`. */
case class NearestCentroid(child: Expression, centroids: CentroidSet,
                           off: Int, len: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"

  override def eval(input: InternalRow): Any =
    centroids.nearest(child.eval(input).asInstanceOf[ArrayData], off, len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids, classOf[CentroidSet].getName)
    val a = child.genCode(ctx)
    ev.copy(code = code"""
      ${a.code}
      int ${ev.value} = $cs.nearest(${a.isNull} ? null : ${a.value}, $off, $len);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  def of(a: Column, cs: Seq[(Int, Seq[Float], Double)], off: Int = 0,
         len: Int = -1): Column =
    ExpressionUtils.column(NearestCentroid(ExpressionUtils.expression(a),
      CentroidSet(cs), off, len))
}

/** Lloyd mean fold: the component-wise mean of the member vectors'
  * regions (`[off, off + len)` clipped as `slice` clips; `len < 0` is
  * the whole array), one input row per member vector.
  *
  * Per position it equals
  * `CAST(CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS FLOAT)`
  * over the posexploded elements: the exact sum of the terms' unscaled
  * 4-decimal longs ([[FastDec]]'s quantization — a NaN term is null and
  * skipped, as SUM skips NULL), the count of every row that has the
  * position (null elements included, as `count(lit(1))` counts them),
  * and `BigDecimal(sum, 4).doubleValue / count` narrowed to float
  * (Spark's `Decimal.toDouble`). A position without a non-null term is
  * null. A sum past `Long.MaxValue` continues exactly in BigInteger; one
  * past DECIMAL(28,4), SUM's result type, raises the ANSI error (null
  * when `ansi` is off). No position at all gives a null array, which the
  * trainer drops, as the posexplode form has no row for such a group. */
case class LloydMean(child: Expression, off: Expression, len: Expression,
                     ansi: Boolean = SQLConf.get.ansiEnabled,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LloydMean.Buf] with TernaryLike[Expression]
    with ExpectsInputTypes {
  import LloydMean.Buf

  override def first: Expression = child
  override def second: Expression = off
  override def third: Expression = len
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "lloyd_mean"

  override def createAggregationBuffer(): Buf = new Buf

  override def update(b: Buf, input: InternalRow): Buf = {
    val a = child.eval(input).asInstanceOf[ArrayData]
    if (a == null) return b
    val o = off.eval(input).asInstanceOf[Int]
    val l = len.eval(input).asInstanceOf[Int]
    val n = a.numElements()
    val end = if (l < 0) n else math.min(n, o + l)
    val rlen = end - o
    if (rlen <= 0) return b
    b.grow(rlen)
    var i = 0
    while (i < rlen) {
      b.counts(i) += 1
      if (!a.isNullAt(o + i)) {
        val x = a.getFloat(o + i).toDouble
        // FastDec.eval(x, 18, 4) without the Decimal in the fast path
        val y = x * 10000.0
        val ay = math.abs(y)
        if (ay < 2.251799813685248e15 && math.abs(ay - math.floor(ay) - 0.5) > 4.0 * Math.ulp(ay))
          b.add(i, math.rint(y).toLong)
        else {
          val d = FastDec.slowCast(x, 18, 4, ansi)
          if (d != null) b.add(i, d.toUnscaledLong)
        }
      }
      i += 1
    }
    b
  }

  override def merge(b: Buf, o: Buf): Buf = {
    b.grow(o.n)
    var i = 0
    while (i < o.n) {
      b.counts(i) += o.counts(i)
      if (o.big != null && o.big(i) != null) b.addBig(i, o.big(i))
      else if (o.terms(i)) b.add(i, o.sums(i))
      i += 1
    }
    b
  }

  override def eval(b: Buf): Any = {
    if (b.n == 0) return null
    val out = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      val big = if (b.big != null) b.big(i) else null
      if (big != null && big.abs.compareTo(LloydMean.Dec28Max) > 0) {
        if (ansi) throw new ArithmeticException(
          s"lloyd_mean: the sum at position $i overflows DECIMAL(28,4)")
      } else if (b.terms(i)) {
        val sum = if (big != null) new JBigDecimal(big, 4) else JBigDecimal.valueOf(b.sums(i), 4)
        out(i) = (sum.doubleValue / b.counts(i).toDouble).toFloat
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: Buf): Array[Byte] = {
    val bigs = (0 until b.n).flatMap(i =>
      if (b.big != null && b.big(i) != null) Some(i -> b.big(i).toByteArray) else None)
    val buf = ByteBuffer.allocate(4 + b.n * 17 + bigs.map(4 + 4 + _._2.length).sum + 4)
    buf.putInt(b.n)
    var i = 0
    while (i < b.n) {
      buf.putLong(b.counts(i)).putLong(b.sums(i)).put((if (b.terms(i)) 1 else 0).toByte)
      i += 1
    }
    buf.putInt(bigs.size)
    bigs.foreach { case (pos, bytes) => buf.putInt(pos).putInt(bytes.length).put(bytes) }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new Buf
    b.grow(buf.getInt)
    var i = 0
    while (i < b.n) {
      b.counts(i) = buf.getLong
      b.sums(i) = buf.getLong
      b.terms(i) = buf.get == 1
      i += 1
    }
    val nb = buf.getInt
    (0 until nb).foreach { _ =>
      val pos = buf.getInt
      val bytes = new Array[Byte](buf.getInt)
      buf.get(bytes)
      if (b.big == null) b.big = new Array[BigInteger](b.n)
      b.big(pos) = new BigInteger(bytes)
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): LloydMean =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LloydMean =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: Expression, o: Expression, l: Expression): LloydMean =
    copy(child = c, off = o, len = l)
}

object LloydMean {
  private val Dec28Max = BigInteger.TEN.pow(28).subtract(BigInteger.ONE)

  /** Per-position state: row counts, exact unscaled sums (a long, or a
    * BigInteger once the long would overflow) and whether any non-null
    * term arrived. */
  final class Buf {
    var n = 0
    var counts = new Array[Long](0)
    var sums = new Array[Long](0)
    var terms = new Array[Boolean](0)
    var big: Array[BigInteger] = null

    def grow(m: Int): Unit = if (m > n) {
      counts = java.util.Arrays.copyOf(counts, m)
      sums = java.util.Arrays.copyOf(sums, m)
      terms = java.util.Arrays.copyOf(terms, m)
      if (big != null) big = java.util.Arrays.copyOf(big, m)
      n = m
    }

    def add(i: Int, v: Long): Unit = {
      if (big != null && big(i) != null) big(i) = big(i).add(BigInteger.valueOf(v))
      else {
        val s = sums(i) + v
        // overflow iff both operands have the sign the result lacks
        if (((sums(i) ^ s) & (v ^ s)) < 0) {
          if (big == null) big = new Array[BigInteger](n)
          big(i) = BigInteger.valueOf(sums(i)).add(BigInteger.valueOf(v))
        } else sums(i) = s
      }
      terms(i) = true
    }

    def addBig(i: Int, v: BigInteger): Unit = {
      if (big == null) big = new Array[BigInteger](n)
      big(i) = (if (big(i) != null) big(i) else BigInteger.valueOf(sums(i))).add(v)
      terms(i) = true
    }
  }

  def of(a: Column, off: Column, len: Column): Column =
    ExpressionUtils.column(LloydMean(ExpressionUtils.expression(a),
      ExpressionUtils.expression(off), ExpressionUtils.expression(len))
      .toAggregateExpression())
}
