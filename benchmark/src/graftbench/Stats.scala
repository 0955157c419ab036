package graftbench

/** Order statistics and result digests for the benchmark report. */
object Stats {

  /** Linear-interpolated quantile (the "type 7" rule numpy and Spark's
    * approx tests use); `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile is reportable only when at least `minBeyond`
    * samples lie strictly above it: a p90 of 40 samples is one or two
    * requests, not a tail. Returns the value when supported. */
  def supportedPercentile(xs: Seq[Double], q: Double,
                          minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= minBeyond) Some(v) else None
    }

  /** 64-bit FNV-1a of a string. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Digest of a multiset of result rows, independent of row order:
    * rows are rendered to text, sorted, then hashed in sequence (a sum
    * of row hashes would also be order-free but lets two swapped
    * duplicate rows cancel). */
  def digest(rows: Seq[String]): String = {
    var h = 0xcbf29ce484222325L
    rows.sorted.foreach { r => h = (h ^ fnv64(r)) * 0x100000001b3L }
    f"$h%016x"
  }

  /** Digest of named parts, each already digested (part order is the
    * caller's fixed step order, so it is part of the identity). */
  def combine(parts: Seq[(String, String)]): String =
    digest(parts.zipWithIndex.map { case ((k, v), i) => f"$i%03d|$k|$v" })
}
