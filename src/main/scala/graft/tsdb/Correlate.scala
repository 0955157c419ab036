package graft.tsdb

import graft.core.D
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-series similarity search: Pearson correlation between every
  * pair of series over their ALIGNED downsample buckets ("which series
  * move together" — the TSDB analog of similarity search over streams).
  *
  * Shape: downsample once per series, self-join on the bucket (so the
  * pair blow-up is per-bucket, bounded by series-per-bucket, never a
  * global cross product), then one hash aggregate per pair computing the
  * five sufficient statistics with exact decimal sums — r is derived in
  * DOUBLE at the end and scale-rounded (D3), so the result is identical
  * on any cluster layout and matches the DuckDB oracle formulation.
  */
object Correlate {

  /** Raw (unquantized) dynamic-time-warping distance between two value
    * sequences — full O(n·m) DP, O(n) row state, |·| step cost, the
    * standard (↑, ←, ↖) recurrence. Shared by tsdb_dtw's typed scan
    * and its spec (identity/symmetry/hand-example properties); the
    * DuckDB oracle replays the same chain via nested list_reduce.
    * Empty inputs return +∞ (no warping path exists). */
  def dtwDistance(av: Array[Double], bv: Array[Double]): Double = {
    val n = av.length
    var prev = Array.fill(n + 1)(Double.PositiveInfinity)
    prev(0) = 0.0
    var j = 0
    while (j < bv.length) {
      val nw = new Array[Double](n + 1)
      nw(0) = Double.PositiveInfinity
      var i = 1
      while (i <= n) {
        nw(i) = math.abs(av(i - 1) - bv(j)) +
          math.min(nw(i - 1), math.min(prev(i), prev(i - 1)))
        i += 1
      }
      prev = nw
      j += 1
    }
    prev(n)
  }

  /** Sakoe-Chiba BANDED [[dtwDistance]]: cells with |i − j| > band are
    * never computed, so each pair costs O(n·band) instead of O(n·m) —
    * the production shape the tsdb_dtw comment promises (a 10k-point
    * series pair drops from 10⁸ cells to 10⁵ at band 10). The band
    * widens to |n − m| when the length gap exceeds it — no warping
    * path exists inside a narrower band (every path must traverse the
    * length difference), the standard adjustment. Within the band the
    * recurrence is bit-identical to the full DP, so band ≥ max(n, m)
    * reproduces [[dtwDistance]] exactly (property-tested), and a
    * narrower band can only RAISE the distance (path-set restriction —
    * also property-tested). */
  def dtwDistanceBanded(av: Array[Double], bv: Array[Double], band: Int): Double = {
    val n = av.length
    val m = bv.length
    if (n == 0 || m == 0) return Double.PositiveInfinity
    val w = math.max(band, math.abs(n - m))
    // two buffers allocated ONCE and swapped; per row only the band
    // window (plus its left boundary) is touched, so total work is
    // genuinely O(m·w), not O(m·n) (r13 review: a full ∞-fill per row
    // silently restored the quadratic cost the band exists to avoid).
    // Stale cells outside the window are never read: a slot i is only
    // written by rows j with |i − j| ≤ w, and row j+1 reads prev only
    // at indices ≥ j − w, all inside row j's written window or the
    // explicitly-∞'d boundary slot.
    var prev = Array.fill(n + 1)(Double.PositiveInfinity)
    var cur = Array.fill(n + 1)(Double.PositiveInfinity)
    prev(0) = 0.0
    var j = 1
    while (j <= m) {
      val lo = math.max(1, j - w)
      val hi = math.min(n, j + w)
      cur(lo - 1) = Double.PositiveInfinity
      var i = lo
      while (i <= hi) {
        cur(i) = math.abs(av(i - 1) - bv(j - 1)) +
          math.min(cur(i - 1), math.min(prev(i), prev(i - 1)))
        i += 1
      }
      val t = prev; prev = cur; cur = t
      j += 1
    }
    prev(n)
  }

  /** Lead/lag discovery: for each candidate series pair, the LAG (in
    * grid steps, −maxLag..+maxLag) whose shifted alignment maximizes
    * Pearson r — "does A lead B, and by how much". The B side is
    * fanned out by a broadcast (2·maxLag+1)-row lag table with
    * `bucket + lag·step` as the join key, so the whole sweep is ONE
    * co-partitioned bucket join and one sufficient-stats aggregate per
    * (pair, lag); the per-pair arg-max is a (pairs × lags)-sized
    * window. Positive best_lag = b's series leads (a at t correlates
    * with b at t − lag·step). Same exact-decimal stats and bounds as
    * [[pearsonPairs]]. */
  def pearsonPairsLagged(downsampled: DataFrame, keyCol: String,
                         lagStepMs: Long, maxLag: Int,
                         minBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val down = graft.core.Exec.materialize(downsampled)
    import down.sparkSession.implicits._
    val lagDf = (-maxLag to maxLag).toDF("lag")
    val a = down.select(col(keyCol).as("a_key"), col("bucket_ms"),
      col("value").as("av"))
    val b = down.select(col(keyCol).as("b_key"),
        col("bucket_ms").as("b_bucket"), col("value").as("bv"))
      .crossJoin(broadcast(lagDf))
      .withColumn("bucket_ms", col("b_bucket") + col("lag") * lit(lagStepMs))
    val d18 = DecimalType(18, 4)
    val stats = a.join(b, Seq("bucket_ms")).where(col("a_key") < col("b_key"))
      .groupBy("a_key", "b_key", "lag").agg(
        count(lit(1)).as("n"),
        sum(D.dec(col("av"))).cast("double").as("sx"),
        sum(D.dec(col("bv"))).cast("double").as("sy"),
        sum((col("av").cast(d18) * col("bv").cast(d18))).cast("double").as("sxy"),
        sum((col("av").cast(d18) * col("av").cast(d18))).cast("double").as("sxx"),
        sum((col("bv").cast(d18) * col("bv").cast(d18))).cast("double").as("syy"))
    val n = col("n").cast("double")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    val scored = stats
      .where(col("n") >= minBuckets && varX > 0 && varY > 0)
      .select(col("a_key"), col("b_key"), col("lag"), col("n"),
        D.r4s((n * col("sxy") - col("sx") * col("sy")) / sqrt(varX * varY)).as("r"))
    val w = Window.partitionBy("a_key", "b_key")
      .orderBy(col("r").desc, col("lag"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("a_key"), col("b_key"), col("lag").as("best_lag"),
        col("n"), col("r"))
  }

  /** Pairwise Pearson r over aligned buckets. `minBuckets` drops pairs
    * with too little overlap; degenerate (constant) series are excluded
    * by the positive-variance predicate. Emits (a_key, b_key, n, r). */
  def pearsonPairs(downsampled: DataFrame, keyCol: String,
                   minBuckets: Int): DataFrame = {
    // materialize the REDUCED (series × bucket) frame once: the
    // self-join would otherwise run the whole upstream scan + downsample
    // aggregate twice, once per side (the drivers release the blocks
    // per query)
    val down = graft.core.Exec.materialize(downsampled)
    val a = down.select(col(keyCol).as("a_key"), col("bucket_ms"),
      col("value").as("av"))
    val b = down.select(col(keyCol).as("b_key"), col("bucket_ms"),
      col("value").as("bv"))
    // (18,4)×(18,4) → DECIMAL(37,8): exact in Spark (≤38) AND DuckDB.
    // (19,4) factors would need precision 39 > 38 on the Spark side,
    // silently engaging the precision-loss path (scale-7 rounding) while
    // DuckDB stays exact — a latent cross-engine divergence on near-ties.
    val d18 = DecimalType(18, 4)
    val joined = a.join(b, Seq("bucket_ms")).where(col("a_key") < col("b_key"))
    val stats = joined.groupBy("a_key", "b_key").agg(
      count(lit(1)).as("n"),
      sum(D.dec(col("av"))).cast("double").as("sx"),
      sum(D.dec(col("bv"))).cast("double").as("sy"),
      sum((col("av").cast(d18) * col("bv").cast(d18))).cast("double").as("sxy"),
      sum((col("av").cast(d18) * col("av").cast(d18))).cast("double").as("sxx"),
      sum((col("bv").cast(d18) * col("bv").cast(d18))).cast("double").as("syy"))
    val n = col("n").cast("double")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    stats
      .where(col("n") >= minBuckets && varX > 0 && varY > 0)
      .select(col("a_key"), col("b_key"), col("n"),
        D.r4s((n * col("sxy") - col("sx") * col("sy")) / sqrt(varX * varY)).as("r"))
  }
}
