package graft.tsdb

import graft.core.D
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-series downsampling: align each point to an interval bucket and
  * aggregate within (series, bucket). This is the data-reduction stage
  * that runs BEFORE any cross-series merge (mycenae's plot pipeline order);
  * in Spark it compiles to a hash aggregate with automatic partial
  * (map-side) aggregation, so at 100 TB each executor reduces its own
  * series-buckets before the single shuffle on the group keys.
  */
object Downsample {

  /** Bucket-align an epoch-ms column: exact integer arithmetic
    * (`x - pmod(x, interval)`), never double division (1.7e12 ms is fine in
    * a double, but nanos are not — keep the idiom uniformly exact). */
  def bucketMs(tsMs: Column, intervalMs: Long): Column =
    (tsMs - pmod(tsMs, lit(intervalMs))).cast("long")

  /** Deterministic aggregator (D3): sums/avgs go through DECIMAL(18,4).
    * first/last order by (ts, value) — a bare min_by/max_by on ts is
    * nondeterministic when a series has duplicate timestamps in one
    * bucket (whichever partial aggregate wins the merge race), which
    * would violate the order-independence contract. */
  def aggExpr(aggregator: String, value: Column, tsMs: Column): Column = aggregator match {
    case "sum"   => D.sumDec(value)
    case "avg"   => D.avgDec(value)
    case "min"   => min(value)
    case "max"   => max(value)
    case "count" => count(value).cast("long")
    case "first" => min_by(value, struct(tsMs, value))
    case "last"  => max_by(value, struct(tsMs, value))
    // OpenTSDB 2.4 percentile downsamplers (p50/p75/p90/p95/p99/p999):
    // exact interpolated percentile. The buffer is one bucket's values
    // per group — bounded by points-per-bucket, never corpus size; for
    // extreme per-bucket density swap in percentile_approx (same plan
    // shape, fixed-size sketch buffers).
    // exactly the OpenTSDB-documented set — a permissive p\d{2,3} would
    // silently parse near-misses ("p100" → q=0.100, the 10th percentile;
    // "p00" → q=0) instead of raising `unknown aggregator`
    case p if p.matches("p(50|75|90|95|99|999)") =>
      val digits = p.drop(1)
      val q = digits.toDouble / math.pow(10, digits.length)
      // 4dp-quantized AT the aggregate (D3, r8): the interpolated
      // percentile is the one aggExpr output whose raw double depends
      // on engine interpolation arithmetic, and the expression-language
      // path (tsdb_expression_pct) consumes it with no later rounding
      // hook. r4s is idempotent, so callers that also round (the
      // original tsdb_downsample_pct select) are unchanged.
      D.r4s(call_function("percentile", value, lit(q)))
    case other   => throw new IllegalArgumentException(s"unknown aggregator: $other")
  }

  /** points(seriesCols..., tsMs, value) → (seriesCols..., bucket_ms, value). */
  def apply(points: DataFrame, seriesCols: Seq[String], intervalMs: Long,
            aggregator: String, tsMsCol: String = "ts_ms",
            valueCol: String = "value"): DataFrame = {
    val bucket = bucketMs(col(tsMsCol), intervalMs).as("bucket_ms")
    points
      .groupBy((seriesCols.map(col) :+ bucket): _*)
      .agg(aggExpr(aggregator, col(valueCol), col(tsMsCol)).as("value"))
  }

  /** Calendar-aligned downsample (OpenTSDB 2.3 `1dc`/`1wc`/`1nc`-style
    * intervals): buckets snap to calendar boundaries — weeks start
    * Monday, months on the 1st — instead of fixed epoch-relative
    * spans, which is what dashboards mean by "weekly". `unit` is a
    * Spark/DuckDB `date_trunc` field (`day`/`week`/`month`/`year`);
    * the session timezone is pinned UTC (D5), so both engines truncate
    * identically. Same partial-agg plan shape as [[apply]] — the
    * bucket expression is the only change. */
  def calendar(points: DataFrame, seriesCols: Seq[String], unit: String,
               aggregator: String, tsMsCol: String = "ts_ms",
               valueCol: String = "value"): DataFrame = {
    require(Set("day", "week", "month", "year")(unit),
      s"unknown calendar unit '$unit'")
    val bucket = unix_millis(date_trunc(unit, timestamp_millis(col(tsMsCol))))
      .as("bucket_ms")
    points
      .groupBy((seriesCols.map(col) :+ bucket): _*)
      .agg(aggExpr(aggregator, col(valueCol), col(tsMsCol)).as("value"))
  }

  /** Time-weighted average per (series, bucket) — the right mean for
    * IRREGULARLY sampled series (a value holds until the next sample;
    * plain avg over-weights bursts). Weight of sample i = time until the
    * next sample in the series, capped at the bucket end; the last
    * sample extends to the bucket end. One lead() window + one hash
    * aggregate; weights are exact integer ms and the weighted sum goes
    * through DECIMAL(27,4), so the result is order-independent (D3). */
  def timeWeightedAvg(points: DataFrame, seriesCols: Seq[String], intervalMs: Long,
                      tsMsCol: String = "ts_ms", valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy(col(tsMsCol), col(valueCol))
    val bucket = bucketMs(col(tsMsCol), intervalMs)
    val bucketEnd = bucket + intervalMs
    val nextTs = lead(col(tsMsCol), 1).over(w)
    val weight = least(coalesce(nextTs, bucketEnd), bucketEnd) - col(tsMsCol)
    points
      .withColumn("bucket_ms", bucket)
      .withColumn("w_ms", weight)
      .groupBy((seriesCols.map(col) :+ col("bucket_ms")): _*)
      // DECIMAL(27,4): value×weight_ms reaches 1e13+ for large values;
      // (18,4) would overflow to silent NULLs on the Spark side
      .agg(graft.core.D.r4s(
        sum((col(valueCol) * col("w_ms"))
          .cast(org.apache.spark.sql.types.DecimalType(27, 4))).cast("double")
          / sum(col("w_ms"))).as("twa"))
  }

  /** Dense bucket spine [t0, t1) × the distinct series present, each
    * bucket taking its downsampled value or, where the series has none,
    * the fill policy's. One per-series aggregate folds each series'
    * (bucket_ms → value) pairs into a map; the spine is
    * `sequence(alignedT0, lastBucket, intervalMs)`, exploded per series,
    * and each spine bucket looks its value up in the map. So the
    * downsampled frame is read once, building the frame runs no job,
    * and no broadcast grows with series cardinality: each map holds at
    * most the spine's `maxBuckets` entries, and a caller that already
    * partitioned the frame by a subset of `seriesCols` pays no exchange
    * here. `downsampled` is (seriesCols..., bucket_ms, value), one row
    * per (series, bucket). Fill policies (OpenTSDB): none (the
    * downsampled rows as is — no spine), zero, null, nan.
    */
  def withFill(downsampled: DataFrame,
               seriesCols: Seq[String], intervalMs: Long,
               t0Ms: Long, t1Ms: Long, fill: String,
               maxBuckets: Long = 100000L): DataFrame = {
    if (fill == "none") return downsampled
    require(t1Ms > t0Ms, s"empty fill range [$t0Ms, $t1Ms)")
    // floorDiv alignment matches bucketMs' pmod for negative (pre-1970)
    // timestamps; Scala % would start the spine one bucket late there
    val alignedT0 = Math.floorDiv(t0Ms, intervalMs) * intervalMs
    // maxDataPoints-style cap (the reference bounds result size the same
    // way): the filled grid is buckets × series — an unbounded range
    // over a long retention would explode it
    val nBuckets = (t1Ms - alignedT0 + intervalMs - 1) / intervalMs
    require(nBuckets <= maxBuckets,
      s"fill spine would have $nBuckets buckets (> $maxBuckets); " +
        "narrow the time range or coarsen the interval")
    val lastBucket = alignedT0 + (nBuckets - 1) * intervalMs
    val filled = fill match {
      case "zero" => coalesce(col("value"), lit(0.0))
      case "null" => col("value")
      case "nan"  => coalesce(col("value"), lit(Double.NaN))
      case other  => throw new IllegalArgumentException(s"unknown fill policy: $other")
    }
    downsampled
      .groupBy(seriesCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("bucket_ms"), col("value")))).as("m"))
      .select(seriesCols.map(col) :+ col("m") :+
        explode(sequence(lit(alignedT0), lit(lastBucket), lit(intervalMs))).as("bucket_ms"): _*)
      .select(seriesCols.map(col) :+ col("bucket_ms") :+
        element_at(col("m"), col("bucket_ms")).as("value"): _*)
      .withColumn("value", filled)
  }

  /** Linear interpolation over a null-filled grid (extension beyond the
    * OpenTSDB fill set, the gap-fill most TSDB UIs want): each gap takes
    * the line between the nearest real buckets of its series;
    * leading/trailing gaps (no anchor on one side) stay null. One
    * partitioned window per series — scales like any per-series window,
    * never a global sort. */
  def fillLinear(gridded: DataFrame, seriesCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(seriesCols.map(col): _*).orderBy("bucket_ms")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(col("value"), ignoreNulls = true).over(wPrev)
    val nv = first(col("value"), ignoreNulls = true).over(wNext)
    val pb = last(when(col("value").isNotNull, col("bucket_ms")),
      ignoreNulls = true).over(wPrev)
    val nb = first(when(col("value").isNotNull, col("bucket_ms")),
      ignoreNulls = true).over(wNext)
    gridded.withColumn("value",
      when(col("value").isNotNull, col("value"))
        .when(pv.isNotNull && nv.isNotNull,
          pv + (nv - pv) * (col("bucket_ms") - pb) / (nb - pb))
        .otherwise(lit(null).cast("double")))
  }

  /** Per-series exponentially-weighted moving average over downsampled
    * buckets: `ewma_1 = v_1; ewma_t = α·v_t + (1−α)·ewma_{t−1}` — the
    * classic dashboard smoothing pass. The recurrence is inherently
    * sequential per series, so each series' (bounded, query-range-
    * sized) bucket list is collected into ONE array and every prefix
    * folded with the `aggregate` HOF — identical left-to-right double
    * association on any engine, which is what makes the result
    * hash-portable (a window-sum reformulation would re-associate).
    * O(n²) per series in HOF steps with n = buckets in the queried
    * range (never corpus-sized); the shuffle unit is one series.
    * Emits (seriesCols..., bucket_ms, ewma 4dp). */
  def ewma(downsampled: DataFrame, seriesCols: Seq[String],
           alpha: Double): DataFrame = {
    // O(n) typed scan per series (r12): the r11 form recomputed the
    // fold per PREFIX (transform × aggregate-over-slice) — O(n²) in
    // per-series buckets, fine on a 30-day fixture grid, wrong on a
    // multi-year one. Same raw double chain (a·x + (1−α)·acc, seeded
    // with the first value), same (bucket_ms, value) sort order, same
    // 4dp emission-only quantization via the byte-identical D.r4d —
    // the hash oracle (per-prefix list_reduce on the DuckDB side) is
    // unchanged. The generic series key rides through the typed fold
    // as one JSON string and is unpacked with its original schema.
    val s = downsampled.sparkSession
    import s.implicits._
    val keySchema = org.apache.spark.sql.types.StructType(
      seriesCols.map(c => downsampled.schema(c)))
    val packed = downsampled.select(
      to_json(struct(seriesCols.map(col): _*)).as("k"),
      col("bucket_ms"), col("value")).as[(String, Long, Double)]
    val beta = 1.0 - alpha
    val out = packed.groupByKey(_._1).flatMapGroups { (k, it) =>
      val pts = it.toArray.sortBy(p => (p._2, p._3))
      var acc = 0.0
      var first = true
      pts.iterator.map { case (_, b, v) =>
        acc = if (first) { first = false; v } else alpha * v + beta * acc
        (k, b, graft.core.D.r4d(acc))
      }
    }.toDF("k", "bucket_ms", "ewma")
    out.select(from_json(col("k"), keySchema).as("ks") +:
        col("bucket_ms") +: col("ewma") +: Nil: _*)
      .select(seriesCols.map(c => col(s"ks.$c").as(c)) :+
        col("bucket_ms") :+ col("ewma"): _*)
  }

  /** Last-observation-carried-forward gap fill over the null-filled
    * grid (the step-function fill TSDB dashboards default to for
    * gauge series; extension beyond the OpenTSDB policy set like
    * [[fillLinear]]). Leading gaps stay null — there is nothing to
    * carry. Copies already-quantized bucket values verbatim, so no
    * new float math enters the result. Same scale shape as the other
    * fills: one window per series over its own grid rows. */
  def fillPrevious(gridded: DataFrame, seriesCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(seriesCols.map(col): _*).orderBy("bucket_ms")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gridded.withColumn("value", last(col("value"), ignoreNulls = true).over(w))
  }
}
