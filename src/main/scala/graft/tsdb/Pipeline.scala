package graft.tsdb

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EP2' — the full mycenae query pipeline (SURVEY §3.2):
  * tag-filter → per-series downsample → cross-series merge → rate → order.
  * Two shapes:
  *  - [[run]]: generic, over a canonical points DataFrame
  *    (metric STRING, tags MAP<STRING,STRING>, ts_ms BIGINT, value DOUBLE);
  *  - [[flagship]]: the oracle-checked composition over the events fixture
  *    (event_type plays `metric`, user_id plays the `user` tag).
  */
object Pipeline {

  /** Canonical points view of the events fixture. */
  def eventsAsPoints(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_type").as("metric"),
      map(lit("user"), col("user_id").cast("string")).as("tags"),
      col("ts_ms"), col("value"))

  /** Typed view (`Dataset[Point]`) for callers that want compile-time
    * safety over the canonical schema; the DataFrame path stays the hot
    * path (no serialization round-trip in the pipeline itself). */
  def typedPoints(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Point] = {
    import s.implicits._
    eventsAsPoints(s, dir)
      .select(col("metric"), col("tags"), col("ts_ms"),
        col("value").cast("double").as("value"))
      .withColumn("text", lit(null).cast("string"))
      .as[Point]
  }

  /** Generic executor for one SubQuery over canonical points. Series
    * identity = (metric, canonical tag serialization); grouping tags are
    * the filters marked groupBy=true, everything else becomes an
    * aggregateTag (dropped by the merge). */
  def run(spark: SparkSession, points: DataFrame, q: TsdbQuery): DataFrame = {
    val (out, order) = runUnsorted(points, q)
    out.orderBy(order: _*)
  }

  /** [[run]] without the final boundary sort, plus the D1 sort order it
    * would apply — the form expression evaluation composes ([[runExpr]]
    * sorts ONCE at its own boundary; a leaf sorted under a join/agg is
    * wasted work even when Catalyst's EliminateSorts catches it).
    * `exchange` places the request's one tag-keyed exchange. */
  private def runUnsorted(points: DataFrame, q: TsdbQuery,
                          exchange: Exchange = Exchange.AtMerge): (DataFrame, Seq[Column]) = {
    require(q.queries.size == 1,
      s"run executes exactly one SubQuery (got ${q.queries.size}); " +
        "execute multi-subquery requests one run() per SubQuery")
    val sub = q.queries.head
    var df = points.where(matches(q))
    // canonical per-series key: sorted k=v join (tsid analog)
    df = df.withColumn("series_key", Catalog.canonicalTags)
    val groupTags = sub.filters.filter(_.groupBy).map(_.tagk).distinct
    val tagCols = groupTags.map(k => s"tag_$k")
    groupTags.foreach { k => df = df.withColumn(s"tag_$k", element_at(col("tags"), k)) }
    def tagKeyed(f: DataFrame): DataFrame =
      if (tagCols.isEmpty) f.repartition(1) else f.repartition(tagCols.map(col): _*)
    val projected = df.select((Seq("series_key", "ts_ms", "value") ++ tagCols).map(col): _*)
    val sel = if (exchange == Exchange.AtScan) tagKeyed(projected) else projected
    val seriesKeys = "series_key" +: tagCols
    // no downsample requested → raw ms timestamps pass through as the
    // merge "buckets" (no interval alignment). The cross-series merge
    // still applies the engine's D3 decimal contract to sum/avg, so
    // values are 4dp-quantized there; this is the engine's documented
    // determinism contract, a deliberate divergence from OpenTSDB's
    // raw-double merge.
    val filled = sub.downsample match {
      case Some(ds) =>
        val down = Downsample(sel, seriesKeys, ds.intervalMs, ds.aggregator)
        Downsample.withFill(if (exchange == Exchange.AfterDownsample) tagKeyed(down) else down,
          seriesKeys, ds.intervalMs, q.startMs, q.endMs, ds.fill)
      case None =>
        // under a finite point cap a raw request either fits (AtScan)
        // or was refused, so it never needs AfterDownsample
        sel.withColumnRenamed("ts_ms", "bucket_ms")
    }
    val merged = MergeRate.merge(filled, tagCols, sub.aggregator)
    val out =
      if (sub.rate) MergeRate.rate(merged, tagCols, sub.rateOptions)
      else merged
    (out, tagCols.map(col) :+ col("bucket_ms"))
  }

  /** Where a request's one tag-keyed exchange goes. Keyed by the group
    * tags (one partition when there are none), it lets the merge (keys ⊇
    * tags), the rate window (partitionBy tags) and a downstream
    * `Response.shape` (groupBy tags) run with no further exchange — so
    * it goes only on a frame whose size the caps bound, and any
    * tag-keyed partition is bounded with it. */
  private[tsdb] sealed trait Exchange
  private[tsdb] object Exchange {
    /** No cap bounds a frame: add none. The merge keeps its own (tags,
      * bucket) exchange, since one partition of a long-range request
      * would have no bound. */
    case object AtMerge extends Exchange
    /** The point cap bounds the downsampled frame (series × buckets)
      * but not the matched points: exchange after the downsample, which
      * keeps its own exchange between partial and final aggregate. */
    case object AfterDownsample extends Exchange
    /** The matched points fit under the point cap too: exchange them at
      * the scan, and the downsample, fill, merge and rate all run in the
      * stage after it. */
    case object AtScan extends Exchange

    /** The earliest frame `caps` bound, for a request resolved to `r`. */
    def of(caps: Caps, r: Resolved): Exchange =
      if (caps.maxDataPoints == Long.MaxValue) AtMerge
      else if (r.points <= caps.maxDataPoints) AtScan
      else AfterDownsample
  }

  /** The rows one single-subquery request reads: its metric, its time
    * range and every tag filter. */
  private def matches(q: TsdbQuery): Column = {
    val sub = q.queries.head
    (Seq(col("metric") === sub.metric, col("ts_ms") >= q.startMs, col("ts_ms") < q.endMs) ++
      sub.filters.map(f => TagFilters.toMapPredicate(col("tags"), f))).reduce(_ && _)
  }

  /** Multi-subquery form of the OpenTSDB request: one result frame per
    * SubQuery, in request order (their schemas differ per groupBy tags,
    * so they cannot be a single union). All of them build off the one
    * [[requestScan]]; each run() then re-applies its own metric/time
    * predicates, which are cheap map-side filters over the
    * already-reduced slice. */
  def runAll(spark: SparkSession, points: DataFrame, q: TsdbQuery): Seq[DataFrame] = {
    val scan = requestScan(points, q)
    q.queries.map(sub => run(spark, scan, q.copy(queries = Seq(sub))))
  }

  /** SHARED SCAN: the points an n-subquery request reads — the union of
    * the subqueries' metric predicates plus the request time range
    * pushed into a single scan, materialized once (Exec.materialize,
    * released by the ContextCleaner like every other eager
    * materialization here). An n-subquery request over the same metric
    * otherwise scans the full points table n times — the dominant cost
    * at 100 TB, where the scan dwarfs the per-subquery
    * downsample/merge stages. A single subquery reads `points` as is. */
  private def requestScan(points: DataFrame, q: TsdbQuery): DataFrame =
    if (q.queries.size <= 1) points
    else graft.core.Exec.materialize(points
      .where(col("metric").isin(q.queries.map(_.metric).distinct: _*))
      .where(col("ts_ms") >= q.startMs && col("ts_ms") < q.endMs))

  /** Request guardrails — the mycenae maxDataPoints / maxTimeseries
    * caps [PK-M, SURVEY §4.1 "result caps"]: multi-tenant safety
    * against the one pathological query (tiny interval × huge range ×
    * high-cardinality group) that would otherwise materialize unbounded
    * output through a shared cluster. */
  final case class Caps(maxDataPoints: Long = Long.MaxValue,
                        maxTimeseries: Long = Long.MaxValue) {
    require(maxDataPoints > 0 && maxTimeseries > 0, "caps must be positive")
  }

  /** A request exceeded a hard cap — the multi-tenant 4xx, not a bug. */
  final class CapExceededException(msg: String)
    extends IllegalArgumentException(msg)

  /** The series the request would touch — the catalog-resolve phase of
    * the two-phase read (tsdb_catalog_prune shape), run BEFORE the
    * heavy pipeline: one filtered distinct-count over the series key
    * ([[resolve]]). This points-side form is the fixture/bootstrap
    * path; at 100 TB use [[resolveSeriesCountFromCatalog]] — the cap
    * check must hit the reduced series catalog, never a full points
    * scan. */
  def resolveSeriesCount(points: DataFrame, q: TsdbQuery): Long =
    resolve(points, Seq(q)).head.series

  /** [[resolveSeriesCount]] off a prebuilt series catalog
    * ([[Catalog.fromPoints]] schema) — one filtered count over
    * series-cardinality rows, the ES-resolve analog and the form the
    * cap check takes on a real cluster. One job: the filtered scan's
    * rows are counted over a one-literal projection (a `count()` is a
    * partial and a final aggregate, two jobs under AQE). Time-range
    * pruning is the catalog's granularity trade (a catalog row says
    * the series exists, not when), so this count upper-bounds the
    * points-side resolve — conservative in exactly the direction a
    * guardrail wants. */
  def resolveSeriesCountFromCatalog(catalog: DataFrame, q: TsdbQuery): Long = {
    val sub = q.queries.head
    var df = catalog.where(col("metric") === sub.metric)
    sub.filters.foreach { f => df = df.where(TagFilters.toMapPredicate(col("tags"), f)) }
    graft.core.Exec.forceRows(df.select(lit(1)))
  }

  /** What one single-subquery request reads: its distinct series and
    * the points they carry in its range. */
  private[tsdb] final case class Resolved(series: Long, points: Long)

  /** Resolve every single-subquery request in `qs` in ONE grouped pass
    * over `scan`: group by series (metric, canonical tags), count each
    * request's matching points per series (its metric ∧ time range ∧
    * tag filters), and fold the per-series counts into (series, points)
    * per request partition by partition. Two jobs however many
    * requests: the grouped aggregate's map stage and the fold. The
    * driver receives one array of 2 × |qs| longs per partition, never
    * a series list. */
  private[tsdb] def resolve(scan: DataFrame, qs: Seq[TsdbQuery]): Seq[Resolved] = {
    val n = qs.size
    if (n == 0) return Nil
    val counts = qs.zipWithIndex.map { case (q, i) => count(when(matches(q), 1)).as(s"n$i") }
    val perSeries = scan
      .where(col("metric").isin(qs.map(_.queries.head.metric).distinct: _*))
      .where(col("ts_ms") >= qs.map(_.startMs).min && col("ts_ms") < qs.map(_.endMs).max)
      .groupBy(col("metric"), Catalog.canonicalTags.as("series_key"))
      .agg(counts.head, counts.tail: _*)
      .select(counts.indices.map(i => col(s"n$i")): _*)
    val totals = perSeries.queryExecution.toRdd.mapPartitions { rows =>
      val acc = new Array[Long](2 * n)
      rows.foreach { r =>
        var i = 0
        while (i < n) {
          val pts = r.getLong(i)
          if (pts > 0L) { acc(i) += 1L; acc(n + i) += pts }
          i += 1
        }
      }
      Iterator(acc)
    }.fold(new Array[Long](2 * n))((a, b) => a.zip(b).map { case (x, y) => x + y })
    (0 until n).map(i => Resolved(totals(i), totals(n + i)))
  }

  /** [[run]] behind the request caps: over `maxTimeseries` resolved
    * series → hard [[CapExceededException]] (the mycenae behavior);
    * over `maxDataPoints` on the downsample grid → COARSEN the bucket
    * interval by the smallest integer factor that fits under the cap
    * (the estimate n_series × n_buckets upper-bounds the per-series
    * grid the downsample/fill stages materialize — conservative by
    * construction, since the later merge can only reduce it). A raw
    * (no-downsample) request has no grid to coarsen, so its point cap
    * is a hard error on the actual matching-row count. Costs one
    * [[resolve]] pass up front — the price of refusing work instead of
    * doing it. Under a finite point cap the pipeline then takes one
    * bounded exchange (see [[Exchange]]). */
  def runCapped(spark: SparkSession, points: DataFrame, q: TsdbQuery,
                caps: Caps): DataFrame = {
    require(q.queries.size == 1, "runCapped executes exactly one SubQuery")
    val r = resolve(points, Seq(q)).head
    val (out, order) = runUnsorted(points,
      q.copy(queries = Seq(cappedSubQuery(q, r, caps))), Exchange.of(caps, r))
    out.orderBy(order: _*)
  }

  /** Multi-subquery form, the wire path: the request's scan is built
    * once ([[requestScan]]), every subquery's series and points are
    * resolved over it in one [[resolve]] pass, and each subquery is
    * capped INDEPENDENTLY (their results never join, so per-subquery
    * coarsening is safe — unlike [[runExprCapped]]'s leaves). Frames
    * come back WITHOUT the boundary sort: the response shaping orders
    * each group's `dps` itself (`Response.shape`'s sort_array), so a
    * row order here would be paid for and read by nothing. Use
    * [[runCapped]] per subquery for ordered rows. */
  def runAllCapped(spark: SparkSession, points: DataFrame, q: TsdbQuery,
                   caps: Caps): Seq[DataFrame] = {
    val scan = requestScan(points, q)
    val singles = q.queries.map(sub => q.copy(queries = Seq(sub)))
    singles.zip(resolve(scan, singles)).map { case (q1, r) =>
      runUnsorted(scan, q1.copy(queries = Seq(cappedSubQuery(q1, r, caps))),
        Exchange.of(caps, r))._1
    }
  }

  /** Pure coarsening decision behind the point cap (property-tested in
    * PropertySpec): the smallest integer-factor multiple of
    * `intervalMs` whose grid estimate `nSeries × ceil(range/interval)`
    * fits under `maxDataPoints`; `None` when no interval can help —
    * even one bucket per series breaches the cap, or no multiple of
    * the request interval that fits is representable in a Long.
    * All arithmetic fails CLOSED: estimates saturate instead of
    * wrapping, so an adversarial range (Long.MaxValue-scale) is
    * refused, never admitted.
    * Iterates because ONE ceil-factor step can still land over the cap
    * — `ceil(range/newInterval)` rounds UP (3 buckets coarsened by
    * factor 2 leaves 2 buckets, not 1.5); the factor is ≥2 per step,
    * so it converges in O(log) steps. */
  private def satMul(a: Long, b: Long): Long =
    try math.multiplyExact(a, b)
    catch { case _: ArithmeticException => Long.MaxValue }

  private def ceilDiv(a: Long, b: Long): Long =
    a / b + (if (a % b != 0L) 1L else 0L)

  /** Buckets on the downsample grid: ceil(range/interval), min 1 —
    * computed as div+remainder, not `(range + interval - 1) / interval`,
    * whose addition wraps negative near Long.MaxValue ranges. */
  private[tsdb] def gridBuckets(rangeMs: Long, intervalMs: Long): Long =
    if (rangeMs <= 0L) 1L else ceilDiv(rangeMs, intervalMs)

  /** Grid estimate `nSeries × buckets`, SATURATING at Long.MaxValue: a
    * cap comparison must fail CLOSED when the true size overflows a
    * Long — a wrapped-negative estimate would sail under any cap and
    * admit exactly the pathological request the cap exists to refuse.
    * Single source for [[coarsenedIntervalMs]] and [[runExprCapped]]. */
  private[tsdb] def gridEstimate(nSeries: Long, rangeMs: Long,
                                 intervalMs: Long): Long =
    satMul(nSeries, gridBuckets(rangeMs, intervalMs))

  private[tsdb] def coarsenedIntervalMs(nSeries: Long, rangeMs: Long,
                                        intervalMs: Long,
                                        maxDataPoints: Long): Option[Long] = {
    var now = intervalMs
    while (gridEstimate(nSeries, rangeMs, now) > maxDataPoints &&
           gridBuckets(rangeMs, now) > 1L) {
      val est = gridEstimate(nSeries, rangeMs, now)
      val factor = math.max(2L, ceilDiv(est, maxDataPoints))
      // Growing past Long.MaxValue means no representable multiple of
      // the request interval can fit: REFUSE rather than wrap. (May
      // conservatively refuse when the range is within ~2× of
      // Long.MaxValue ms — hundreds of millions of years — where
      // fail-closed is exactly the cap's job.)
      if (now > Long.MaxValue / factor) return None
      now *= factor
    }
    if (gridEstimate(nSeries, rangeMs, now) > maxDataPoints) None
    else Some(now)
  }

  /** The cap decision for single-subquery request `q` on its resolved
    * count — pure, shared by [[runCapped]] and [[runAllCapped]]: hard
    * error on the series cap, grid coarsening on the point cap, raw-row
    * hard error when there is no grid. */
  private def cappedSubQuery(q: TsdbQuery, r: Resolved, caps: Caps): SubQuery = {
    val sub = q.queries.head
    val nSeries = r.series
    if (nSeries > caps.maxTimeseries)
      throw new CapExceededException(
        s"subquery '${sub.metric}' resolves $nSeries series, over " +
          s"maxTimeseries=${caps.maxTimeseries}")
    sub.downsample match {
      case Some(ds) =>
        coarsenedIntervalMs(nSeries, q.endMs - q.startMs, ds.intervalMs,
          caps.maxDataPoints) match {
          case None =>
            throw new CapExceededException(
              s"subquery '${sub.metric}': even one bucket per series is " +
                s"$nSeries points, over maxDataPoints=${caps.maxDataPoints}")
          case Some(i) if i == ds.intervalMs => sub
          case Some(i) => sub.copy(downsample = Some(ds.copy(intervalMs = i)))
        }
      case None =>
        if (r.points > caps.maxDataPoints)
          throw new CapExceededException(
            s"raw subquery '${sub.metric}' matches ${r.points} points, over " +
              s"maxDataPoints=${caps.maxDataPoints}; add a downsample to " +
              "let the cap coarsen")
        sub
    }
  }

  /** [[runExpr]] behind the request caps: every LEAF pipeline must fit
    * before anything evaluates. Unlike [[runCapped]] this never
    * coarsens — a binop joins its operands point-wise on the bucket
    * grid, so coarsening one leaf and not another would silently
    * desynchronize the join (and coarsening both changes the question
    * being asked); an over-cap expression is a hard error and the
    * caller picks a coarser interval in the expression text. Shift
    * subtrees are checked over the RE-AIMED ranges they will actually
    * scan. */
  def runExprCapped(spark: SparkSession, points: DataFrame,
                    node: Expression.ExprNode, caps: Caps): DataFrame = {
    def leaves(n: Expression.ExprNode): Seq[TsdbQuery] = n match {
      case Expression.QueryNode(q) => Seq(q)
      case Expression.BinOpNode(_, l, r) => leaves(l) ++ leaves(r)
      case Expression.UnOpNode(_, e) => leaves(e)
      case Expression.ShiftNode(d, e) => leaves(Expression.shiftRanges(e, d))
      case Expression.TopNNode(_, _, e) => leaves(e)
      case _: Expression.ScalarNode => Nil
    }
    val ls = leaves(node)
    ls.zip(resolve(points, ls)).foreach { case (q, r) =>
      val sub = q.queries.head
      val n = r.series
      if (n > caps.maxTimeseries)
        throw new CapExceededException(
          s"expression leaf '${sub.metric}' resolves $n series, over " +
            s"maxTimeseries=${caps.maxTimeseries}")
      sub.downsample.foreach { ds =>
        val est = gridEstimate(n, q.endMs - q.startMs, ds.intervalMs)
        if (est > caps.maxDataPoints)
          throw new CapExceededException(
            s"expression leaf '${sub.metric}' grid is $est points, " +
              s"over maxDataPoints=${caps.maxDataPoints}; coarsen the " +
              "downsample interval in the expression")
      }
    }
    runExpr(spark, points, node)
  }

  /** Evaluate a parsed expression tree ([[Expression.parseExpr]]):
    * leaves run through [[run]]; a binop joins its two sides point-wise
    * on (group tags, bucket_ms) — both sides must group by the SAME
    * tags or the point-wise combination is ill-defined — and combines
    * the values (div yields null on a zero denominator, matching the
    * "no data point" reading rather than ±Inf). Intersection semantics:
    * a bucket missing on either side emits nothing; use zero/fill
    * downsample policies in the leaves when a dense result is wanted.
    * Scale shape: each leaf is the ordinary pipeline; the combining
    * join keys on the same (tags, bucket) grouping the merges already
    * shuffled by, so AQE/exchange reuse keeps it one extra small join
    * over REDUCED (series × bucket) frames, never raw points. */
  def runExpr(spark: SparkSession, points: DataFrame,
              node: Expression.ExprNode): DataFrame = {
    val out = evalExpr(points, node)
    // ONE boundary sort for the whole tree (D1's total order is a
    // property of the RESULT; interior Sorts per node were pure waste
    // — VERDICT r7): topn output orders by rank, everything else by
    // its (tags, bucket) key columns
    val order =
      if (out.columns.contains("rnk")) Seq(col("rnk"))
      else out.columns.filter(_ != "value").map(col).toSeq
    out.orderBy(order: _*)
  }

  /** Sort-free recursive evaluator behind [[runExpr]]. */
  private def evalExpr(points: DataFrame,
                       node: Expression.ExprNode): DataFrame = node match {
    case Expression.QueryNode(q) => runUnsorted(points, q)._1
    case Expression.ScalarNode(v) =>
      throw new IllegalArgumentException(
        s"a bare scalar ($v) has no series shape; scalars are binop operands")
    case Expression.ShiftNode(d, inner) =>
      // re-aim the subtree d earlier, evaluate, relabel buckets forward
      // — a map-side projection; the binop join then aligns shifted and
      // unshifted operands on the same (tags, bucket) grid
      val shifted = evalExpr(points, Expression.shiftRanges(inner, d))
      require(shifted.columns.contains("bucket_ms"),
        "shift needs a bucketed (downsampled) inner expression")
      shifted.withColumn("bucket_ms", (col("bucket_ms") + lit(d)).cast("long"))
    case Expression.UnOpNode(op, inner) =>
      // pure map-side projection; -0.0 can't survive abs, so no extra
      // normalization beyond the inner's own 4dp quantization
      val in = evalExpr(points, inner)
      op match {
        case "abs" => in.withColumn("value", abs(col("value")))
        case other => throw new IllegalArgumentException(s"unknown unop: $other")
      }
    case Expression.TopNNode(n, agg, inner) =>
      // rank the inner's series (its groupBy-tag combos) by `agg` of
      // their bucket values; one series-cardinality aggregate + rank
      // window — never a points-sized sort (TopN's scale contract)
      val in = evalExpr(points, inner)
      require(in.columns.contains("bucket_ms"),
        "topn needs a bucketed (downsampled) inner expression")
      val seriesCols = in.columns.filter(c => c != "value" && c != "bucket_ms").toSeq
      require(seriesCols.nonEmpty,
        "topn needs at least one groupBy tag (e.g. {user=*}) to rank series")
      TopN(in, Nil, seriesCols, n, agg)
    case Expression.BinOpNode(op, Expression.ScalarNode(a), r) =>
      // scalar ⊕ series: pure map-side projection over the evaluated
      // side — order and shape preserved, no join
      val rd = evalExpr(points, r)
      rd.withColumn("value", applyOp(op, lit(a), col("value")))
    case Expression.BinOpNode(op, l, Expression.ScalarNode(b)) =>
      val ld = evalExpr(points, l)
      ld.withColumn("value", applyOp(op, col("value"), lit(b)))
    case Expression.BinOpNode(op, l, r) =>
      val ld = evalExpr(points, l)
      val rd = evalExpr(points, r)
      val keys = ld.columns.filter(_ != "value").toSeq
      require(rd.columns.filter(_ != "value").toSeq == keys,
        s"binop '$op' needs both sides grouped by the same tags " +
          s"(${ld.columns.toSeq} vs ${rd.columns.toSeq})")
      ld.select(keys.map(col) :+ col("value").as("lv"): _*)
        .join(rd.select(keys.map(col) :+ col("value").as("rv"): _*), keys)
        .withColumn("value", applyOp(op, col("lv"), col("rv")))
        .select((keys :+ "value").map(col): _*)
  }

  /** Point-wise combinator (4dp-quantized, D3); div → null on a zero
    * denominator — "no data point", never ±Inf. */
  private def applyOp(op: String, lv: org.apache.spark.sql.Column,
                      rv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    op match {
      case "add" => graft.core.D.r4s(lv + rv)
      case "sub" => graft.core.D.r4s(lv - rv)
      case "mul" => graft.core.D.r4s(lv * rv)
      case "div" => graft.core.D.r4s(lv / when(rv === 0.0, lit(null)).otherwise(rv))
      case other => throw new IllegalArgumentException(s"unknown binop: $other")
    }

  /** Flagship (SURVEY §7.1 step 1): events, literal_or filter on
    * event_type ∈ (click,view), 1h-avg downsample per (event_type,user_id)
    * series, merge sum grouped by event_type, total order. */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .where(TagFilters.toPredicate(col("event_type"),
        TagFilterSpec("literal_or", "event_type", "click|view")))
    val down = Downsample(ev, Seq("event_type", "user_id"), 3600000L, "avg")
    val merged = MergeRate.merge(down, Seq("event_type"), "sum")
    merged.select("event_type", "bucket_ms", "value")
      .orderBy("event_type", "bucket_ms")
  }
}
