package graft.tsdb

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TSDB pipeline semantics on hand-built micro-frames: fill-policy edge
  * cases, counter wrap/reset, downsample∘merge commutation, catalog
  * prune, partial-aggregation plan shape, TTL vacuum. */
class TsdbSpec extends SparkSpec {
  import spark.implicits._

  private def pts(rows: (String, Long, Long, Double)*) =
    rows.toDF("metric", "user", "ts_ms", "value")

  test("text4: fixed-4dp integer-built text for every magnitude class") {
    // the scalar-column emission behind the fill_nan/wire-rate oracled
    // twins: never scientific notation, never a float printer; sign,
    // zero-pad, sub-1e-3, negative-fraction and exact-integer classes
    val cases = Seq(
      0.0 -> "0.0000",
      1.0 -> "1.0000",
      -1.0 -> "-1.0000",
      0.0005 -> "0.0005",        // Java prints 5.0E-4 — text4 must not
      -0.0003 -> "-0.0003",      // sign rides the whole number, not the int part (0 DIV = 0)
      2.78 -> "2.7800",
      -12345.6789 -> "-12345.6789",
      0.00005 -> "0.0001",       // repair rounding HALF_UP at the 4dp edge
      1e7 -> "10000000.0000")
    val df = cases.map(_._1).toDF("v")
      .select(graft.core.D.text4("v").as("t"))
    assert(df.as[String].collect().toSeq == cases.map(_._2),
      "text4 emission diverged from the fixed-4dp contract")
    // every emitted string is valid JSON numeric syntax → parses back
    cases.foreach { case (v, s) =>
      assert(math.abs(s.toDouble - graft.core.D.r4d(v)) < 1e-12) }
  }

  test("query_last: one row per series; ties at the max timestamp take the larger value") {
    // the exact agg shape tsdb_query_last registers (max over the
    // (ts_ms, value) struct — lexicographic, so the ts tie breaks to
    // the larger value, matching the oracle's join-back + max(value))
    val last = pts(("click", 1L, 100L, 1.0), ("click", 1L, 100L, 2.5),
        ("click", 1L, 50L, 9.9), ("view", 2L, 10L, 7.0))
      .groupBy("metric", "user")
      .agg(max(struct(col("ts_ms"), col("value"))).as("m"))
      .select(col("metric"), col("user"),
        col("m.ts_ms").as("last_ms"), col("m.value").as("last_value"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(last == Set(("click", 1L, 100L, 2.5), ("view", 2L, 10L, 7.0)))
  }

  test("downsample aggregators per series") {
    val df = pts(("m", 1L, 0L, 1.0), ("m", 1L, 1000L, 3.0), ("m", 1L, 61000L, 10.0))
    val out = Downsample(df, Seq("metric", "user"), 60000L, "avg")
      .orderBy("bucket_ms").collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(2.0, 10.0))
    val last = Downsample(df, Seq("metric", "user"), 60000L, "last")
      .orderBy("bucket_ms").collect()
    assert(last.map(_.getAs[Double]("value")).toSeq == Seq(3.0, 10.0))
    val cnt = Downsample(df, Seq("metric", "user"), 60000L, "count")
      .orderBy("bucket_ms").collect()
    assert(cnt.map(_.getAs[Long]("value")).toSeq == Seq(2L, 1L))
  }

  test("request caps: series hard error, grid coarsening, raw-point error") {
    // 10 series × 24 hourly points on the canonical schema
    val points = (0 until 10).flatMap { u =>
      (0 until 24).map(h => ("m", Map("user" -> u.toString), h * 3600000L, u.toDouble))
    }.toDF("metric", "tags", "ts_ms", "value")
    val base = TsdbQuery(0L, 24 * 3600000L, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true)))))
    // under both caps → byte-identical to the uncapped run
    assert(Pipeline.runCapped(spark, points, base, Pipeline.Caps())
      .collect().toSeq == Pipeline.run(spark, points, base).collect().toSeq)
    // 10 resolved series over a 5-series cap → hard error, no pipeline run
    intercept[Pipeline.CapExceededException](
      Pipeline.runCapped(spark, points, base, Pipeline.Caps(maxTimeseries = 5)))
    assert(Pipeline.resolveSeriesCount(points, base) == 10L)
    // the 100 TB form resolves off the reduced catalog, same answer
    assert(Pipeline.resolveSeriesCountFromCatalog(
      Catalog.fromPoints(points), base) == 10L)
    // grid estimate 10 × 24 = 240 over a 100-point cap → interval
    // coarsens by ceil(240/100) = 3 → 3h buckets, 8 per series
    val coarse = Pipeline.runCapped(spark, points, base,
      Pipeline.Caps(maxDataPoints = 100))
    val buckets = coarse.select("bucket_ms").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(buckets == (0 until 8).map(_ * 3 * 3600000L))
    assert(coarse.count() == 80 && coarse.count() <= 100)
    // one ceil-step is not always enough: 10 series × 3 hourly buckets
    // (range 3h) under a 16-point cap: est 30 → factor 2 → 2h leaves
    // ceil(3/2) = 2 buckets = 20 points, STILL over → second step → 4h
    // = 1 bucket = 10 points. The loop must land under the cap.
    val short = TsdbQuery(0L, 3 * 3600000L, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true)))))
    val c2 = Pipeline.runCapped(spark, points, short,
      Pipeline.Caps(maxDataPoints = 16))
    assert(c2.count() <= 16, "iterated coarsening must actually satisfy the cap")
    assert(c2.select("bucket_ms").distinct().count() == 1)
    // ...and when ONE bucket per series still breaches the cap, no
    // interval can help: hard error, not a silently over-cap result
    intercept[Pipeline.CapExceededException](
      Pipeline.runCapped(spark, points, short, Pipeline.Caps(maxDataPoints = 8)))
    // a raw (no-downsample) request has no grid to coarsen: over-cap
    // matching rows → hard error; under cap → passes through
    val raw = TsdbQuery(0L, 24 * 3600000L, Seq(
      SubQuery("m", "sum",
        filters = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true)))))
    intercept[Pipeline.CapExceededException](
      Pipeline.runCapped(spark, points, raw, Pipeline.Caps(maxDataPoints = 100)))
    assert(Pipeline.runCapped(spark, points, raw,
      Pipeline.Caps(maxDataPoints = 1000)).count() == 240)
  }

  test("expression topn ranks the merged series and keeps n") {
    val points = (0 until 6).flatMap { u =>
      (0 until 4).map(h => ("m", Map("user" -> u.toString), h * 3600000L, u * 10.0))
    }.toDF("metric", "tags", "ts_ms", "value")
    val leaf = TsdbQuery(0L, 4 * 3600000L, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true)))))
    val out = Pipeline.runExpr(spark, points,
      Expression.TopNNode(3, "avg", Expression.QueryNode(leaf))).collect()
    // series value ≡ 10u → avg score 10u → top-3 = users 5, 4, 3
    assert(out.map(r => (r.getAs[String]("tag_user"),
      r.getAs[Double]("score"), r.getAs[Long]("rnk"))).toSeq ==
      Seq(("5", 50.0, 1L), ("4", 40.0, 2L), ("3", 30.0, 3L)))
    // a topn over an ungrouped inner has no series to rank
    val ungrouped = TsdbQuery(0L, 4 * 3600000L, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")))))
    intercept[IllegalArgumentException](
      Pipeline.runExpr(spark, points,
        Expression.TopNNode(3, "avg", Expression.QueryNode(ungrouped))))
  }

  test("multi-subquery caps: each subquery capped independently over the shared scan") {
    val points = (0 until 10).flatMap { u =>
      (0 until 24).map(h => ("m", Map("user" -> u.toString), h * 3600000L, 1.0))
    }.toDF("metric", "tags", "ts_ms", "value")
      .unionByName((0 until 2).flatMap { u =>
        (0 until 24).map(h => ("k", Map("user" -> u.toString), h * 3600000L, 2.0))
      }.toDF("metric", "tags", "ts_ms", "value"))
    val wild = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true))
    val q = TsdbQuery(0L, 24 * 3600000L, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = wild),
      SubQuery("k", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = wild)))
    // 'm' (10 × 24 = 240 grid points) coarsens to 3h; 'k' (2 × 24 = 48)
    // stays hourly — independent results, independent decisions
    val parts = Pipeline.runAllCapped(spark, points, q,
      Pipeline.Caps(maxDataPoints = 100))
    assert(parts(0).select("bucket_ms").distinct().count() == 8)
    assert(parts(1).select("bucket_ms").distinct().count() == 24)
    // the series cap reads per subquery: 'm' resolves 10 > 5 → error
    intercept[Pipeline.CapExceededException](
      Pipeline.runAllCapped(spark, points, q, Pipeline.Caps(maxTimeseries = 5)))
  }

  test("expression caps: any over-cap leaf hard-errors before evaluation") {
    val points = (0 until 6).flatMap { u =>
      (0 until 24).map(h => ("m", Map("user" -> u.toString), h * 3600000L, 1.0))
    }.toDF("metric", "tags", "ts_ms", "value")
    val leaf = TsdbQuery(0L, 24 * 3600000L, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true)))))
    val node = Expression.BinOpNode("sub",
      Expression.QueryNode(leaf), Expression.QueryNode(leaf))
    // 6 series over a 4-series cap → error from the leaf walk
    intercept[Pipeline.CapExceededException](
      Pipeline.runExprCapped(spark, points, node, Pipeline.Caps(maxTimeseries = 4)))
    // 6 × 24 = 144 grid points over a 100-point cap → error, NO
    // coarsening (coarsening one binop leaf would desync the join grid)
    intercept[Pipeline.CapExceededException](
      Pipeline.runExprCapped(spark, points, node, Pipeline.Caps(maxDataPoints = 100)))
    // under both caps: identical to the uncapped evaluation
    assert(Pipeline.runExprCapped(spark, points, node, Pipeline.Caps())
      .collect().toSeq ==
      Pipeline.runExpr(spark, points, node).collect().toSeq)
  }

  test("linear fill interpolates interior gaps, leaves edges null") {
    // series values 2.0 @ bucket1 and 8.0 @ bucket4 over spine [0,6):
    // buckets 2,3 lerp to 4.0,6.0; buckets 0 and 5 have one-sided
    // anchors and must stay null
    val df = pts(("m", 1L, 60000L, 2.0), ("m", 1L, 240000L, 8.0))
    val ds = Downsample(df, Seq("user"), 60000L, "sum")
    val grid = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 360000L, "null")
    val out = Downsample.fillLinear(grid, Seq("user"))
      .orderBy("bucket_ms").collect()
    assert(out.length == 6)
    def v(i: Int): Option[Double] =
      if (out(i).isNullAt(out(i).fieldIndex("value"))) None
      else Some(out(i).getAs[Double]("value"))
    assert(v(0).isEmpty && v(5).isEmpty, "one-sided gaps stay null")
    assert(v(1).contains(2.0) && v(4).contains(8.0), "real points unchanged")
    assert(v(2).contains(4.0) && v(3).contains(6.0), "interior gaps lerp")
  }

  test("fill policies: zero fills gaps, null keeps them, none drops them") {
    val df = pts(("m", 1L, 0L, 1.0), ("m", 1L, 120000L, 5.0)) // gap at bucket 1
    val ds = Downsample(df, Seq("user"), 60000L, "sum")
    val zero = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 180000L, "zero")
      .orderBy("bucket_ms").collect()
    assert(zero.length == 3)
    assert(zero.map(_.getAs[Double]("value")).toSeq == Seq(1.0, 0.0, 5.0))
    val nul = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 180000L, "null")
      .orderBy("bucket_ms").collect()
    assert(nul(1).isNullAt(nul(1).fieldIndex("value")))
    val nan = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 180000L, "nan")
      .orderBy("bucket_ms").collect()
    assert(nan(1).getAs[Double]("value").isNaN)
    val none = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 180000L, "none")
    assert(none.count() == 2)
  }

  test("fill keeps the values of a group whose tag value is null") {
    // not_literal_or admits a series WITHOUT the filtered tag key, so its
    // group-tag value is null: the fill must key that group like any
    // other, keep its downsampled values and fill only its real gaps —
    // on the uncapped path and on the capped one (one tag-keyed exchange
    // after the downsample)
    val H = 3600000L
    val points = Seq(
      ("m", Map("user" -> "1"), 0L, 1.0),
      ("m", Map("user" -> "2"), 0L, 2.0), ("m", Map("user" -> "2"), 2 * H, 4.0),
      ("m", Map("host" -> "a"), H, 5.0), ("m", Map("host" -> "a"), 3 * H, 7.0))
      .toDF("metric", "tags", "ts_ms", "value")
    def req(fill: String) = TsdbQuery(0L, 4 * H, Seq(
      SubQuery("m", "sum", downsample = Some(DownsampleSpec(H, "avg", fill)),
        filters = Seq(TagFilterSpec("not_literal_or", "user", "1", groupBy = true)))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("tag_user"), col("bucket_ms"), col("value").cast("double"))
        .as[(Option[String], Long, Double)].collect().toSet
    val expect = Set[(Option[String], Long, Double)](
      (Some("2"), 0L, 2.0), (Some("2"), H, 0.0), (Some("2"), 2 * H, 4.0), (Some("2"), 3 * H, 0.0),
      (None, 0L, 0.0), (None, H, 5.0), (None, 2 * H, 0.0), (None, 3 * H, 7.0))
    assert(rows(Pipeline.run(spark, points, req("zero"))) == expect)
    assert(rows(Pipeline.runCapped(spark, points, req("zero"),
      Pipeline.Caps(maxDataPoints = 100))) == expect)
    assert(rows(Pipeline.run(spark, points, req("none"))) ==
      expect.filter(r => r._3 != 0.0))
  }

  test("fill spine covers head and tail gaps") {
    val df = pts(("m", 1L, 60000L, 2.0))
    val ds = Downsample(df, Seq("user"), 60000L, "sum")
    val filled = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 240000L, "zero")
      .orderBy("bucket_ms").collect()
    assert(filled.map(_.getAs[Long]("bucket_ms")).toSeq == Seq(0L, 60000L, 120000L, 180000L))
    assert(filled.map(_.getAs[Double]("value")).toSeq == Seq(0.0, 2.0, 0.0, 0.0))
  }

  test("nan fill pins head, interior, and tail gaps as NaN") {
    // golden.json pins the same policy at fixture scale
    // (tsdb_downsample_fill_nan); this is the semantic micro-pin
    val df = pts(("m", 1L, 60000L, 2.0), ("m", 1L, 180000L, 4.0))
    val ds = Downsample(df, Seq("user"), 60000L, "sum")
    val filled = Downsample.withFill(ds, Seq("user"), 60000L, 0L, 300000L, "nan")
      .orderBy("bucket_ms").collect()
    val vs = filled.map(_.getAs[Double]("value"))
    assert(vs.length == 5)
    assert(vs(0).isNaN && vs(2).isNaN && vs(4).isNaN,
      "head/interior/tail gaps must all fill NaN")
    assert(vs(1) == 2.0 && vs(3) == 4.0, "real points must survive the fill")
  }

  test("time-weighted average weights by holding time, not sample count") {
    // 10 holds [0, 30min), 20 holds [30min, 60min) → twa 15.0 even though
    // a burst of repeated 20-samples would skew a plain avg
    val df = pts(("m", 1L, 0L, 10.0), ("m", 1L, 1800000L, 20.0),
      ("m", 1L, 2700000L, 20.0)) // extra sample same value: twa unchanged
    val twa = Downsample.timeWeightedAvg(df, Seq("user"), 3600000L)
      .select("twa").as[Double].head()
    assert(twa == 15.0)
    // plain avg would be (10+20+20)/3 = 16.67 — different, by design
    val plain = Downsample(df, Seq("user"), 3600000L, "avg")
      .select("value").as[Double].head()
    assert(plain > 16.0)
  }

  test("fill spine enforces the maxDataPoints-style cap") {
    val df = pts(("m", 1L, 0L, 1.0))
    val ds = Downsample(df, Seq("user"), 1000L, "sum")
    intercept[IllegalArgumentException] {
      Downsample.withFill(ds, Seq("user"), 1000L,
        0L, 365L * 86400000L, "zero", maxBuckets = 10000L)
    }
  }

  test("rate: plain deltas and counter wrap / reset suppression") {
    val ds = Seq((1L, 0L, 10.0), (1L, 60000L, 70.0), (1L, 120000L, 10.0))
      .toDF("user", "bucket_ms", "value")
    val plain = MergeRate.rate(ds, Seq("user")).orderBy("bucket_ms").collect()
    assert(plain(0).isNullAt(plain(0).fieldIndex("rate")))
    assert(plain(1).getAs[Double]("rate") == 1.0)   // +60 over 60s
    assert(plain(2).getAs[Double]("rate") == -1.0)
    // counter with wrap at 100: delta -60 → +40 → 40/60s
    val ctr = MergeRate.rate(ds, Seq("user"),
      RateOptions(counter = true, counterMax = Some(100L))).orderBy("bucket_ms").collect()
    assert(ctr(2).getAs[Double]("rate") == math.rint(40.0 / 60.0 * 10000) / 10000)
    // resetValue: spikes above it are nulled
    val rst = MergeRate.rate(ds, Seq("user"),
      RateOptions(counter = true, counterMax = Some(100L), resetValue = Some(30L)))
      .orderBy("bucket_ms").collect()
    assert(rst(2).isNullAt(rst(2).fieldIndex("rate")))
  }

  test("interpolating merge lerps a series to its group's timestamps") {
    // A samples at 0 and 2h (1.0 → 3.0), B only at 1h (10.0): the
    // interpolating merge fills A's 1h as 2.0 and leaves B's edges
    // null (no extrapolation) — bucket-aligned merge would read 10.0
    // at 1h instead of 12.0
    val ds = Seq(
      ("m", 1L, 0L, 1.0), ("m", 1L, 7200000L, 3.0),
      ("m", 2L, 3600000L, 10.0)
    ).toDF("g", "user", "bucket_ms", "value")
    val out = MergeRate.mergeInterpolated(ds, Seq("g", "user"), Seq("g"), "sum")
      .orderBy("bucket_ms")
      .select("bucket_ms", "value").as[(Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1.0), (3600000L, 12.0), (7200000L, 3.0)))
    val aligned = MergeRate.merge(ds, Seq("g"), "sum")
      .orderBy("bucket_ms")
      .select("bucket_ms", "value").as[(Long, Double)].collect().toSeq
    assert(aligned == Seq((0L, 1.0), (3600000L, 10.0), (7200000L, 3.0)))
    // global (no group tags) interpolating merge: one group, same sums
    val global = MergeRate.mergeInterpolated(ds, Seq("g", "user"), Nil, "sum")
      .orderBy("bucket_ms")
      .select("bucket_ms", "value").as[(Long, Double)].collect().toSeq
    assert(global == Seq((0L, 1.0), (3600000L, 12.0), (7200000L, 3.0)))
  }

  test("downsample(sum) then merge(sum) == merge-all sum (commutation)") {
    val df = pts(("m", 1L, 0L, 1.5), ("m", 1L, 1000L, 2.5), ("m", 2L, 500L, 3.0),
      ("m", 2L, 61000L, 4.0))
    val ds = Downsample(df, Seq("metric", "user"), 60000L, "sum")
    val merged = MergeRate.merge(ds, Seq("metric"), "sum")
      .agg(sum("value")).as[Double].head()
    assert(merged == 11.0)
  }

  test("catalog: build, suggest, lookup, prune") {
    val points = Pipeline.eventsAsPoints(spark, sf)
    val cat = Catalog.fromPoints(points)
    assert(cat.columns.toSet == Set("metric", "tags", "tags_canonical", "tsid"))
    assert(cat.count() > 0)
    assert(cat.select("tsid").distinct().count() == cat.count(), "tsid unique")
    val sug = Catalog.suggest(cat, "metric", "c", 10).as[String].collect()
    assert(sug.forall(_.startsWith("c")))
    val looked = Catalog.lookup(cat, "click",
      Seq(TagFilterSpec("regexp", "user", "^1$")), limit = 10)
    assert(looked.count() == 1)
    val pruned = Catalog.pruneByCatalog(points, looked)
    assert(pruned.select("metric").distinct().as[String].collect().toSeq == Seq("click"))
  }

  test("partial aggregation shows in the physical plan (map-side combine)") {
    val plan = Downsample(pts(("m", 1L, 0L, 1.0)), Seq("user"), 60000L, "sum")
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"expected partial+final:\n$plan")
  }

  test("ttl: scan predicate and vacuum rewrite") {
    val now = 200000L
    val df = pts(("m", 1L, 10000L, 1.0), ("m", 1L, 150000L, 2.0))
    assert(Retention.applyTtl(df, "ts_ms", now, 100000L).count() == 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ttl_").toString
    df.write.mode("overwrite").parquet(s"$tmp/in")
    Retention.vacuum(spark, s"$tmp/in", s"$tmp/out", "ts_ms", now, 100000L)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 1 && back.select("value").as[Double].head() == 2.0)
  }

  test("typed Dataset[Point] view round-trips the canonical schema") {
    val ds = Pipeline.typedPoints(spark, sf)
    val p = ds.head()
    assert(p.tags.contains("user") && p.value.isDefined && p.text.isEmpty)
    assert(ds.count() == Pipeline.eventsAsPoints(spark, sf).count())
  }

  test("expression pipeline end-to-end matches hand-built pipeline") {
    val q = Expression.parse(
      "merge(sum, downsample(1h, avg, none, query(click, {}, 30d)))", graft.core.Tables.NowMs)
    val viaExpr = Pipeline.run(spark, Pipeline.eventsAsPoints(spark, sf), q)
    val ev = graft.core.Tables.events(spark, sf).where(col("event_type") === "click")
    val hand = MergeRate.merge(
      Downsample(ev, Seq("user_id"), 3600000L, "avg"), Nil, "sum")
    // compare exact row multisets (a plain double-sum over the frame would
    // itself be float-order-sensitive)
    val exprRows = viaExpr.select("bucket_ms", "value")
      .as[(Long, Double)].collect().sorted.toSeq
    val handRows = hand.select("bucket_ms", "value")
      .as[(Long, Double)].collect().sorted.toSeq
    assert(exprRows == handRows)
  }

  test("merge skips NaN-filled points (OpenTSDB missing-point semantics)") {
    // series a has a real value at both buckets; series b is missing at
    // bucket 0 (NaN-filled). avg must divide by the PRESENT count, max
    // must not return NaN, count must count only real points.
    val filled = Seq(
      ("a", 0L, 10.0), ("a", 1000L, 20.0),
      ("b", 0L, Double.NaN), ("b", 1000L, 40.0)
    ).toDF("series", "bucket_ms", "value")
    def merged(agg: String) =
      MergeRate.merge(filled, Nil, agg)
        .orderBy("bucket_ms").as[(Long, Double)].collect().toSeq
    assert(merged("avg") == Seq((0L, 10.0), (1000L, 30.0)),
      "NaN must not inflate the avg denominator")
    assert(merged("max") == Seq((0L, 10.0), (1000L, 40.0)),
      "NaN must not win max")
    val counts = MergeRate.merge(filled, Nil, "count")
      .orderBy("bucket_ms").as[(Long, Long)].collect().toSeq
    assert(counts == Seq((0L, 1L), (1000L, 2L)),
      "count must count only present points")
    // first/last downsample tie-break: duplicate ts in one bucket must
    // resolve deterministically by (ts, value), not partial-merge order
    val dup = Seq(("s", 5L, 3.0), ("s", 5L, 1.0), ("s", 7L, 9.0))
      .toDF("series", "ts_ms", "value")
    val first = Downsample(dup, Seq("series"), 1000L, "first")
      .select("value").as[Double].head()
    val last = Downsample(dup, Seq("series"), 1000L, "last")
      .select("value").as[Double].head()
    assert(first == 1.0 && last == 9.0)
  }

  test("trend: trapezoidal integral, OLS fit/forecast, moving median") {
    val H = 3600000L
    // integral: two trapezoids over hourly buckets —
    // (1+3)/2·1h + (3+5)/2·1h = 6.0; a singleton series emits auc=0
    val ds = Seq(("a", 0L, 1.0), ("a", H, 3.0), ("a", 2 * H, 5.0),
        ("b", 0L, 7.0))
      .toDF("series", "bucket_ms", "value")
    val auc = Trend.integral(ds, Seq("series"))
      .orderBy("series").as[(String, Double, Long)].collect().toSeq
    assert(auc == Seq(("a", 6.0, 2L), ("b", 0.0, 0L)))

    // an exact line y = 2x + 1 is recovered exactly; forecast at
    // xmax + 7 continues it; the singleton series is dropped
    val line = Seq(("a", 0L, 1.0), ("a", H, 3.0), ("a", 2 * H, 5.0),
        ("a", 3 * H, 7.0), ("b", 0L, 4.0))
      .toDF("series", "bucket_ms", "value")
    val fit = Trend.linearFit(line, Seq("series"), H, horizon = 7)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(fit == Seq(("a", 4L, 2.0, 1.0, 2.0 * 10 + 1)))

    // moving median window=3: ramp-up rows use what exists (1-row
    // median, then even 2-row mean, then full odd window)
    val mm = Seq(("s", 0L, 5.0), ("s", H, 1.0), ("s", 2 * H, 9.0),
        ("s", 3 * H, 3.0)).toDF("series", "bucket_ms", "value")
    val med = Trend.movingMedian(mm, Seq("series"), window = 3)
      .orderBy("bucket_ms").select("median").as[Double].collect().toSeq
    assert(med == Seq(5.0, 3.0, 5.0, 3.0))
  }

  test("trend: holt recurrence trace and changepoint split") {
    val H = 3600000L
    // hand-checked α=β=0.5 trace over [3.1, 7.2, 31.1]
    val hs = Seq(("s", 0L, 3.1), ("s", H, 7.2), ("s", 2 * H, 31.1))
      .toDF("series", "bucket_ms", "value")
    val holt = Trend.holt(hs, Seq("series"), alpha = 0.5, beta = 0.5)
      .orderBy("bucket_ms").select("level", "trend")
      .as[(Double, Double)].collect().toSeq
    assert(holt == Seq((3.1, 0.0), (5.15, 1.025), (18.6375, 7.2563)))

    // seasonal dow: 2024-01-01 (epoch day 19723) is a Monday → dow=1
    // under the +4 shift (Sunday=0); same-weekday buckets share the
    // profile mean, residuals decompose around it
    val D = 86400000L
    val t0 = 19723L * D
    val sd = Seq(("s", t0, 2.0), ("s", t0 + D, 5.0), ("s", t0 + 7 * D, 4.0))
      .toDF("series", "bucket_ms", "value")
    val prof = Trend.seasonalDow(sd, Seq("series"))
      .orderBy("bucket_ms")
      .select("dow", "dow_mean", "resid").as[(Int, Double, Double)].collect().toSeq
    assert(prof == Seq((1, 3.0, -1.0), (2, 5.0, 0.0), (1, 3.0, 1.0)))

    // an obvious level shift: [1, 1, 1, 9, 9] splits after bucket 3
    val cs = Seq(("s", 0L, 1.0), ("s", H, 1.0), ("s", 2 * H, 1.0),
      ("s", 3 * H, 9.0), ("s", 4 * H, 9.0)).toDF("series", "bucket_ms", "value")
    val cp = Trend.changepoint(cs, Seq("series"))
      .as[(String, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(cp == Seq(("s", 2 * H, 3L, 2L, 1.0, 9.0, 8.0)))
  }

  test("irregular ewma matches a brute-force per-user fold") {
    // exact mirror of D.r4s: shortest-repr BigDecimal HALF_UP, like
    // Spark's Round (math.round would diverge on negative .5 halves)
    def q4(x: Double): Double = BigDecimal(x * 10000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 10000.0 + 0.0
    val got = graft.SparkEntry.queries("tsdb_ewma_irregular")(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    val ev = graft.core.Tables.events(spark, sf)
      .where(col("event_type") === "click")
      .select("user_id", "ts_ms", "event_id", "value")
      .as[(Long, Long, Long, Double)].collect()
    val expect = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      var prevTs = -1.0
      var e = 0.0
      sorted.map { case (_, ts, id, v) =>
        e = if (prevTs < 0) v
            else q4(v + q4(math.exp(-(ts - prevTs) / 21600000.0)) * (e - v))
        prevTs = ts.toDouble
        (u, ts, id, e)
      }
    }.sortBy(r => (r._1, r._2, r._3))
    assert(got == expect, "HOF fold must equal the scalar recurrence")
    // decay sanity: a point long after its predecessor forgets history
    // (d -> 0 => ewma ~ v); the brute force above already pins exact
    // values, so just assert the fold emitted one row per input point
    assert(got.size == ev.length)
  }

  test("ddsketch rollup: day sketches merged to week == built at week") {
    // merge associativity made concrete: re-bucketing per-day sketches
    // to the week and merging must give the same percentile rows as
    // building the sketch at weekly granularity directly — the
    // property that lets stored day sketches serve any coarser rollup
    val g = 1.02
    val ev = graft.core.Tables.events(spark, sf)
    val rolled = graft.SparkEntry.queries("tsdb_ddsketch_rollup")(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSeq
    val wk = 7L * 86400000L
    val direct = {
      val sk = Histogram.ddsketchBuild(ev, Seq("event_type", "user_id"), wk, gamma = g)
      val m = Histogram.ddsketchMerge(sk, Seq("event_type"))
      Histogram.ddsketchPercentiles(m, Seq("event_type"), Seq(50, 95, 99), gamma = g)
        .orderBy("event_type", "bucket_ms", "pct")
        .as[(String, Long, Long, Double)].collect().toSeq
    }
    assert(rolled.nonEmpty && rolled == direct)
  }

  test("kalman: fold matches the scalar recurrence; gain in [0,1)") {
    val rows = graft.SparkEntry.queries("tsdb_kalman")(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, _, k) => k >= 0.0 && k < 1.0 })
    // brute-force the daily series then the filter recurrence
    def q4(x: Double) = math.round(x * 10000.0) / 10000.0
    val day = 86400000L
    val ev = graft.core.Tables.events(spark, sf)
      .where(col("event_type") === "click")
      .select("user_id", "ts_ms", "value")
      .as[(Long, Long, Double)].collect()
    val ds = ev.groupBy(e => (e._1, e._2 - e._2 % day)).map { case (key, xs) =>
      val sum = xs.map(x => BigDecimal(x._3)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      (key, q4(sum.toDouble / xs.size))
    }
    val expect = ds.groupBy(_._1._1).flatMap { case (u, cells) =>
      val ordered = cells.toSeq.sortBy(_._1._2)
      var x = ordered.head._2; var p = 1.0; var k = 0.0
      ordered.zipWithIndex.map { case (((_, b), v), i) =>
        if (i > 0) {
          val pp = p + 1.0
          k = pp / (pp + 4.0)
          x = x + k * (v - x)
          p = (1.0 - k) * pp
        }
        ((u, b), (q4(x), q4(k)))
      }
    }
    assert(rows.size == expect.size)
    rows.foreach { case (u, b, lv, gn) =>
      val (ex, ek) = expect((u, b))
      assert(math.abs(lv - ex) < 1e-9 && math.abs(gn - ek) < 1e-9, s"$u@$b")
    }
  }

  test("period detect: arg-max over a brute-force 1-7d ACF sweep") {
    val rows = graft.SparkEntry.queries("tsdb_period_detect")(spark, sf)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, pd, r, n) =>
      pd >= 1 && pd <= 7 && r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9 && n >= 10 })
    def q4(x: Double) = math.round(x * 10000.0) / 10000.0
    val day = 86400000L
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts_ms", "value")
      .as[(Long, Long, Double)].collect()
    val ds = ev.groupBy(e => (e._1, e._2 - e._2 % day)).map { case (key, xs) =>
      val sum = xs.map(x => BigDecimal(x._3)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      (key, q4(sum.toDouble / xs.size))
    }
    val expect = ds.groupBy(_._1._1).flatMap { case (u, cells) =>
      val m = cells.map { case ((_, b), v) => (b, v) }
      val acf = (1L to 7L).flatMap { lag =>
        val pairs = m.toSeq.flatMap { case (b, v) =>
          m.get(b + lag * day).map(w => (v, w)) }
        val n = pairs.size
        if (n < 10) None else {
          def d4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          val sx = pairs.map(p => d4(p._1)).sum.toDouble
          val sy = pairs.map(p => d4(p._2)).sum.toDouble
          val sxy = pairs.map(p => d4(p._1) * d4(p._2)).sum.toDouble
          val sxx = pairs.map(p => d4(p._1) * d4(p._1)).sum.toDouble
          val syy = pairs.map(p => d4(p._2) * d4(p._2)).sum.toDouble
          val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
          if (vx <= 0 || vy <= 0) None
          else Some((lag, q4((n * sxy - sx * sy) / math.sqrt(vx * vy)), n.toLong))
        }
      }
      if (acf.isEmpty) None
      else {
        val best = acf.maxBy(a => (a._2, -a._1))
        Some((u, best))
      }
    }
    assert(rows.size == expect.size)
    rows.foreach { case (u, pd, r, n) =>
      val (epd, er, en) = expect(u)
      assert(pd == epd && math.abs(r - er) < 1e-9 && n == en, s"user $u")
    }
  }

  test("savgol: stencil matches brute force; edges and gaps excluded") {
    val rows = graft.SparkEntry.queries("tsdb_savgol")(spark, sf)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(rows.nonEmpty)
    // brute-force the hourly series, then the 5-point stencil
    val h = 3600000L
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_type", "ts_ms", "value")
      .as[(String, Long, Double)].collect()
    def q4(x: Double) = math.round(x * 10000.0) / 10000.0
    val ds = ev.groupBy(e => (e._1, e._2 - e._2 % h)).map { case ((m, b), xs) =>
      val sum = xs.map(x => BigDecimal(x._3).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .sum
      ((m, b), q4(sum.toDouble / xs.size))
    }
    val expect = ds.flatMap { case ((m, b), _) =>
      val st = (-2 to 2).map(k => ds.get((m, b + k * h)))
      if (st.forall(_.isDefined)) {
        val v = st.map(_.get)
        val num = BigDecimal(v(0)) * -3 + BigDecimal(v(1)) * 12 +
          BigDecimal(v(2)) * 17 + BigDecimal(v(3)) * 12 + BigDecimal(v(4)) * -3
        Some(((m, b), q4(num.toDouble / 35.0)))
      } else None
    }.toMap
    assert(rows.size == expect.size)
    rows.foreach { case (m, b, _, sm) =>
      assert(math.abs(sm - expect((m, b))) < 1e-9, s"$m@$b")
    }
  }

  test("DTW: identity zero, symmetry, hand-computed alignment, monotone under shift") {
    import graft.tsdb.Correlate.dtwDistance
    val a = Array(1.0, 2.0, 3.0, 2.0, 1.0)
    assert(dtwDistance(a, a) == 0.0, "a series warps onto itself for free")
    val b = Array(1.0, 3.0, 2.0)
    assert(dtwDistance(a, b) == dtwDistance(b, a), "|.| cost is symmetric")
    // hand-computed: a=[1,2], b=[2] -> dp = |1-2| + |2-2| = 1 (diag then up)
    assert(dtwDistance(Array(1.0, 2.0), Array(2.0)) == 1.0)
    // elastic alignment beats pointwise: [1,2,3] vs [1,1,2,3] warps at cost 0
    assert(dtwDistance(Array(1.0, 2.0, 3.0), Array(1.0, 1.0, 2.0, 3.0)) == 0.0)
    // empty side: no warping path
    assert(dtwDistance(Array.empty[Double], a).isPosInfinity)
    // the registered query agrees with the library function on a real pair
    val row = graft.SparkEntry.queries("tsdb_dtw")(spark, sf)
      .limit(1).collect().headOption
    row.foreach { r =>
      val aId = r.getLong(0); val bId = r.getLong(1)
      val ds = graft.tsdb.Downsample(
        graft.core.Tables.events(spark, sf).where(col("event_type") === "click"),
        Seq("user_id"), 86400000L, "avg")
      def series(id: Long) = ds.where(col("user_id") === id)
        .orderBy("bucket_ms").select("value").as[Double].collect()
      assert(r.getDouble(4) ==
        graft.core.D.r4d(dtwDistance(series(aId), series(bId))))
    }
  }

  test("banded DTW: band ≡ full DP within the band width; narrowing only raises") {
    import graft.tsdb.Correlate.{dtwDistance, dtwDistanceBanded}
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(12)
      val m = 1 + rnd.nextInt(12)
      val a = Array.fill(n)(math.rint(rnd.nextDouble() * 100) / 4)
      val b = Array.fill(m)(math.rint(rnd.nextDouble() * 100) / 4)
      val full = dtwDistance(a, b)
      // a band covering the whole matrix IS the full DP — bit-equal
      assert(dtwDistanceBanded(a, b, math.max(n, m)) == full,
        s"covering band must reproduce the full DP (n=$n m=$m)")
      // restricting the path set can only raise the distance, monotonically
      val ds = (1 to math.max(n, m)).map(w => dtwDistanceBanded(a, b, w))
      ds.sliding(2).filter(_.size == 2).foreach { p =>
        assert(p(0) >= p(1), s"band widening must not raise distance")
      }
      assert(ds.forall(_ >= full) && ds.last == full)
      // the adaptive widening keeps every pair feasible (never +inf)
      assert(!ds.head.isPosInfinity, "length-gap widening must keep a path")
    }
    // hand case where the optimal path LEAVES a narrow band: the spikes
    // sit 2 positions out of phase, so the free alignment needs
    // |i − j| = 2 — full DP (and band ≥ 2) warp at cost 0, band 1 can't
    val a = Array(0.0, 5.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 0.0, 0.0, 5.0, 0.0)
    assert(dtwDistance(a, b) == 0.0)
    assert(dtwDistanceBanded(a, b, 2) == 0.0)
    assert(dtwDistanceBanded(a, b, 1) > 0.0,
      "narrow band must exclude the off-diagonal optimum here")
    // LB_Kim-style prefilter soundness on random pairs: each scalar
    // bound ≤ DTW, so the query's pruning can never drop a qualifier
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(10)
      val m = 1 + rnd.nextInt(10)
      val a = Array.fill(n)(math.rint(rnd.nextDouble() * 100) / 4)
      val b = Array.fill(m)(math.rint(rnd.nextDouble() * 100) / 4)
      val lb = Seq(math.abs(a.head - b.head), math.abs(a.last - b.last),
        math.abs(a.max - b.max), math.abs(a.min - b.min)).max
      assert(lb <= dtwDistance(a, b) + 1e-9,
        s"lower bound must never exceed the true DTW")
    }
  }
}
