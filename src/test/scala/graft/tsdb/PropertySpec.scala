package graft.tsdb

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based TSDB invariants (SURVEY §5.2 item 3) over generated
  * point sets. Each property materializes the generated points into a
  * DataFrame and checks the pipeline algebra. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val genPoints: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(1, 60)
    pts <- Gen.listOfN(n, for {
      user <- Gen.choose(1L, 3L)
      ts <- Gen.choose(0L, 10L * 3600000)
      v <- Gen.choose(-1000000L, 1000000L).map(_ / 100.0) // 2dp-exact doubles
    } yield (user, ts, v))
  } yield pts

  private def run(prop: Prop, minTests: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  test("ewma: α=1 is the identity; any α preserves the first value and row count") {
    val prop = Prop.forAll(genPoints) { pts =>
      val ds = Downsample(pts.toDF("user_id", "ts_ms", "value"),
        Seq("user_id"), 3600000L, "avg")
      val base = ds.select("user_id", "bucket_ms", "value")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      // α=1: ewma_t = v_t at every bucket
      val id1 = Downsample.ewma(ds, Seq("user_id"), alpha = 1.0)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      // any α: the first bucket per series is v_1 and nothing is lost
      val half = Downsample.ewma(ds, Seq("user_id"), alpha = 0.5)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      val firsts = base.groupBy(_._1).map { case (u, rs) => u -> rs.head }
      id1 == base && half.size == base.size &&
        firsts.forall { case (u, f) => half.find(_._1 == u).contains(f) }
    }
    run(prop)
  }

  test("interpolating merge equals aligned merge on fully aligned series") {
    // when every series has a value at every bucket of the group there
    // is nothing to interpolate — the two merges must coincide exactly
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val ds = Downsample(df, Seq("user"), 3600000L, "avg")
        // densify: give every (user, bucket) a value (zero-fill), so
        // the series are fully aligned by construction
        val buckets = ds.select("bucket_ms").distinct()
        val users = ds.select("user").distinct()
        val dense = users.crossJoin(buckets)
          .join(ds, Seq("user", "bucket_ms"), "left")
          .withColumn("value", coalesce(col("value"), lit(0.0)))
          .withColumn("g", lit("m"))
        def rows(d: org.apache.spark.sql.DataFrame) =
          d.orderBy("bucket_ms").select("bucket_ms", "value")
            .collect().map(_.toString).toSeq
        rows(MergeRate.mergeInterpolated(dense, Seq("g", "user"), Seq("g"), "sum")) ==
          rows(MergeRate.merge(dense, Seq("g"), "sum"))
      }
    })
  }

  test("downsample(sum) ∘ merge(sum) conserves the total sum") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val merged = MergeRate.merge(
          Downsample(df, Seq("user"), 3600000L, "sum"), Nil, "sum")
        val total = merged.agg(sum(graft.core.D.dec(col("value")))).as[java.math.BigDecimal]
          .head()
        val expected = pts.map(p => BigDecimal(p._3).setScale(4)).sum
        BigDecimal(total) == expected
      }
    })
  }

  test("downsample(count) partitions the points: bucket counts sum to n") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val ds = Downsample(df, Seq("user"), 3600000L, "count")
        ds.agg(sum("value")).as[Long].head() == pts.length
      }
    })
  }

  test("downsample(min) ≤ downsample(avg) ≤ downsample(max) per bucket") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        def d(agg: String) = Downsample(df, Seq("user"), 3600000L, agg)
          .withColumnRenamed("value", agg)
        val joined = d("min").join(d("avg"), Seq("user", "bucket_ms"))
          .join(d("max"), Seq("user", "bucket_ms"))
        // avg is 4dp-rounded → allow half-ulp-of-rounding slack
        joined.where(col("avg") < col("min") - 0.00005 ||
          col("avg") > col("max") + 0.00005).count() == 0
      }
    })
  }

  test("rate of a monotonic counter is never negative") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        // cumulative |v| per user ordered by ts makes a monotonic counter
        val df = pts.toDF("user", "ts_ms", "value")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user").orderBy("ts_ms", "value")))
          .withColumn("counter", sum(abs(graft.core.D.dec(col("value")))).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("user").orderBy("ts_ms", "rn")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .cast("double"))
          // unique bucket per row so rate is defined row-to-row
          .select(col("user"), (col("rn") * 60000L).as("bucket_ms"),
            col("counter").as("value"))
        MergeRate.rate(df, Seq("user"))
          .where(col("rate") < 0).count() == 0
      }
    })
  }

  test("scale invariance: duplicating the corpus doubles sums, keeps avgs") {
    // the 10×-the-data thought experiment as an executable check: avg
    // downsampling is invariant under exact duplication, sum doubles
    // exactly (decimal arithmetic — no float drift at any multiplier)
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("ts_ms"), col("value"))
    val doubled = ev.unionByName(ev)
    val avg1 = Downsample(ev, Seq("event_type", "user_id"), 3600000L, "avg")
    val avg2 = Downsample(doubled, Seq("event_type", "user_id"), 3600000L, "avg")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "user_id", "bucket_ms").collect().map(_.toString).toSeq
    assert(canon(avg1) == canon(avg2), "avg must be invariant under duplication")
    val sum1 = Downsample(ev, Seq("event_type"), 3600000L, "sum")
      .agg(sum(graft.core.D.dec(col("value")))).as[java.math.BigDecimal].head()
    val sum2 = Downsample(doubled, Seq("event_type"), 3600000L, "sum")
      .agg(sum(graft.core.D.dec(col("value")))).as[java.math.BigDecimal].head()
    assert(BigDecimal(sum2) == BigDecimal(sum1) * 2, "sum must exactly double")
  }

  test("percentile downsample: p50 of identical values is the value; p in [min,max]") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val p = Downsample(df, Seq("user"), 3600000L, "p50")
        val mn = Downsample(df, Seq("user"), 3600000L, "min")
          .withColumnRenamed("value", "lo")
        val mx = Downsample(df, Seq("user"), 3600000L, "max")
          .withColumnRenamed("value", "hi")
        p.join(mn, Seq("user", "bucket_ms")).join(mx, Seq("user", "bucket_ms"))
          .where(col("value") < col("lo") || col("value") > col("hi"))
          .count() == 0
      }
    })
  }

  test("zscore anomaly: an injected spike is flagged, its baseline is not") {
    // 30 hourly buckets of constant 10.0 plus one 1000.0 spike at the end;
    // variance needs jitter so alternate 10.0 / 10.2
    val pts = (0 until 30).map(i =>
      (1L, i.toLong * 3600000, if (i % 2 == 0) 10.0 else 10.2)) :+
      (1L, 30L * 3600000, 1000.0)
    val ds = Downsample(pts.toDF("user", "ts_ms", "value"), Seq("user"), 3600000L, "avg")
    val out = Anomaly.zscore(ds, Seq("user"), lookback = 24, minBuckets = 12,
      threshold = 2.0).collect()
    assert(out.length == 1, s"exactly the spike must flag, got ${out.length}")
    assert(out.head.getAs[Long]("bucket_ms") == 30L * 3600000)
    assert(math.abs(out.head.getAs[Double]("z")) > 100,
      "spike z-score must be enormous against a near-constant baseline")
  }

  test("fill=zero adds exactly the missing buckets, fill=none adds none") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val ds = Downsample(df, Seq("user"), 3600000L, "sum")
        val t1 = 10L * 3600000
        val users = ds.select("user").distinct().count()
        val zero = Downsample.withFill(ds, Seq("user"), 3600000L, 0L, t1, "zero")
        zero.count() == users * 10 &&
          Downsample.withFill(ds, Seq("user"), 3600000L, 0L, t1, "none")
            .count() == ds.count()
      }
    })
  }

  test("histogram percentile matches an independent driver-side computation") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val width = 100.0
        val nBins = 25
        val h = Histogram.build(df, Seq("user"), 3600000L, width, nBins)
        val m = Histogram.merge(h, Nil)
        val got = Histogram.percentile(m, Nil, 95, width)
          .select("bucket_ms", "p95")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
        // independent re-computation: raw scala, no Spark machinery
        val expected = pts.groupBy { case (_, ts, _) => ts - ts % 3600000L }
          .map { case (bucket, rows) =>
            val bins = rows.map { case (_, _, v) =>
              math.min(math.floor(v / width).toLong, nBins - 1L) }.sorted
            val total = bins.size
            val cum = scala.collection.mutable.LinkedHashMap[Long, Int]()
            bins.foreach(b => cum(b) = cum.getOrElse(b, 0) + 1)
            var running = 0
            val p = cum.collectFirst { case (b, c)
              if { running += c; running * 100 >= 95 * total } => b }.get
            bucket -> p * width
          }
        got == expected
      }
    })
  }

  test("ddsketch p95 is within the γ relative-error bound of the exact quantile") {
    run(Prop.forAll(genPoints) { pts =>
      val pos = pts.filter(_._3 > 0)
      pos.isEmpty || {
        val df = pos.toDF("user", "ts_ms", "value")
        val g = 1.02
        val sk = Histogram.ddsketchBuild(df, Seq("user"), 3600000L, g)
        val m = Histogram.ddsketchMerge(sk, Nil)
        val got = Histogram.ddsketchPercentiles(m, Nil, Seq(95), g)
          .select("bucket_ms", "est")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
        val alpha = (g - 1) / (g + 1)
        pos.groupBy { case (_, ts, _) => ts - ts % 3600000L }
          .forall { case (bucket, rows) =>
            val vs = rows.map(_._3).sorted
            val total = vs.size
            // the house integer rank rule: smallest v with cum*100 >= 95*total
            val exact = vs(vs.indices.find(i => (i + 1) * 100 >= 95 * total).get)
            // α bound + slack for the two 4dp quantizations (log-ratio, estimate)
            math.abs(got(bucket) - exact) <= alpha * exact * 1.01 + 1e-3
          }
      }
    })
  }

  test("ddsketch merge across series ≡ one unpartitioned sketch; non-positives take the zero bucket") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value")
        val g = 1.02
        val merged = Histogram.ddsketchMerge(
          Histogram.ddsketchBuild(df, Seq("user"), 3600000L, g), Nil)
          .select("bucket_ms", "idx", "cnt")
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val direct = Histogram.ddsketchBuild(df, Nil, 3600000L, g)
          .select("bucket_ms", "idx", "cnt")
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val zeroRows = pts.count(_._3 <= 0).toLong
        merged == direct &&
          direct.collect { case ((_, idx), c) if idx == Histogram.DdZeroIdx => c }
            .sum == zeroRows
      }
    })
  }

  test("topn(avg) equals sort-by-score selection; every score is the series mean") {
    run(Prop.forAll(genPoints) { pts =>
      pts.isEmpty || {
        val df = pts.toDF("user", "ts_ms", "value").withColumn("g", lit("m"))
        val down = Downsample(df, Seq("g", "user"), 3600000L, "avg")
        val n = 2
        val got = TopN(down, Seq("g"), Seq("user"), n)
          .select("user", "score", "rnk")
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
        // independent selection over the collected per-series means —
        // decimal sum + shortest-repr HALF_UP, the exact D.avgDec shape
        // (math.round would diverge on negative half-boundaries)
        def r4(x: Double): Double =
          BigDecimal(x * 10000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 10000.0 + 0.0
        val scores = down.collect()
          .map(r => (r.getAs[Long]("user"), r.getAs[Double]("value")))
          .groupBy(_._1).map { case (u, vs) =>
            (u, r4(vs.map(x => BigDecimal(x._2)).sum.toDouble / vs.size))
          }.toList
        val expected = scores.sortBy { case (u, s) => (-s, u) }.take(n)
          .zipWithIndex.map { case ((u, s), i) => (u, s, (i + 1).toLong) }
        got.sortBy(_._3) == expected
      }
    })
  }

  // independent BigInt re-computation of the grid estimate — immune to
  // the Long-overflow the implementation must guard against
  private def bigEstimate(n: Long, r: Long, iv: Long): BigInt =
    BigInt(n) * (if (r <= 0) BigInt(1) else (BigInt(r) + iv - 1) / iv).max(1)

  test("cap coarsening always lands under the cap; impossible iff one bucket per series is over") {
    // pure-math property behind Pipeline.runCapped's point cap — the
    // single-step version of this logic provably violated the cap
    // (ceil(range/interval) rounds up), so the invariant is pinned
    // over random shapes, not just the two hand-picked cases
    val gen = for {
      nSeries <- Gen.choose(1L, 10000L)
      rangeMs <- Gen.choose(1L, 1000000000L)
      intervalMs <- Gen.choose(1L, 100000000L)
      cap <- Gen.choose(1L, 100000L)
    } yield (nSeries, rangeMs, intervalMs, cap)
    run(Prop.forAll(gen) { case (n, r, i, cap) =>
      Pipeline.coarsenedIntervalMs(n, r, i, cap) match {
        // a returned interval is an integer multiple of the request's
        // (buckets stay aligned to the original grid) and FITS
        case Some(iv) => iv >= i && iv % i == 0 && bigEstimate(n, r, iv) <= cap
        // refusal exactly when no interval can help: one bucket per
        // series already exceeds the cap (ranges here are small enough
        // that a fitting multiple always exists within a Long)
        case None => n > cap
      }
    }, minTests = 2000)
  }

  test("cap coarsening NEVER fails open under Long-overflow adversarial inputs") {
    // the attack the cap exists for: raw unvalidated Long ranges where
    // nSeries × buckets wraps negative in naive arithmetic and sails
    // under the cap — every Some must genuinely fit (BigInt-verified);
    // None is always a legal (fail-closed) answer in this corner
    val gen = for {
      nSeries <- Gen.oneOf(Gen.choose(1L, 10000L),
        Gen.choose(Long.MaxValue / 4, Long.MaxValue))
      rangeMs <- Gen.oneOf(Gen.choose(1L, 1000000000L),
        Gen.choose(Long.MaxValue / 4, Long.MaxValue))
      intervalMs <- Gen.oneOf(Gen.const(1L), Gen.choose(1L, 100000000L),
        Gen.choose(Long.MaxValue / 4, Long.MaxValue))
      cap <- Gen.choose(1L, 1000000L)
    } yield (nSeries, rangeMs, intervalMs, cap)
    run(Prop.forAll(gen) { case (n, r, i, cap) =>
      Pipeline.coarsenedIntervalMs(n, r, i, cap) match {
        case Some(iv) => iv >= i && iv % i == 0 && bigEstimate(n, r, iv) <= cap
        case None => true
      }
    }, minTests = 2000)
    // the review's concrete exploit: 2 series × ~9.2e18 buckets wrapped
    // to -2 and returned Some(1) — must refuse or genuinely coarsen
    Pipeline.coarsenedIntervalMs(2L, Long.MaxValue, 1L, 1000L) match {
      case Some(iv) => assert(bigEstimate(2L, Long.MaxValue, iv) <= 1000L)
      case None => ()
    }
  }
}
