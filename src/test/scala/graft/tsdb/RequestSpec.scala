package graft.tsdb

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The OpenTSDB request path at its job floor, over a small landed store
  * (points plus their series catalog, read back from parquet) and the
  * three dashboard shapes the wire serves: the catalog cap check, then
  * [[Pipeline.runAllCapped]], then one collect of the response JSON per
  * frame. */
class RequestSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val Day = 86400000L
  private val Caps = Pipeline.Caps(maxDataPoints = 10000L, maxTimeseries = 10000L)

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_request")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    finally super.afterAll()

  /** 3 metrics × 40 users (tag `user` = 100..139), one point every 6h
    * over the 30 days before now. */
  private lazy val store: (DataFrame, DataFrame) = {
    val now = graft.core.Tables.NowMs
    val pts = (for {
      m <- Seq("click", "view", "error"); u <- 100 until 140; k <- 0 until 120
    } yield (m, Map("user" -> u.toString), now - 30 * Day + k * Day / 4 + u * 60000L,
      ((u + k) % 7) * 1.5)).toDF("metric", "tags", "ts_ms", "value")
    pts.write.parquet(s"$dir/points")
    Catalog.fromPoints(pts).write.parquet(s"$dir/catalog")
    (spark.read.parquet(s"$dir/points"), spark.read.parquet(s"$dir/catalog"))
  }

  private def sub(metric: String, agg: String, ds: String, filter: String,
                  rate: Boolean = false): String =
    s"""{"metric": "$metric", "aggregator": "$agg", "downsample": "$ds"""" +
      (if (rate) """, "rate": true""" else "") + s""", "filters": [$filter]}"""

  /** (name, request body, job ceiling) */
  private val shapes = Seq(
    ("1 subquery, zero fill, wildcard groupBy", s"""{"start": "30d-ago", "queries": [${
      sub("click", "sum", "15m-avg-zero",
        """{"type": "wildcard", "tagk": "user", "filter": "12*", "groupBy": true}""")}]}""", 5),
    ("3 subqueries, no fill, regexp groupBy", s"""{"start": "7d-ago", "queries": [${
      Seq("sum" -> "view", "count" -> "click", "max" -> "view").map { case (agg, m) =>
        sub(m, "avg", s"1d-$agg",
          """{"type": "regexp", "tagk": "user", "filter": "^11[0-9]$", "groupBy": true}""")
      }.mkString(", ")}]}""", 12),
    ("rate, null fill, literal_or, no groupBy", s"""{"start": "1d-ago", "queries": [${
      sub("error", "max", "30m-max-null",
        """{"type": "literal_or", "tagk": "user", "filter": "101|117|133", "groupBy": false}""",
        rate = true)}]}""", 5))

  private def parse(body: String): TsdbQuery = RequestJson.parse(body, graft.core.Tables.NowMs)

  /** The wire frames of one request: rate subqueries report the rate. */
  private def respond(q: TsdbQuery, frames: Seq[DataFrame]): Seq[DataFrame] =
    frames.zip(q.queries).map { case (df, s) =>
      val groupTags = s.filters.filter(_.groupBy).map(_.tagk).distinct
      val merged =
        if (!s.rate) df
        else df.where(col("rate").isNotNull).drop("value").withColumnRenamed("rate", "value")
      Response.toJsonRows(merged, s.metric, groupTags, Seq("user").diff(groupTags))
    }

  private def json(frames: Seq[DataFrame]): Seq[Seq[String]] =
    frames.map(_.collect().map(_.getString(0)).toSeq.sorted)

  for ((name, body, ceiling) <- shapes) {
    test(s"request job floor: $name runs at most $ceiling jobs") {
      val (points, catalog) = store
      val q = parse(body)
      var rows = Seq.empty[Seq[String]]
      val jobs = jobCount {
        q.queries.foreach { s =>
          assert(Pipeline.resolveSeriesCountFromCatalog(catalog, q.copy(queries = Seq(s))) <=
            Caps.maxTimeseries)
        }
        rows = json(respond(q, Pipeline.runAllCapped(spark, points, q, Caps)))
      }
      info(s"$jobs jobs")
      assert(rows.forall(_.nonEmpty), s"$name: every subquery must answer")
      assert(jobs <= ceiling, s"$name ran $jobs jobs, over its floor of $ceiling")
    }

    test(s"runAllCapped ≡ runCapped per subquery: $name") {
      val (points, _) = store
      val q = parse(body)
      val all = Pipeline.runAllCapped(spark, points, q, Caps)
      val each = q.queries.map(s => Pipeline.runCapped(spark, points, q.copy(queries = Seq(s)), Caps))
      all.zip(each).foreach { case (a, e) =>
        assert(a.columns.toSeq == e.columns.toSeq)
        assert(a.collect().toSet == e.collect().toSet)
      }
      assert(json(respond(q, all)) == json(respond(q, each)))
    }

    test(s"every exchange placement ≡ the merge's own exchange: $name") {
      // runUnsorted's three placements of the one tag-keyed exchange on
      // the same request: at the scan (the resolved points fit the point
      // cap), after the downsample (they do not, the grid does) and
      // none (uncapped `run`, the merge's own (tags, bucket) exchange).
      // Each capped run must equal `run` over the interval its cap
      // coarsens to, as ordered rows; each subquery also runs raw (no
      // downsample), which only the scan placement admits.
      val (points, _) = store
      val q = parse(body)
      q.queries.flatMap(s => Seq(s, s.copy(downsample = None))).foreach { s =>
        val q1 = q.copy(queries = Seq(s))
        val r = Pipeline.resolve(points, Seq(q1)).head
        val arms = (Long.MaxValue - 1, Pipeline.Exchange.AtScan) +:
          s.downsample.map(_ => (r.points - 1, Pipeline.Exchange.AfterDownsample)).toSeq
        arms.foreach { case (cap, arm) =>
          val caps = Pipeline.Caps(maxDataPoints = cap, maxTimeseries = Long.MaxValue - 1)
          assert(Pipeline.Exchange.of(caps, r) == arm)
          val coarse = s.downsample.map(ds => ds.copy(intervalMs = Pipeline.coarsenedIntervalMs(
            r.series, q.endMs - q.startMs, ds.intervalMs, cap).get))
          assert(Pipeline.runCapped(spark, points, q1, caps).collect().toSeq ==
            Pipeline.run(spark, points, q.copy(queries = Seq(s.copy(downsample = coarse))))
              .collect().toSeq, s"${s.metric} (downsample ${s.downsample}): $arm differs")
        }
      }
    }
  }
}
