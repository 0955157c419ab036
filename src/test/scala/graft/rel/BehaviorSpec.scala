package graft.rel

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Invariant tests for the round-10 additions: behavioral analytics
  * (funnel, cohort retention), subquery forms, rolling distinct,
  * autocorrelation, Bollinger bands, and the BPE-merge step. The exact
  * values are covered by the DuckDB oracle gate; these pin structural
  * invariants that hold at any SF.
  */
class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private def run0(name: String, dir: String) = SparkEntry.queries(name)(spark, dir)
  private def run(name: String) = run0(name, sf)

  test("funnel stages are monotone non-increasing and correctly ordered") {
    val rows = run("evt_funnel").as[(String, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq("1_view", "2_click", "3_purchase"))
    val counts = rows.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(counts.head > 0)
  }

  test("cohort retention: offset-0 cell equals the cohort's user count") {
    val cells = run("evt_retention_cohort")
      .as[(Long, Long, Long)].collect().toSeq
    val zero = cells.filter(_._2 == 0L).map(c => c._1 -> c._3).toMap
    // every cohort has an offset-0 cell (each user is active in their
    // own first week by construction)
    assert(cells.map(_._1).distinct.forall(zero.contains))
    // no later cell exceeds its cohort size
    assert(cells.forall(c => c._3 <= zero(c._1)))
  }

  test("sub_exists matches the equivalent semi/anti join composition") {
    val c = graft.core.Tables.customer(spark, sf)
    val o = graft.core.Tables.orders(spark, sf)
    val urgent = o.where(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val filled = o.where(col("o_orderstatus") === "F").select("o_custkey")
    val expected = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(filled, c("c_custkey") === filled("o_custkey"), "left_anti")
      .select("c_custkey").as[Long].collect().toSet
    val got = run("sub_exists").select("c_custkey").as[Long].collect().toSet
    assert(got == expected)
  }

  test("rolling distinct count is bounded by frame size and type count") {
    val bad = run("win_rolling_distinct")
      .where(col("n_types") < 1 || col("n_types") > 5).count()
    assert(bad == 0L)
  }

  test("autocorrelation r stays in [-1, 1] and lags are 1 or 2") {
    val rows = SparkEntry.queries("tsdb_autocorr")(spark, sf)
      .select("lag_d", "r").as[(Long, Double)].collect().toSeq
    assert(rows.forall { case (l, r) => (l == 1L || l == 2L) && r >= -1.0001 && r <= 1.0001 })
  }

  test("bollinger bands order as lower <= mid <= upper") {
    val bad = SparkEntry.queries("tsdb_bollinger")(spark, sf)
      .where(col("lower") > col("mid") || col("mid") > col("upper")).count()
    assert(bad == 0L)
  }

  test("attribution: touches precede the purchase within 7 days; none iff no touch") {
    val df = SparkEntry.queries("evt_attribution")(spark, sf)
    val badWindow = df.where(col("touch_ts").isNotNull &&
      (col("touch_ts") > col("p_ts") ||
       col("touch_ts") <= col("p_ts") - lit(7L * 86400000L))).count()
    assert(badWindow == 0L)
    val badNone = df.where(
      (col("channel") === "none") =!= col("touch_ts").isNull).count()
    assert(badNone == 0L)
  }

  test("rolling WAU is at least the day's DAU and no more than total users") {
    val e = graft.core.Tables.events(spark, sf)
    val dau = e.select(col("user_id"), expr("ts_ms DIV 86400000").as("day"))
      .distinct().groupBy("day").agg(countDistinct("user_id").as("dau"))
    val total = e.select("user_id").distinct().count()
    val wau = SparkEntry.queries("evt_wau_rolling")(spark, sf)
    val bad = wau.join(dau, "day")
      .where(col("wau") < col("dau") || col("wau") > total).count()
    assert(bad == 0L)
  }

  test("shard assignment partitions the whole corpus across 8 shards") {
    val df = SparkEntry.queries("llm_shard_assign")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(df.map(_._1).toSet.subsetOf((0L until 8L).toSet))
    val total = graft.core.Tables.documents(spark, sf).count()
    assert(df.map(_._2).sum == total)
    assert(df.forall(r => r._3 > 0 && r._4 > 0))
  }

  test("url dedup: exactly one kept doc per canonical url") {
    val df = SparkEntry.queries("llm_url_dedup")(spark, sf)
    val perUrl = df.groupBy("norm_url")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
    assert(perUrl.where(col("kept") =!= 1L).count() == 0L)
    // normalization actually canonicalized: scheme+host lowercased, www
    // and utm params gone
    val bad = df.where(col("norm_url").rlike("WWW|HTTPS|utm_")).count()
    assert(bad == 0L)
  }

  test("sax: strings are a-d only and length matches the bucket count") {
    val rows = SparkEntry.queries("tsdb_sax")(spark, sf)
      .as[(Long, Long, String)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, n, s) =>
      s.length == n && s.forall(c => c >= 'a' && c <= 'd') })
  }

  test("mad outliers all exceed the 3-MAD fence") {
    val bad = SparkEntry.queries("tsdb_outlier_mad")(spark, sf)
      .where(abs(col("value") - col("med")) <= lit(3.0) * col("mad")).count()
    assert(bad == 0L)
  }

  test("windowed topk keeps at most 3 ranked types per window") {
    val df = SparkEntry.queries("stream_windowed_topk")(spark, sf)
    assert(df.where(col("rnk") > 3).count() == 0L)
    val over = df.groupBy("bucket_ms").agg(count(lit(1)).as("k"))
      .where(col("k") > 3).count()
    assert(over == 0L)
  }

  test("edit-distance dedup finds the exact-dup pairs at distance 0") {
    val df = SparkEntry.queries("llm_dedup_edit_distance")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(df.forall { case (a, b, d) => a < b && d >= 0 && d <= 20 })
    assert(df.exists(_._3 == 0L))
  }

  test("temperature mixture weights are a distribution") {
    val rows = SparkEntry.queries("llm_mixture_temperature")(spark, sf)
      .select("weight").as[Double].collect().toSeq
    assert(rows.forall(w => w > 0.0 && w < 1.0))
    assert(math.abs(rows.sum - 1.0) < 0.01)
  }

  test("ohlc candles bound open and close inside [low, high]") {
    val bad = SparkEntry.queries("tsdb_ohlc")(spark, sf)
      .where(col("open") < col("low") || col("open") > col("high") ||
        col("close") < col("low") || col("close") > col("high")).count()
    assert(bad == 0L)
  }

  test("lateral join keeps at most 2 orders per customer") {
    val over = SparkEntry.queries("join_lateral")(spark, sf)
      .groupBy("c_custkey").agg(count(lit(1)).as("k"))
      .where(col("k") > 2).count()
    assert(over == 0L)
  }

  test("filtered aggregates never exceed the unfiltered count") {
    val bad = SparkEntry.queries("agg_filtered")(spark, sf)
      .where(col("n_disc") > col("n_all") || col("n_recent") > col("n_all"))
      .count()
    assert(bad == 0L)
  }

  test("nth_value is null exactly for single-order customers") {
    val df = SparkEntry.queries("win_nth_value")(spark, sf)
    val sizes = df.groupBy("o_custkey").agg(count(lit(1)).as("k"),
      sum(when(col("second_price").isNull, 1L).otherwise(0L)).as("nulls"))
    val bad = sizes.where(
      (col("k") === 1L && col("nulls") =!= 1L) ||
      (col("k") > 1L && col("nulls") =!= 0L)).count()
    assert(bad == 0L)
  }

  test("streaming ohlc candles bound open/close inside [low, high]") {
    val bad = SparkEntry.queries("stream_ohlc")(spark, sf)
      .where(col("open") < col("low") || col("open") > col("high") ||
        col("close") < col("low") || col("close") > col("high")).count()
    assert(bad == 0L)
  }

  test("markov transitions count one edge per consecutive pair") {
    val df = SparkEntry.queries("evt_markov_transitions")(spark, sf)
    val totalEdges = df.agg(sum("n")).as[Long].head()
    val e = graft.core.Tables.events(spark, sf)
    val events = e.count()
    val users = e.select("user_id").distinct().count()
    assert(totalEdges == events - users) // n-1 edges per user chain
  }

  test("burn rate stays positive and the 24h sums dominate the hour") {
    val bad = SparkEntry.queries("tsdb_burn_rate")(spark, sf)
      .where(col("burn") < 0.0 || col("err") > col("tot")).count()
    assert(bad == 0L)
  }

  test("gap stats: avg <= max and stale counts bounded by gap count") {
    val bad = SparkEntry.queries("tsdb_gap_stats")(spark, sf)
      .where(col("avg_gap_ms") > col("max_gap_ms") ||
        col("n_stale") > col("n_gaps")).count()
    assert(bad == 0L)
  }

  test("heatmap cell counts sum to the filtered event count") {
    val cells = SparkEntry.queries("tsdb_heatmap")(spark, sf)
      .agg(sum("n")).as[Long].head()
    val views = graft.core.Tables.events(spark, sf)
      .where(col("event_type") === "view").count()
    assert(cells == views)
  }

  test("corpus export manifest covers fewer docs than the raw corpus") {
    val df = SparkEntry.queries("llm_corpus_export")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(df.nonEmpty && df.map(_._1).toSet.subsetOf((0L until 8L).toSet))
    val kept = df.map(_._2).sum
    val total = graft.core.Tables.documents(spark, sf).count()
    assert(kept > 0 && kept < total) // the curate gates drop something
    assert(df.forall(r => r._4 <= r._5)) // min_id <= max_id
  }

  test("stickiness stays in (0, 1] and MAU dominates DAU") {
    val bad = SparkEntry.queries("evt_stickiness")(spark, sf)
      .where(col("stickiness") <= 0.0 || col("stickiness") > 1.0 ||
        col("dau") > col("mau")).count()
    assert(bad == 0L)
  }

  test("percentile band orders p10 <= p50 <= p90") {
    val bad = SparkEntry.queries("tsdb_percentile_band")(spark, sf)
      .where(col("p10") > col("p50") || col("p50") > col("p90")).count()
    assert(bad == 0L)
  }

  test("theil-sen pair counts are C(buckets, 2) per series") {
    val rows = SparkEntry.queries("tsdb_theil_sen")(spark, sf)
      .select("n_pairs").as[Long].collect().toSeq
    assert(rows.nonEmpty && rows.forall(n => n >= 1L && n <= 31L * 30L / 2L))
  }

  test("vocab gini lies in [0, 1)") {
    val bad = SparkEntry.queries("llm_vocab_gini")(spark, sf)
      .where(col("gini") < 0.0 || col("gini") >= 1.0).count()
    assert(bad == 0L)
  }

  test("ngram novelty is a fraction of the doc's distinct bigrams") {
    val bad = SparkEntry.queries("llm_ngram_novelty")(spark, sf)
      .where(col("n_novel") > col("n_bigrams") ||
        col("novelty") < 0.0 || col("novelty") > 1.0).count()
    assert(bad == 0L)
  }

  test("merged HLL estimate tracks the exact global distinct") {
    val (est, exact) = SparkEntry.queries("agg_hll_merge")(spark, sf)
      .as[(Double, Long)].head()
    assert(math.abs(est - exact) / exact.toDouble < 0.15)
  }

  test("conversion-time quartiles order p25 <= p50 <= p90") {
    val r = SparkEntry.queries("evt_conversion_time")(spark, sf)
      .as[(Long, Double, Double, Double)].head()
    assert(r._1 > 0 && r._2 <= r._3 && r._3 <= r._4 && r._2 >= 0.0)
  }

  test("forward asof next purchase is never before the signup") {
    val df = SparkEntry.queries("join_asof_forward")(spark, sf)
    val bad = df.where(col("next_purchase_ts").isNotNull &&
      col("next_purchase_ts") < col("s_ts")).count()
    assert(bad == 0L)
    // one row per signup
    val signups = graft.core.Tables.events(spark, sf)
      .where(col("event_type") === "signup").count()
    assert(df.count() == signups)
  }

  test("try_cast rejects exactly the corrupted third") {
    val bad = SparkEntry.queries("fn_try_cast")(spark, sf)
      .where(col("n_rejected") === 0L || col("n_parsed") === 0L).count()
    assert(bad == 0L)
  }

  test("hysteresis invariants: alerts bounded by buckets, episodes by alerts") {
    val bad = SparkEntry.queries("tsdb_alert_hysteresis")(spark, sf)
      .where(col("n_alert") > col("n_buckets") ||
        col("n_episodes") > col("n_alert")).count()
    assert(bad == 0L)
    // non-vacuous: some series actually alert at these thresholds
    val alerting = SparkEntry.queries("tsdb_alert_hysteresis")(spark, sf)
      .where(col("n_episodes") > 0L).count()
    assert(alerting > 0L)
  }

  test("bpe merge emits 2-char pairs with positive weight") {
    val rows = SparkEntry.queries("llm_bpe_merge")(spark, sf)
      .as[(String, Long)].collect().toSeq
    assert(rows.nonEmpty && rows.size <= 20)
    assert(rows.forall { case (p, n) => p.length == 2 && n > 0 })
    // presentation order: weight-descending
    val ns = rows.map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("sequence detect matches a brute-force per-user scan") {
    val got = run("evt_sequence_detect")
      .as[(Long, Long, Long)].collect().toSeq
    // brute force: per user, sort by (ts_ms, event_id), slide a
    // 3-window, count view>click>purchase completing within 72 h
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts_ms", "event_id", "event_type")
      .as[(Long, Long, Long, String)].collect()
    val expect = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val seq3 = rows.sortBy(r => (r._2, r._3)).sliding(3).filter(w =>
        w.length == 3 && w(0)._4 == "view" && w(1)._4 == "click" &&
          w(2)._4 == "purchase" && w(2)._2 - w(0)._2 <= 259200000L).toSeq
      if (seq3.isEmpty) None
      else Some((u, seq3.length.toLong, seq3.map(_(0)._2).min))
    }.toSet
    assert(got.nonEmpty, "detector must be non-vacuous at this sf")
    assert(got.toSet == expect, "window-lead matches must equal brute force")
    // declared total order: n desc, then user
    val key = got.map(r => (-r._2, r._1))
    assert(key == key.sorted)
  }

  test("label propagation matches a brute-force synchronous 2-round run") {
    val got = run("graph_label_propagation")
      .as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty && got.size <= 20)
    // brute force: adjacency from raw lineitem, labels = id, two
    // synchronous modal rounds with the (count desc, label asc) break
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
    li.groupBy(_._1).values.foreach { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b) adj(a) = b :: adj.getOrElse(a, Nil)
    }
    // symmetric closure dedup: neighbor multiplicity must be 1 per edge
    val nbrs = adj.map { case (k, v) => k -> v.distinct }.toMap
    def step(l: Map[Long, Long]): Map[Long, Long] = nbrs.map { case (n, ns) =>
      val byLabel = ns.groupBy(l).view.mapValues(_.size).toSeq
      n -> byLabel.minBy { case (lab, c) => (-c, lab) }._1
    }
    val l2 = step(step(nbrs.keys.map(k => k -> k).toMap))
    val expect = l2.values.groupBy(identity).map { case (l, xs) => (l, xs.size.toLong) }
      .toSeq.sortBy { case (l, n) => (-n, l) }.take(got.size)
    assert(got == expect, "engine LPA must equal the brute-force rounds")
  }

  test("position attribution: per-purchase credits sum to 1") {
    val rows = run("evt_attribution_position")
      .as[(String, Long, Double)].collect().toSeq
    assert(rows.nonEmpty && rows.map(_._1) == rows.map(_._1).sorted)
    // total credit across channels = number of attributed purchases
    // (each path hands out exactly 1.0, middle rounding aside)
    val e = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts_ms", "event_id", "event_type")
      .as[(Long, Long, Long, String)].collect()
    val touches = e.filter(t => t._4 == "click" || t._4 == "view")
    val attributed = e.filter(_._4 == "purchase").count { p =>
      touches.exists(t => t._1 == p._1 && t._2 <= p._2 &&
        t._2 > p._2 - 7L * 86400000L)
    }
    val total = rows.map(_._3).sum
    assert(math.abs(total - attributed) < 0.01 * attributed + 0.01,
      s"credit total $total != attributed purchases $attributed")
    // and the per-model family agrees on scale: touches >= purchases
    assert(rows.map(_._2).sum >= attributed)
  }

  test("adamic-adar matches brute force and respects its bounds") {
    val got = run("graph_adamic_adar")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got.size <= 20)
    // common neighbors of an adjacent pair have degree >= 2, so every
    // term <= 1/ln 2 and the score is bounded by n_common * 1.4427
    assert(got.forall { case (_, _, nc, aa) =>
      nc >= 1 && aa > 0 && aa <= nc * 1.4427 + 1e-9 })
    // brute-force the top pair's score from the raw co-purchase edges
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    li.groupBy(_._1).values.foreach { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b)
        adj(a) = adj.getOrElse(a, Set.empty) + b
    }
    val (src, dst, nc, aa) = got.head
    val common = adj(src) & adj(dst)
    assert(common.size.toLong == nc)
    val exp = common.toSeq.map(v => 1.0 / math.log(adj(v).size.toDouble)).sum
    assert(math.abs(aa - exp) < 1e-3, s"aa=$aa expected≈$exp")
  }

  test("adamic-adar capped: default no-op at fixture, biting cap equals brute force") {
    // sf0.001's max symmetric degree is 138, so the DEFAULT cap (150)
    // excludes nothing here — pin the cap as a no-op on a skew-free
    // graph (the production property: capping must not perturb results
    // below the cap)
    val uncapped = run("graph_adamic_adar")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val cappedDefault = run("graph_adamic_adar_capped")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(cappedDefault == uncapped,
      "default cap (150) must be a no-op on the max-degree-138 fixture")
    // force a BITING cap (median degree is 89, so 100 drops real nodes)
    // and pin capped == brute force on the capped subgraph, with the
    // engine's exact quantization (dec10 per-term HALF_UP, r4 at the
    // end) so the compare is bitwise, order included
    val got = Graph.adamicAdarCappedRow(spark, sf, cap = 100)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got != uncapped, "a cap below max degree must change the result")
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect()
    val adj0 = scala.collection.mutable.Map[Long, Set[Long]]()
    li.groupBy(_._1).values.foreach { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b)
        adj0(a) = adj0.getOrElse(a, Set.empty) + b
    }
    val keep = adj0.collect { case (n, nb) if nb.size <= 100 => n }.toSet
    assert(keep.size < adj0.size, "cap=100 must exclude nodes at sf0.001")
    val adj = adj0.collect { case (n, nb) if keep(n) =>
      n -> (nb & keep) }.toMap
    def term(v: Long): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(1.0 / math.log(adj(v).size.toDouble))
        .setScale(10, java.math.RoundingMode.HALF_UP)
    val exp = (for {
      (a, na) <- adj.toSeq
      b <- na if a < b
      common = na & adj(b) if common.nonEmpty
    } yield {
      val ws = common.toSeq.map(term)
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      (a, b, common.size.toLong, graft.core.D.r4d(ws.doubleValue))
    }).sortBy { case (a, b, _, aa) => (-aa, a, b) }.take(20)
    assert(got == exp, s"capped engine result diverged:\n$got\nvs\n$exp")
  }

  test("adamic-adar copart: bucket-split equals single-pass equals broadcast") {
    // the r16 copart plan hash-partitions CANDIDATE PAIRS into
    // budget-bounded slices — each pair completes (adjacency attach +
    // wedge count + AA sum) inside exactly one slice, each slice
    // reduces to its own top-20, and the answer is the top-20 of the
    // slice union (exact under the total order aa desc, src, dst).
    // Pin slice-split ≡ single-pass by forcing a tiny slice budget
    // (several slices at sf0.001) against the default (one slice) and
    // against the broadcast regime, which shares the oracle text
    val one = run("graph_adamic_adar_copart")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val many = Graph.adamicAdarCopartRow(spark, sf, sliceBytes = 4L * 1024 * 1024)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(many == one,
      s"bucketed copart diverged from single-pass:\n$many\nvs\n$one")
    val bc = run("graph_adamic_adar") // fixture stats → broadcast regime
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(bc == one, s"copart diverged from broadcast:\n$bc\nvs\n$one")
  }

  test("CUPED: theta and adjusted means match brute force") {
    val rows = run("evt_cuped_lift")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(rows.map(_._1) == Seq(0L, 1L))
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts_ms", "event_type")
      .as[(Long, Long, String)].collect()
    val mid = ev.map(_._2).min + (ev.map(_._2).max - ev.map(_._2).min) / 2
    val per = ev.groupBy(_._1).map { case (u, es) =>
      (u, es.count(_._2 < mid).toLong,
        es.count(e => e._2 >= mid && e._3 == "purchase").toLong)
    }.toSeq
    val n = per.size.toLong
    val sx = per.map(_._2).sum; val sy = per.map(_._3).sum
    val sxy = per.map(p => p._2 * p._3).sum
    val sxx = per.map(p => p._2 * p._2).sum
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    val theta = r4((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
    val mx = r4(sx.toDouble / n)
    rows.foreach { case (arm, nu, th, my, myAdj) =>
      val grp = per.filter(p => p._1 % 2 == arm)
      assert(nu == grp.size.toLong)
      assert(math.abs(th - theta) < 1e-9)
      val meanY = r4(grp.map(_._3).sum.toDouble / grp.size)
      val meanX = r4(grp.map(_._2).sum.toDouble / grp.size)
      assert(math.abs(my - meanY) < 1e-9)
      assert(math.abs(myAdj - r4(meanY - theta * (meanX - mx))) < 1e-9)
    }
  }

  test("Kaplan-Meier: survival matches brute force, is non-increasing") {
    val rows = run("evt_survival_km")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(rows.nonEmpty && rows.map(_._1) == rows.map(_._1).sorted)
    val surv = rows.map(_._5)
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 })
    assert(surv.forall(x => x >= 0.0 && x <= 1.0))
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts_ms").as[(Long, Long)].collect()
    // note: .values first — mapping a Map straight to (fd, ld) pairs
    // would collapse users sharing a first day into one entry
    val per = ev.groupBy(_._1).values.toSeq.map { es =>
      val ds = es.map(_._2 / 86400000L)
      (ds.min, ds.max)
    }
    val cl = per.map(_._2).max
    val lf = per.map { case (fd, ld) =>
      ((ld - fd) / 7, if (cl - ld >= 28) 1L else 0L) }
    val wk = lf.groupBy(_._1).map { case (t, xs) =>
      (t, xs.map(_._2).sum, xs.size.toLong) }.toSeq.sortBy(_._1)
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    var atRisk = lf.size.toLong
    var s = 1.0
    wk.foreach { case (t, d, obs) =>
      s = s * (1.0 - d.toDouble / atRisk.toDouble)
      val row = rows.find(_._1 == t).get
      assert(row._2 == atRisk && row._3 == d && row._4 == obs - d, s"week $t")
      assert(math.abs(row._5 - r4(s)) < 1e-9, s"week $t: ${row._5} vs ${r4(s)}")
      atRisk -= obs
    }
  }

  test("SRM: chi-square matches brute force; flag agrees with 3.8415") {
    val rows = run("evt_ab_srm")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "ts_ms").as[(Long, Long)].collect()
    val byDay = ev.map { case (u, t) => (t / 86400000L, u) }.distinct
      .groupBy(_._1)
    def q4(x: Double) = math.round(x * 10000.0) / 10000.0
    assert(rows.size == byDay.size)
    rows.foreach { case (day, na, nb, chi2, srm) =>
      val us = byDay(day).map(_._2)
      val (ea, eb) = (us.count(_ % 2 == 0).toLong, us.count(_ % 2 == 1).toLong)
      assert(na == ea && nb == eb, s"day $day")
      val e = (ea + eb).toDouble / 2.0
      val exp = q4((ea - e) * (ea - e) / e + (eb - e) * (eb - e) / e)
      assert(math.abs(chi2 - exp) < 1e-9, s"day $day")
      assert(srm == (chi2 > 3.8415))
    }
  }

  test("3-core: peel reached its fixpoint and matches brute force") {
    val got = run("graph_kcore").as[(Long, Long)].collect().toMap
    val li = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
    li.groupBy(_._1).values.foreach { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b)
        adj(a) = adj.getOrElse(a, Set.empty) + b
    }
    var cur: Map[Long, Set[Long]] = adj.toMap
    var rounds = 0
    var changed = true
    while (changed && rounds < 50) {
      val keep = cur.filter(_._2.size >= 3).keySet
      val nxt = cur.collect { case (v, ns) if keep(v) => (v, ns & keep) }
        .filter(_._2.nonEmpty).toMap
      changed = nxt != cur
      cur = nxt
      rounds += 1
    }
    assert(rounds <= 6, s"fixture peel depth $rounds exceeds the 6 unrolled rounds")
    val expect = cur.map { case (v, ns) => (v, ns.size.toLong) }
    assert(got == expect, "engine 3-core must equal the brute-force fixpoint")
    assert(got.values.forall(_ >= 3L))
  }

  test("stored edge layout: every family row is bitwise path-independent (r18)") {
    // one edge source, two ways to reach it: a row that finds no current
    // layout builds it inside its own call, a later row reads the files
    // already there. Run representative rows — both dispatch regimes,
    // iterative peels, the copart wedge path — once right after the
    // layout is dropped AND its files deleted (a current layout left on
    // disk would only be registered) and once over the reused layout,
    // and compare collected rows exactly.
    val names = Seq("graph_degree_hist", "graph_pagerank",
      "graph_pagerank_copart", "graph_kcore", "graph_adamic_adar",
      "graph_adamic_adar_copart", "graph_components", "graph_triangles")
    val t = Graph.edgeTableName(sf)
    val loc = new org.apache.hadoop.fs.Path(Graph.edgeTableLocation(spark, sf))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    names.foreach { n =>
      val before =
        if (spark.catalog.tableExists(t)) spark.table(t).inputFiles.toSet else Set.empty[String]
      spark.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(loc, true)
      val builtRows = run(n).collect().toSeq
      assert(spark.catalog.tableExists(t), s"$n must build the stored layout")
      assert(spark.table(t).inputFiles.toSet.intersect(before).isEmpty,
        s"$n must write the layout inside its own call, not reuse old files")
      val reusedRows = run(n).collect().toSeq
      assert(builtRows == reusedRows,
        s"$n diverges between a freshly built and a reused edge layout")
    }
  }

  test("stored edge layout: built on first use, reused, rebuilt when lineitem changes") {
    // the graph family's one edge source: the first row builds the
    // bucketed layout, a later row reads the same files, and a rewritten
    // lineitem rebuilds the layout before the next row answers
    val dir = java.nio.file.Files.createTempDirectory("graft_edges").toString
    val t = Graph.edgeTableName(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    def writeLineitem(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("l_orderkey", "l_partkey").write.mode("overwrite")
        .parquet(s"$dir/lineitem.parquet")
    def hist() = run0("graph_degree_hist", dir).as[(Long, Long)].collect().toSeq
    def files(): Map[String, Long] = spark.table(t).inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      f -> p.getFileSystem(conf).getFileStatus(p).getModificationTime
    }.toMap
    try {
      // degrees 10:3, 11:2, 12:2, 13:1
      writeLineitem(Seq(1L -> 10L, 1L -> 11L, 1L -> 12L, 2L -> 10L, 2L -> 13L))
      assert(!spark.catalog.tableExists(t))
      assert(hist() == Seq(1L -> 1L, 2L -> 2L, 3L -> 1L))
      assert(spark.catalog.tableExists(t), "the first graph row must build the layout")
      val built = files()
      assert(built.nonEmpty)
      assert(run0("graph_pagerank", dir).collect().length == 4)
      assert(files() == built, "a later graph row must leave the stored files untouched")
      // degrees 10:1, 11:2, 12:2, 13:1
      writeLineitem(Seq(1L -> 10L, 1L -> 11L, 2L -> 12L, 2L -> 13L, 3L -> 11L, 3L -> 12L))
      assert(hist() == Seq(1L -> 2L, 2L -> 2L))
      assert(files().keySet.intersect(built.keySet).isEmpty,
        "a rewritten lineitem must rebuild the layout")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Seq(dir, Graph.edgeTableLocation(spark, dir)).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).delete(p, true)
      }
    }
  }

  test("stored edge layout: a current layout left on disk is registered, not rebuilt") {
    // what a fresh JVM sees: a catalog without the table, over layout
    // files whose source signature still matches. The next graph call
    // must register those files as they are — rebuilding would delete
    // files another JVM may be scanning — and serve the same rows.
    val t = Graph.edgeTableName(sf)
    val conf = spark.sparkContext.hadoopConfiguration
    def files(): Map[String, Long] = spark.table(t).inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      f -> p.getFileSystem(conf).getFileStatus(p).getModificationTime
    }.toMap
    def rows() = Graph.edges(spark, sf).as[(Long, Long)].collect().sorted.toSeq
    val before = rows()
    val built = files()
    assert(built.nonEmpty)
    spark.sql(s"DROP TABLE $t")
    assert(!spark.catalog.tableExists(t))
    assert(rows() == before, "the registered layout must serve the same edges")
    assert(files() == built, "a current layout must be registered, never rebuilt")
  }
}
