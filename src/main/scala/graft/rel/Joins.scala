package graft.rel

import graft.core.{D, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.C join surface. Scale notes per operator:
  *  - dims (region/nation/part/supplier/customer at dim-scale) are
  *    broadcast — no shuffle of the fact side;
  *  - large-large joins shuffle on the equi keys (hash or sort-merge, with
  *    explicit hints where the operator IS the hint);
  *  - the band join pre-buckets both sides so it runs as an equi shuffle
  *    join on (key, time_bucket) + residual range filter — never a
  *    per-key cross product;
  *  - the as-of join is a union + running last_value — one shuffle on the
  *    series key, no join at all.
  */
object Joins {
  type Q = (SparkSession, String) => DataFrame

  private val BandMs = 300000L  // 5 min

  val queries: Map[String, Q] = graft.core.Reg.uniqueMap(
    "join_broadcast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .select("l_orderkey", "l_linenumber", "p_name", "p_type")
        .orderBy("l_orderkey", "l_linenumber", "p_name", "p_type")),

    "join_shuffle_hash" -> ((s, dir) =>
      Tables.orders(s, dir).hint("shuffle_hash")
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice")
        .orderBy("o_orderkey", "l_linenumber", "l_extendedprice")),

    "join_sort_merge" -> ((s, dir) =>
      Tables.orders(s, dir).hint("merge")
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice")
        .orderBy("o_orderkey", "l_linenumber", "l_extendedprice")),

    // Co-located join via bucketed tables: both sides pre-bucketed on
    // the join key, so the join reads bucket files pairwise
    // with NO shuffle on either side — the layout tool for repeated
    // big⋈big joins at corpus scale, where re-shuffling 100 TB per join
    // is the bottleneck. PlanSpec asserts the exchange-free plan (with
    // broadcast disabled; the only Exchange left is the D1 orderBy's
    // range partitioning). The write half is part of the operator, like
    // the format round-trips.
    "join_bucketed" -> ((s, dir) => {
      // the in-memory catalog forgets tables between sessions but their
      // warehouse directories persist — drop BOTH or saveAsTable fails
      // with LOCATION_ALREADY_EXISTS on the next session
      Seq("graft_orders_bkt", "graft_customer_bkt").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        ()
      }
      Scale.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_orders_bkt", "o_custkey", 8)
      Scale.writeBucketed(
        Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal"),
        "graft_customer_bkt", "c_custkey", 8)
      s.table("graft_orders_bkt")
        .join(s.table("graft_customer_bkt"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice", "c_acctbal")
        .orderBy("o_orderkey")
    }),

    // Pathological-skew tool under the correctness gate: event_type has
    // a handful of values over the whole events table — the shape where
    // one reducer gets almost everything. Scale.saltedJoin spreads each
    // hot key over 8 deterministic salts (hash of event_id — no RNG, so
    // retries agree) and replicates the small side; the result is
    // IDENTICAL to the plain join, which is exactly what the oracle
    // checks. AQE skew-join handles moderate skew at runtime; this is
    // the explicit lever for keys it misses.
    "join_skew_salted" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("n_type"))
      Scale.saltedJoin(ev, dim, "event_type", salts = 8,
          saltSource = Seq("event_id"))
        .select("event_id", "event_type", "n_type")
        .orderBy("event_id")
    }),

    "join_left_outer" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy(asc("c_custkey"), asc_nulls_first("o_orderkey"))),

    "join_full_outer" -> ((s, dir) => {
      val sc = Tables.supplier(s, dir).groupBy("s_nationkey")
        .agg(count(lit(1)).as("sc"))
      val cc = Tables.customer(s, dir).groupBy("c_nationkey")
        .agg(count(lit(1)).as("cc"))
      sc.join(cc, col("s_nationkey") === col("c_nationkey"), "full_outer")
        .select("s_nationkey", "c_nationkey", "sc", "cc")
        .orderBy(asc_nulls_first("s_nationkey"), asc_nulls_first("c_nationkey"))
    }),

    "join_semi" -> ((s, dir) =>
      Tables.part(s, dir)
        .join(Tables.lineitem(s, dir), col("p_partkey") === col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    // "customers with no order above 400k": the compound condition makes
    // the exclusion non-trivial — every customer has SOME order in the
    // dense fixture, so a bare key anti join returns 0 rows and proves
    // nothing about anti-join semantics
    "join_anti" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey") && col("o_totalprice") > 400000,
          "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "join_cross" -> ((s, dir) =>
      Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    // Band join: b strictly after a, within 5 min, same user. Bucketed:
    // each a-row is expanded to its bucket and the next (explode of 2),
    // then an equi join on (user_id, bucket) + residual range predicate —
    // the classic interval-join decomposition that stays an equi shuffle
    // at any scale.
    "join_theta_range" -> ((s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts_ms")
      // one bucketing definition engine-wide (negative-ts handling etc.)
      val bucket = graft.tsdb.Downsample.bucketMs(col("ts_ms"), BandMs) / BandMs
      val a = e.withColumn("jb",
        explode(array(bucket.cast("long"), bucket.cast("long") + 1)))
        .withColumnRenamed("event_id", "a_id").withColumnRenamed("ts_ms", "a_ts")
      val b = e.withColumn("b_jb", bucket.cast("long"))
        .withColumnRenamed("event_id", "b_id").withColumnRenamed("ts_ms", "b_ts")
        .withColumnRenamed("user_id", "b_user")
      a.join(b, col("user_id") === col("b_user") && col("jb") === col("b_jb") &&
          col("b_ts") > col("a_ts") && col("b_ts") <= col("a_ts") + BandMs)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // nearest as-of (either direction): each signup matched to the
    // user's closest purchase in time — completes the backward
    // (join_asof) / forward (join_asof_forward) pair. One
    // co-partitioned user join, then a struct-min over (|Δt|, p_ts,
    // p_id) so equal-distance ties break deterministically to the
    // EARLIER purchase; per-user candidate sets bound the join, no
    // window ever touches raw events.
    // runtime bloom-filter join (Spark's InjectRuntimeFilter): a
    // selective filter on the small side turns into a bloom filter
    // PUSHED INTO the big side's scan at runtime — rows that cannot
    // join are dropped before the shuffle, the 100 TB win when the dim
    // filter kills most of the fact table. Broadcast is disabled in
    // scope so the shuffle join (where the filter matters) is what
    // runs; confs restored after planning. Plan-pinned in PlanSpec.
    "join_runtime_filter" -> ((s, dir) => {
      val kBf = "spark.sql.optimizer.runtime.bloomFilter.enabled"
      // the application side must look big enough to be worth filtering
      // (default threshold 10GB — far above any fixture)
      val kTh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
      val kBc = "spark.sql.autoBroadcastJoinThreshold"
      val saved = (s.conf.get(kBf, "false"), s.conf.get(kTh), s.conf.get(kBc))
      s.conf.set(kBf, "true"); s.conf.set(kTh, "0"); s.conf.set(kBc, "-1")
      try {
        val li = s.read.parquet(s"$dir/lineitem.parquet")
        val o = s.read.parquet(s"$dir/orders.parquet")
          .where(col("o_totalprice") > 99000)
        val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            D.r4s(sum(D.dec(col("l_extendedprice"))).cast("double")).as("rev"))
          .orderBy("o_orderpriority")
        // execute UNDER the scoped confs (planning is lazy — a caller's
        // later action would replan after the finally restores them;
        // the scan_agg_pushdown localization trick, priority-count rows)
        s.createDataFrame(java.util.Arrays.asList(j.collect(): _*), j.schema)
      } finally {
        s.conf.set(kBf, saved._1); s.conf.set(kTh, saved._2)
        s.conf.set(kBc, saved._3)
      }
    }),

    // as-of with a match tolerance — the "stale quote is no quote"
    // variant every financial/telemetry join needs: each purchase takes
    // the user's LATEST click, but only within the preceding hour;
    // outside tolerance the row keeps nulls instead of silently joining
    // to ancient state. The tolerance predicate also BOUNDS the join
    // state at scale (only an hour of the right side is ever live per
    // key). Struct-max arg-max, co-partitioned on user.
    "join_asof_tolerance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_ms").as("p_ts"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_ms").as("c_ts"),
          col("event_id").as("c_id"))
      p.join(c, col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") > col("p_ts") - lit(3600000L), "left")
        .groupBy("purchase_id", "user_id", "p_ts")
        .agg(max(when(col("c_ts").isNotNull,
          struct(col("c_ts"), col("c_id")))).as("m"))
        .select(col("purchase_id"), col("user_id"), col("p_ts"),
          col("m.c_ts").as("click_ts"), col("m.c_id").as("click_id"))
        .orderBy("purchase_id")
    }),

    "join_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val sgn = e.where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("ts_ms").as("s_ts"))
      val pur = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_ms").as("p_ts"),
          col("event_id").as("p_id"))
      sgn.join(pur, col("user_id") === col("p_user"), "left")
        .groupBy("signup_id", "user_id", "s_ts")
        .agg(min(when(col("p_ts").isNotNull,
          struct(abs(col("p_ts") - col("s_ts")).as("d"),
            col("p_ts"), col("p_id")))).as("m"))
        .select(col("signup_id"), col("user_id"), col("s_ts"),
          col("m.p_ts").as("nearest_ts"), col("m.p_id").as("nearest_id"),
          col("m.d").as("delta_ms"))
        .orderBy("signup_id")
    }),

    // interval × interval overlap join (activity spans × incident
    // windows): the A side is the per-user-day activity span, the B
    // side a small synthesized incident table EXPLODED to the day
    // buckets it covers — so the overlap test runs as an equi join on
    // the day bucket plus a residual range predicate, never a cross
    // product. A spans stay within one day by construction, so each
    // overlapping pair matches in exactly one bucket (no dedupe pass).
    // The tiny incident side broadcasts here; the bucketing is what
    // keeps the plan an equi join when BOTH interval sets are large.
    "join_interval_overlap" -> ((s, dir) => {
      import s.implicits._
      val day = 86400000L
      val spans = Tables.events(s, dir)
        .groupBy(col("user_id"), expr(s"ts_ms DIV $day").as("day"))
        .agg(min("ts_ms").as("a_start"), max("ts_ms").as("a_end"))
      val incidents = (0L until 20L).map { k =>
        val st = 1704067200000L + k * 129600000L  // every 36h from T0
        (k, st, st + 21600000L)                   // 6h long
      }.toDF("incident_id", "i_start", "i_end")
        .withColumn("day", explode(expr(s"sequence(i_start DIV $day, i_end DIV $day)")))
      spans.join(broadcast(incidents),
          spans("day") === incidents("day") &&
            col("a_start") <= col("i_end") && col("i_start") <= col("a_end"))
        .select(col("user_id"), col("incident_id"), col("a_start"), col("a_end"),
          (least(col("a_end"), col("i_end")) -
            greatest(col("a_start"), col("i_start"))).as("overlap_ms"))
        .orderBy("user_id", "incident_id", "a_start")
    }),

    // As-of: for each purchase, the latest click of the same user at or
    // before it (ms granularity). Union + running last(ignoreNulls) —
    // single shuffle on user_id, no join. Clicks deduped to one per
    // (user, ms) keeping max event_id, so ties are deterministic (and the
    // DuckDB ASOF oracle sees a unique ts per key).
    "join_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts_ms").agg(max("event_id").as("click_id"))
        .select(col("user_id"), col("ts_ms"), lit(0).as("kind"),
          col("click_id"), lit(null).cast("long").as("p_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ms"), lit(1).as("kind"),
          lit(null).cast("long").as("click_id"), col("event_id").as("p_id"))
      val w = Window.partitionBy("user_id")
        .orderBy("ts_ms", "kind", "p_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("last_click", last("click_id", ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .select(col("p_id"), col("last_click").as("click_id"))
        .orderBy("p_id")
    }),

    // TPC-H Q5 shape: local-supplier revenue per nation within one region.
    "join_multiway" -> ((s, dir) => {
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(D.sumDec(rev).as("revenue"))
        .orderBy("n_name")
    }),

    // LATERAL correlated subquery join (SQL:1999; Spark 3.2+): top-2
    // orders per customer expressed as a per-row dependent subquery —
    // Catalyst decorrelates the ORDER BY/LIMIT into a rank window over
    // the co-partitioned join, so the executed plan is the
    // win_topk_pergroup shape, never a per-customer loop
    "join_lateral" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("cust_lat")
      Tables.orders(s, dir).createOrReplaceTempView("ord_lat")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM cust_lat c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM ord_lat o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, o_orderkey""")
    })
  )

  private val bigJoinSql =
    """SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       ORDER BY o_orderkey, l_linenumber, l_extendedprice"""

  val oracleSql: Map[String, String] = graft.core.Reg.uniqueMap(
    // mirror of join_asof_nearest: the struct min ≡ the
    // (|Δt|, p_ts, p_id) rn=1 arg-min
    "join_runtime_filter" -> {
      val D = graft.core.D
      s"""SELECT o.o_orderpriority, count(*) AS n,
             ${D.oR4(D.oSumDec("l.l_extendedprice"))} AS rev
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_totalprice > 99000
          GROUP BY 1 ORDER BY 1"""
    },

    // mirror of join_asof_tolerance: the struct max ≡ the
    // (c_ts DESC, c_id DESC) NULLS LAST rn=1 arg-max within tolerance
    "join_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                           epoch_ns(ts) // 1000000 AS ts_ms FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, ts_ms AS p_ts
               FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id AS c_user, ts_ms AS c_ts, event_id AS c_id
               FROM e WHERE event_type = 'click'),
         j AS (SELECT p.purchase_id, p.user_id, p.p_ts, c.c_ts, c.c_id
               FROM p LEFT JOIN c ON c.c_user = p.user_id
                 AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - 3600000),
         a AS (SELECT purchase_id, user_id, p_ts, c_ts, c_id,
                      row_number() OVER (PARTITION BY purchase_id
                        ORDER BY c_ts DESC NULLS LAST, c_id DESC NULLS LAST) AS rn
               FROM j)
         SELECT purchase_id, user_id, p_ts,
                c_ts AS click_ts, c_id AS click_id
         FROM a WHERE rn = 1 ORDER BY purchase_id""",

    "join_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                           epoch_ns(ts) // 1000000 AS ts_ms FROM events),
         sgn AS (SELECT event_id AS signup_id, user_id, ts_ms AS s_ts
                 FROM e WHERE event_type = 'signup'),
         pur AS (SELECT user_id AS p_user, ts_ms AS p_ts, event_id AS p_id
                 FROM e WHERE event_type = 'purchase'),
         j AS (SELECT s.signup_id, s.user_id, s.s_ts, p.p_ts, p.p_id,
                      abs(p.p_ts - s.s_ts) AS d
               FROM sgn s LEFT JOIN pur p ON p.p_user = s.user_id),
         a AS (SELECT signup_id, user_id, s_ts, p_ts, p_id, d,
                      row_number() OVER (PARTITION BY signup_id
                        ORDER BY d ASC NULLS LAST, p_ts ASC NULLS LAST,
                                 p_id ASC NULLS LAST) AS rn
               FROM j)
         SELECT signup_id, user_id, s_ts,
                p_ts AS nearest_ts, p_id AS nearest_id, d AS delta_ms
         FROM a WHERE rn = 1 ORDER BY signup_id""",

    // plain inequality join — the bucketing is a physical strategy,
    // not a semantic one, so the oracle states only the overlap
    "join_interval_overlap" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events),
         spans AS (SELECT user_id, ts_ms // 86400000 AS day,
                          min(ts_ms) AS a_start, max(ts_ms) AS a_end
                   FROM e GROUP BY 1, 2),
         inc AS (SELECT k AS incident_id,
                        1704067200000 + k * 129600000 AS i_start,
                        1704067200000 + k * 129600000 + 21600000 AS i_end
                 FROM range(20) t(k))
         SELECT s.user_id, i.incident_id, s.a_start, s.a_end,
                least(s.a_end, i.i_end) - greatest(s.a_start, i.i_start) AS overlap_ms
         FROM spans s JOIN inc i
           ON s.a_start <= i.i_end AND i.i_start <= s.a_end
         ORDER BY s.user_id, i.incident_id, s.a_start""",
    "join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_type
         FROM lineitem JOIN part ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber, p_name, p_type""",

    "join_shuffle_hash" -> bigJoinSql,
    "join_sort_merge" -> bigJoinSql,

    // the bucketed layout changes the plan, never the result: oracle is
    // the plain join
    "join_bucketed" ->
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice, c_acctbal
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",

    // salting changes the plan, never the result: oracle is the plain
    // join against the derived dim
    "join_skew_salted" ->
      """WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
                      FROM events GROUP BY 1)
         SELECT e.event_id, e.event_type, d.n_type
         FROM events e JOIN dim d USING (event_type)
         ORDER BY e.event_id""",

    "join_left_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",

    "join_full_outer" ->
      """WITH sc AS (SELECT s_nationkey, count(*) AS sc FROM supplier GROUP BY 1),
            cc AS (SELECT c_nationkey, count(*) AS cc FROM customer GROUP BY 1)
         SELECT s_nationkey, c_nationkey, sc, cc
         FROM sc FULL OUTER JOIN cc ON s_nationkey = c_nationkey
         ORDER BY s_nationkey NULLS FIRST, c_nationkey NULLS FIRST""",

    "join_semi" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_partkey IN (SELECT l_partkey FROM lineitem) ORDER BY p_partkey""",

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
         ORDER BY c_custkey""",

    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",

    "join_theta_range" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events)
          SELECT a.event_id AS a_id, b.event_id AS b_id
          FROM e a JOIN e b ON a.user_id = b.user_id
            AND b.ts_ms > a.ts_ms AND b.ts_ms <= a.ts_ms + $BandMs
          ORDER BY a_id, b_id""",

    "join_asof" ->
      """WITH c AS (
           SELECT user_id, epoch_ns(ts) // 1000000 AS ts_ms, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         p AS (
           SELECT event_id AS p_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms
           FROM events WHERE event_type = 'purchase')
         SELECT p.p_id, c.click_id
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts_ms <= p.ts_ms
         ORDER BY p_id""",

    "join_multiway" ->
      s"""SELECT n_name, ${D.oSumDec("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
          GROUP BY n_name ORDER BY n_name""",

    "join_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         ORDER BY c_custkey, o_orderkey"""
  )
}
