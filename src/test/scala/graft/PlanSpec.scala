package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions — the scale contract (SURVEY §4).
  * These queries must keep the plans that survive a 100 TB scale-up:
  * filters pushed to the parquet scan, column pruning, broadcast for dim
  * joins, partial aggregation, TakeOrderedAndProject for top-k, and no
  * accidental cartesian products.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def optimized(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("scan_pruned pushes the time-range filter and prunes columns") {
    val p = plan("scan_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"missing pushed filter:\n$p")
    // 3 projected columns + the filter column (needed for the residual
    // filter); the other 7 lineitem columns must be pruned
    assert(p.contains("ReadSchema") &&
      p.split("ReadSchema:")(1).takeWhile(_ != '\n').split(",").length <= 4,
      "scan must read only projected + filter columns")
  }

  test("dim joins broadcast the small side") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
    val q5 = plan("join_multiway")
    assert(q5.contains("BroadcastHashJoin"), "nation/region must broadcast")
  }

  test("join hints are honored") {
    assert(plan("join_shuffle_hash").contains("ShuffledHashJoin"))
    assert(plan("join_sort_merge").contains("SortMergeJoin"))
  }

  test("bucketed join reads bucket files in place — no join-side shuffle") {
    // broadcast off: the small customer side would otherwise broadcast
    // and mask the bucket layout the assertion is about
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val p = plan("join_bucketed")
      assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
      // the only Exchange allowed is the final orderBy's range
      // partitioning; a hash-partitioning Exchange means a side was
      // re-shuffled and the bucket layout was wasted
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not re-shuffle either side:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partitioned-sink read-back prunes to the selected partition") {
    val p = plan("sink_partitioned_roundtrip")
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter must prune partitions, not scan rows:\n$p")
  }

  test("ksid tenant scan prunes BOTH the ksid and date partition levels") {
    val p = plan("tsdb_ksid_scan")
    val pf = p.split("PartitionFilters:")
    assert(pf.length >= 2, s"read-back must have PartitionFilters:\n$p")
    val filters = pf(1).takeWhile(_ != ']')
    assert(filters.contains("ksid") && filters.contains("date"),
      s"tenant + date routing must be partition-level, got: $filters")
    // nothing should remain as a row-level data filter
    assert(!p.contains("PushedFilters: [IsNotNull(ksid"),
      s"ksid must prune directories, not filter rows:\n$p")
  }

  test("band join is an equi join, not a cartesian product") {
    val p = plan("join_theta_range")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a product:\n$p")
  }

  test("aggregations do map-side partial aggregation") {
    val p = plan("agg_hash_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("ordered limit compiles to TakeOrderedAndProject") {
    assert(plan("limit_topk").contains("TakeOrderedAndProject"))
  }

  test("kNN join blocks on the label key (hash or broadcast equi join)") {
    val p = plan("llm_knn_join")
    assert(!p.contains("CartesianProduct"), s"kNN must block on label:\n$p")
  }

  test("cosine top-k broadcasts the query vector and avoids shuffling the corpus") {
    val p = plan("llm_sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query vector should be broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("whole-stage codegen covers the hot projections") {
    // AQE prints codegen spans only in the FINAL plan → execute first
    val df = optimized("project_select")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark WholeStageCodegen stages in the compact form
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"projection fell out of codegen:\n$p")
  }

  test("events scan prunes columns for the downsample pipeline") {
    val p = plan("tsdb_query_pipeline")
    val read = p.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(!read.contains("props"), s"props must be pruned from the scan: $read")
  }

  test("custom expressions COMPILE in codegen (no silent interpreted fallback)") {
    // With fallback disabled a Janino compile error throws instead of
    // silently degrading to interpreted eval (which once cost 5× on the
    // Dot4 hot path: a non-nullable ev.isNull assignment generated
    // `false = true;`). Run the Dot4- and HOF-heavy queries end to end.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Seq("llm_sim_cosine_topk", "llm_knn_join", "llm_dedup_cosine")
        .foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    } finally {
      prev.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        v => spark.conf.set("spark.sql.codegen.fallback", v))
    }
  }

  test("portable MinHash aggregates map-side (no explode-by-seed shuffle of shingles)") {
    // inspect the SIGNATURE stage directly: the full pipeline hides it
    // behind localCheckpoint (truncated lineage), where a vacuous
    // HashAggregate from distinct() would satisfy any assertion
    val sigSql = llm.Dedup.minhashSigsPortableSql(
      graft.core.Tables.documents(spark, sf), "doc_id", "text")
    val pSql = sigSql.queryExecution.executedPlan.toString
    assert(pSql.contains("HashAggregate"), s"minhash mins must hash-aggregate:\n$pSql")
    // exactly one generator — the shingle explode; an explode-by-seed
    // regression would add a second Generate (32x rows)
    assert("Generate".r.findAllIn(pSql).length == 1,
      s"expected exactly the shingle explode, got:\n$pSql")
    // the NATIVE sig stage is a pure per-row projection: no explode, no
    // aggregate, no exchange — the shuffle-free shape is the point
    val sig = llm.Dedup.minhashSigsPortable(
      graft.core.Tables.documents(spark, sf), "doc_id", "text")
    val p = sig.queryExecution.executedPlan.toString
    assert(p.contains("md5_minhash_sig"), s"native sig expression expected:\n$p")
    assert(!p.contains("Generate") && !p.contains("Exchange") && !p.contains("HashAggregate"),
      s"native sig stage must be a shuffle-free projection:\n$p")
    val full = optimized("llm_dedup_near_minhash")
    assert(!full.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "band join must stay equi")
  }

  test("multi-subquery request shares ONE points scan; results unchanged") {
    import graft.tsdb._
    val points = Pipeline.eventsAsPoints(spark, sf)
    val q = TsdbQuery(1704067200000L, graft.core.Tables.NowMs, Seq(
      SubQuery("click", "sum",
        downsample = Some(DownsampleSpec(3600000L, "avg")),
        filters = Seq(TagFilterSpec("wildcard", "user", "*", groupBy = true))),
      SubQuery("view", "max",
        downsample = Some(DownsampleSpec(3600000L, "avg")))))
    val shared = Pipeline.runAll(spark, points, q)
    // the parquet scan ran exactly once, inside the shared
    // materialization: each subquery plan reads the checkpointed slice,
    // never the file source
    shared.foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("FileScan") && p.contains("ExistingRDD"),
        s"subquery must read the shared materialized slice:\n$p")
    }
    // results identical to the per-subquery independent runs
    val independent = q.queries.map(sub =>
      Pipeline.run(spark, points, q.copy(queries = Seq(sub))))
    shared.zip(independent).foreach { case (a, b) =>
      assert(a.collect().map(_.toString).toSeq ==
        b.collect().map(_.toString).toSeq,
        "shared-scan results must equal independent runs")
      assert(a.count() > 0, "fixture subqueries must produce rows")
    }
  }

  test("stored-index probe plan carries zero Lloyd work") {
    // build-once: the training jobs run HERE (eagerly), not in the probe
    val emb = graft.core.Tables.embeddings(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_planspec_idx").resolve("ann").toString
    // the build's own job floor: one seed read, one lockstep Lloyd pass
    // per iteration for the IVF quantizer and every PQ subspace at once,
    // then the lists, the artifact writes and the trained count
    val buildJobs = jobCount(llm.Similarity.buildIvfIndex(spark, emb, path, "planspec"))
    assert(buildJobs == 12, s"buildIvfIndex ran $buildJobs jobs")
    val qs = emb.where(org.apache.spark.sql.functions.col("vec_id") < 4)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qv"))
    val probe = llm.Similarity.ivfTopKStored(spark, qs, path, 5, nprobe = 2)
    val p = probe.queryExecution.executedPlan.toString
    // a Lloyd iteration is a lloyd_mean aggregate (the retired form was
    // posexplode + per-(cid,pos) mean HashAggregates); the probe plan
    // must contain NONE of them — it is a lists-scan + probe join +
    // per-query top-k window, nothing else (the one Generate allowed is
    // the probe side's own nprobe explode over driver-literal centroids)
    assert(!p.contains("HashAggregate") && !p.contains("posexplode") &&
      !p.contains("lloyd_mean"), s"stored probe must not retrain the quantizer:\n$p")
    assert(p.contains("FileScan"), s"probe must scan the stored lists:\n$p")
    // the inverted-list layout pays off: the candidate fetch prunes to
    // the probed centroid_id partitions via dynamic partition pruning
    assert(p.contains("dynamicpruning"),
      s"lists scan must partition-prune on the probed centroids:\n$p")
    // and the probe result is the inline batch query bit-for-bit
    val inline = optimized("llm_sim_ivf_batch")
    assert(probe.collect().map(_.toString).toSeq ==
      inline.collect().map(_.toString).toSeq,
      "stored probe must equal the inline ivfTopKBatch")
  }

  test("filtered probe pushes the predicate into the lists scan, not post-top-k") {
    val p = plan("llm_sim_ivf_filtered")
    // the label predicate must reach the stored-lists parquet scan —
    // a post-top-k Filter would silently break recall instead
    assert(p.contains("PushedFilters") && p.contains("LessThan(label,5)"),
      s"label predicate must be pushed into the lists scan:\n$p")
    // filtering must not cost the probed-cluster partition pruning
    assert(p.contains("dynamicpruning"),
      s"filtered probe must keep DPP on the probed centroids:\n$p")
    // and still no quantizer work at probe time (the stored-index
    // contract; the probe-side window agg is a HashAggregate-free path)
    assert(!p.contains("posexplode"),
      s"filtered probe must not retrain the quantizer:\n$p")
  }

  test("nested expression evaluates with exactly ONE boundary sort") {
    import graft.tsdb._
    val n = Expression.parseExpr(
      "div(sub(merge(sum, downsample(1h, avg, zero, query(click, {user=*}, 7d)))," +
        " merge(sum, downsample(1h, avg, zero, query(view, {user=*}, 7d))))," +
        " merge(sum, downsample(1h, avg, zero, query(view, {user=*}, 7d))))",
      graft.core.Tables.NowMs)
    val df = Pipeline.runExpr(spark, Pipeline.eventsAsPoints(spark, sf), n)
    val sorts = df.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }
    // D1's total order is a property of the RESULT: one Sort at the
    // runExpr boundary; interior per-node orderBys are pure waste
    assert(sorts.length == 1,
      s"expected exactly one boundary Sort, got ${sorts.length}:\n" +
        df.queryExecution.optimizedPlan.toString)
    assert(df.count() > 0)
  }

  test("chunking is map-side: generate + slice, the only exchange is the presentation sort") {
    val p = plan("llm_chunk_overlap")
    assert(p.contains("Generate explode"), s"chunking must explode window starts:\n$p")
    // one rangepartitioning exchange for the final ORDER BY and nothing
    // else — chunk production itself must never shuffle a document
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"),
      s"chunking must shuffle only for the presentation sort, saw $exchanges")
  }

  test("bigram counts do partial aggregation and a bounded top-k") {
    val p = plan("llm_ngram_counts")
    assert(p.contains("partial_count"), "bigram count must combine map-side")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must not globally sort the bigram space")
  }

  test("subquery forms plan as hash semi/anti joins, never nested loops") {
    val pe = plan("sub_exists")
    assert(pe.contains("LeftSemi") && pe.contains("LeftAnti"), pe.take(400))
    val pi = plan("sub_in")
    assert(pi.contains("LeftSemi") && pi.contains("LeftAnti"))
    assert(!pe.contains("BroadcastNestedLoopJoin") &&
      !pi.contains("BroadcastNestedLoopJoin"),
      "subqueries must decorrelate to hash joins")
  }

  test("LATERAL decorrelates to a pruned rank window, not a per-row loop") {
    val p = plan("join_lateral")
    assert(p.contains("WindowGroupLimit"),
      s"ORDER BY/LIMIT lateral must become WindowGroupLimit:\n${p.take(400)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("bpe merge aggregates partial and bounds the top-k") {
    val p = plan("llm_bpe_merge")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "pair counts must combine map-side")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must not globally sort the pair space")
  }

  test("funnel stages broadcast the user-sized frames and push stage filters") {
    val p = plan("evt_funnel")
    assert(p.contains("PushedFilters"), "stage event_type filters must reach the scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("interval-overlap join is a bucketed equi join, never a product") {
    val p = plan("join_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap degenerated to a product:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected an equi join on the day bucket:\n$p")
  }

  test("query-likelihood keeps the bm25 scan shape: stats broadcast + bounded top-k") {
    val p = plan("llm_query_likelihood")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must bound the sort:\n$p")
    assert(p.contains("BroadcastExchange"), s"1-row stats must broadcast:\n$p")
    // the corpus itself must never hash-shuffle — only the stats
    // aggregate's single-row exchange is allowed
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus must not shuffle for scan-side scoring:\n$p")
  }

  test("revenue pareto windows run over reduced frames (one agg shuffle, 10-row windows)") {
    val p = plan("agg_revenue_pareto")
    // partial+final agg collapses orders to customers before any window
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(!p.contains("CartesianProduct"), s"total join must broadcast:\n$p")
  }

  test("footer-stat aggregate actually pushes COUNT/MIN/MAX into the scan") {
    val kAgg = "spark.sql.parquet.aggregatePushdown"
    val kV1 = "spark.sql.sources.useV1SourceList"
    val saved = (spark.conf.get(kAgg, "false"), spark.conf.get(kV1))
    spark.conf.set(kAgg, "true"); spark.conf.set(kV1, "")
    try {
      import org.apache.spark.sql.functions._
      val p = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation"),
        s"COUNT/MIN/MAX must come from row-group stats, not rows:\n$p")
    } finally { spark.conf.set(kAgg, saved._1); spark.conf.set(kV1, saved._2) }
  }

  test("bitmap distinct builds bitmaps map-side (partial construct, no raw-id re-shuffle)") {
    val p = plan("agg_bitmap_distinct")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"bitmap construct must partial-aggregate:\n$p")
  }

  test("runtime bloom filter is injected into the fact side of a selective dim join") {
    val kBf = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val kTh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val kBc = "spark.sql.autoBroadcastJoinThreshold"
    val saved = (spark.conf.get(kBf, "false"), spark.conf.get(kTh), spark.conf.get(kBc))
    spark.conf.set(kBf, "true"); spark.conf.set(kTh, "0"); spark.conf.set(kBc, "-1")
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .where(col("o_totalprice") > 99000)
      val p = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter not injected:\n${p.take(800)}")
    } finally {
      spark.conf.set(kBf, saved._1); spark.conf.set(kTh, saved._2)
      spark.conf.set(kBc, saved._3)
    }
  }

  test("pagerank iterations co-partition on the join key and bound the final sort") {
    val p = plan("graph_pagerank")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not globally sort the node set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"message passing must stay an equi join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"contribution sums must combine map-side:\n$p")
  }

  test("path top-k counts trigrams partial-agg and bounds the top-10") {
    val p = plan("evt_path_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must not globally sort the path space:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"path counts must combine map-side:\n$p")
  }

  test("co-partitioned pagerank never broadcasts node state") {
    val p = plan("graph_pagerank_copart")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"the copart variant exists to remove node-state broadcasts:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"node state must join shuffle-hash on the edge key:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not globally sort the node set:\n$p")
  }

  test("co-partitioned adamic-adar never broadcasts node state") {
    val p = plan("graph_adamic_adar_copart")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"the copart variant exists to remove adjacency/degree broadcasts:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"adjacency must join shuffle-hash on the edge endpoint:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must not globally sort the pair set:\n$p")
  }

  test("dsir joins the LMs broadcast and bounds the top-50") {
    val p = plan("llm_dsir_weights")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must not globally sort the doc space:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized LM tables must broadcast into the posting frame:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the 1-row corpus scalars must ride a broadcast, not a product")
    assert(p.contains("partial_count"), "LM counts must combine map-side")
  }

  test("connected components propagate labels through hash joins only") {
    val p = plan("graph_components")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"label propagation must stay an equi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 components must not globally sort:\n$p")
  }

  test("ivf recall report reuses the probe and truth rankings as k-sized frames") {
    // both rankings end in limit-10 pools; the report must join those
    // pools, never re-rank the corpus — assert the semi join exists and
    // nothing quadratic appears
    val p = plan("llm_sim_ivf_recall")
    assert(p.contains("LeftSemi"), s"hits must be a semi join of the pools:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"count rows must broadcast (1-row joins), not product:\n$p")
  }

  test("explicit HLL estimate stays within 15% of the exact distinct count") {
    // the DuckDB oracle proves both engines compute the same FORMULA;
    // this asserts the formula is a sane estimator
    val rows = optimized("agg_approx_distinct_hll")
      .select("approx_users", "exact_users").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(0), r.getLong(1).toDouble)
      assert(math.abs(est - exact) / exact < 0.15,
        s"HLL estimate $est vs exact $exact drifts beyond 15%")
    }
  }

  test("dedup-eval exact truth is the inverted-shingle join, never a pair product") {
    // the truth side must count |a∩b| through the (shingle → id)
    // self-join (Σ df² pairs) — the sample² nested-loop Jaccard scan
    // this replaced cost 45 s at sf0.1 and sample² anywhere
    val p = plan("llm_dedup_eval")
    assert(!p.contains("CartesianProduct"),
      s"truth side degenerated to a pair product:\n$p")
    // any equi strategy is fine (fixture scale may broadcast); what
    // matters is the join is KEYED on the shingle column, not a
    // condition-only nested loop over all pairs
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[sh#".r
      .findFirstIn(p).isDefined,
      s"shingle co-occurrence must be an equi join on sh:\n$p")
  }

  test("r12 additions keep equi-join/window shapes: rouge, clustering coeff, spc, gini") {
    // ROUGE: gram joins must be equi joins on (doc_id+1, g), never a product
    val pr = plan("llm_rouge_overlap")
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"),
      s"rouge gram join degenerated to a product:\n$pr")
    // clustering coefficient reuses the broadcast-adjacency shape
    val pc = plan("graph_clustering_coeff")
    assert(!pc.contains("CartesianProduct"), s"cc must never cross:\n$pc")
    assert(pc.contains("BroadcastHashJoin"),
      s"adjacency must broadcast at fixture scale:\n$pc")
    // SPC rules: run logic is windows over one series partitioning, no joins
    // beyond the stats join; no product
    val ps = plan("tsdb_spc_rules")
    assert(!ps.contains("CartesianProduct") &&
      !ps.contains("BroadcastNestedLoopJoin"), s"spc must stay equi:\n$ps")
    assert(ps.contains("Window"), s"run rules must be window passes:\n$ps")
    // Gini: one rank window over the reduced user frame + partial agg
    val pg = plan("evt_gini_activity")
    assert(pg.contains("Window") && !pg.contains("CartesianProduct"))
  }

  test("graph node-state dispatch: broadcast under fixture stats, copart under a forced-low budget") {
    // the measured dispatcher (r14) must pick the broadcast form when
    // node state fits the budget (fixture stats) and the co-partitioned
    // shuffle-hash form when it does not — both regimes pinned here so
    // neither silently rots
    val names = Seq("graph_pagerank", "graph_kcore", "graph_adamic_adar")
    for (n <- names) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"),
        s"$n must broadcast node state under fixture stats:\n$p")
      assert(!p.contains("ShuffledHashJoin"),
        s"$n broadcast regime must carry no shuffle-hash node-state join:\n$p")
    }
    val kBc = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(kBc)
    spark.conf.set(kBc, "-1")
    try {
      for (n <- names) {
        val p = plan(n)
        assert(p.contains("ShuffledHashJoin"),
          s"$n must co-partition node state with broadcast joins off:\n$p")
        assert(!p.contains("BroadcastHashJoin"),
          s"$n copart regime must broadcast NOTHING node-sized:\n$p")
      }
    } finally spark.conf.set(kBc, saved)
  }

  test("r13 scale twins carry NO within-label self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    def joins(name: String) =
      optimized(name).queryExecution.optimizedPlan.collect { case j: Join => j }
    // kNN join + cosine dedup: every join keys on centroid_id (the
    // quantizer blocking) or the probe's query metadata — never on the
    // raw corpus's label column (Σ label² does not bound at 100 TB:
    // labels are a fixed vocabulary, clusters grow with the corpus)
    for (q <- Seq("llm_knn_join_ivf", "llm_dedup_cosine")) {
      val js = joins(q)
      assert(js.nonEmpty, s"$q should join lists/probes")
      js.foreach { j =>
        val refs = j.condition.toSeq.flatMap(_.references.map(_.name))
        assert(!refs.contains("label"),
          s"$q must not pair-join on label, got condition refs $refs")
      }
    }
    // cohesion: the centroid identity leaves only post-aggregation
    // joins (label-count-sized frames) — no join may see the raw
    // embeddings table on both sides
    val cj = joins("llm_embed_label_cohesion")
    assert(cj.nonEmpty)
    cj.foreach { j =>
      def agged(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collectFirst { case a: Aggregate => a }.isDefined
      assert(agged(j.left) && agged(j.right),
        s"cohesion joins must be post-aggregation only:\n$j")
    }
  }

  test("stored graph: the per-node aggregate rides the bucketing, zero pre-agg exchange (r17)") {
    // the build-once/analyze-many receipt: groupBy(src) over the
    // bucketed edge table must need NO Exchange before its partial
    // aggregate — the exchanges left are the node-sized histogram
    // re-key and the D1 orderBy. Count exchanges: the inline
    // graph_degree_hist plan carries MORE (the edge self-join + the
    // per-node re-shuffle); the stored plan must carry exactly 2.
    val p = SparkEntry.queries("graph_edges_stored")(spark, sf)
      .queryExecution.executedPlan
    val exchanges = p.toString.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"stored-graph aggregate must ride the bucketing (expected <= 2 " +
        s"exchanges: histogram re-key + orderBy), got $exchanges:\n$p")
  }

  test("annotation overlay BROADCASTS the annotation side (r17)") {
    // the 100 TB shape: the human-sized derived-annotation frame rides a
    // broadcast range join onto the downsample-reduced hourly frame —
    // the big side must never shuffle FOR THE OVERLAY (its one exchange
    // is its own hash aggregate), and the range predicate must not
    // degrade to a cartesian/loop join over the points
    val p = plan("tsdb_annotation_overlay")
    assert(p.contains("BroadcastHashJoin"),
      s"annotation overlay must broadcast the annotation side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"annotation overlay must not plan a cartesian product:\n$p")
  }

  test("degree cap runs as node-sized semi joins before any adjacency build (r17)") {
    // capDegrees must filter edges with LeftSemi joins against the
    // node-sized keep set — never materialize adjacency first (the
    // whole point is that super-node arrays are never built). The
    // registered row materializes this stage eagerly (its stats feed
    // the dispatch), so the shape is pinned on the stage plan itself.
    import org.apache.spark.sql.functions.col
    val e0 = spark.range(0, 100).toDF("src")
      .crossJoin(spark.range(0, 4).toDF("d"))
      .select(col("src"), ((col("src") + col("d") + 1) % 100).as("dst"))
    val es = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    val pB = rel.Graph.capDegrees(es, 3, bcast = true)
      .queryExecution.executedPlan.toString
    assert(pB.contains("LeftSemi") && pB.contains("BroadcastHashJoin"),
      s"broadcast cap must be broadcast semi joins:\n$pB")
    val pS = rel.Graph.capDegrees(es, 3, bcast = false)
      .queryExecution.executedPlan.toString
    assert(pS.contains("LeftSemi") && pS.contains("ShuffledHashJoin"),
      s"copart cap must be shuffle-hash semi joins:\n$pS")
    assert(!pB.contains("CartesianProduct") && !pS.contains("CartesianProduct"))
  }

  test("stored edge layout: family rows serve off the bucket files, zero pre-agg exchange (r18)") {
    // VERDICT r17 #2: an ordinary family row (not just
    // graph_edges_stored) must read the bucketed table it builds on
    // first use — no lineitem scan, no edge self-join — and its per-node
    // aggregate must ride HashPartitioning(src) from the bucket layout:
    // the only exchanges left are the node-sized histogram re-key and
    // the D1 orderBy.
    val p = plan("graph_degree_hist")
    assert(p.contains(rel.Graph.edgeTableName(sf)),
      s"family row did not read the stored layout:\n$p")
    assert(!p.contains("lineitem"),
      s"stored path must not rebuild edges from lineitem:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"stored-path aggregate must ride the bucketing (expected <= 2 " +
        s"exchanges: histogram re-key + orderBy), got $exchanges:\n$p")
  }

  test("graph rows: build-side job counts with the edge layout current") {
    // the eager actions a graph row runs while it builds its frame, with
    // the stored layout already current (no build inside the count)
    rel.Graph.edges(spark, sf)
    val aa = jobCount(SparkEntry.queries("graph_adamic_adar")(spark, sf))
    val pr = jobCount(SparkEntry.queries("graph_pagerank")(spark, sf))
    assert((aa, pr) == ((4, 6)),
      s"build-side jobs moved: graph_adamic_adar $aa, graph_pagerank $pr")
  }

  test("wire matrix serves all four request forms off ONE materialized slice (r18)") {
    // VERDICT r17 #5: the multi-form wire rows must not re-scan the
    // fact table once per form — the shared metric+time slice is
    // materialized once and every form's pipeline reads it, so the
    // returned plan carries ZERO FileScans (each form scans the
    // checkpointed slice instead).
    val p = plan("tsdb_query_wire_fill")
    assert(!p.contains("FileScan"),
      s"wire matrix must serve every form off the shared slice:\n$p")
  }

  test("multi-subquery request shares ONE points materialization (r6 design, pinned r18)") {
    val p = plan("tsdb_multi_subquery")
    assert(!p.contains("FileScan"),
      s"multi-subquery must serve every subquery off the shared " +
        s"materialized slice, zero per-subquery FileScans:\n$p")
  }
}
