package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics that need controlled input: late-data drop under a
  * watermark (MemoryStream, multi-batch), file-source ingestion, the
  * partitioned sink layout. */
class StreamSpec extends SparkSpec {
  import spark.implicits._

  private def tsOf(hhmm: String) =
    java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("watermark drops late rows in append mode") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = ms.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    // batch 1: two rows in [10:00, 11:00)
    ms.addData((tsOf("10:05"), 1.0), (tsOf("10:50"), 2.0))
    q.processAllAvailable()
    // batch 2: advance watermark past 11:10 → the 10:00 window finalizes
    ms.addData((tsOf("11:30"), 3.0))
    q.processAllAvailable()
    // batch 3: a LATE row for 10:xx (behind the watermark) must be dropped
    ms.addData((tsOf("10:10"), 9.0))
    q.processAllAvailable()
    // batch 4: push watermark far ahead so every live window finalizes
    ms.addData((tsOf("14:00"), 4.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm_test")
      .select(col("window.start").cast("string").as("w"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(out("2024-01-01 10:00:00") == 2L, s"late row must not count: $out")
  }

  test("file-source streaming ingestion reaches the memory sink (batch-equal)") {
    val streamed = Ingest.runToMemory(spark,
      Ingest.eventsStream(spark, sf).groupBy("event_type").agg(count(lit(1)).as("n")),
      "complete")
    val batch = graft.core.Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(streamed.orderBy("event_type").as[(String, Long)].collect().toSeq ==
      batch.orderBy("event_type").as[(String, Long)].collect().toSeq)
  }

  test("stateful counter emits null delta on reset, deltas otherwise") {
    // craft a series with a reset: 10 → 50 → 20 (reset) → 35
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double)]
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val out = ms.toDS().groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Long, Double)],
       state: GroupState[(Long, Double)]) => {
        val sorted = rows.toSeq.sortBy(_._2)
        var last = state.getOption
        val res = sorted.map { case (_, ts, v) =>
          val delta = last match {
            case Some((_, pv)) if v >= pv => Some(v - pv)
            case _ => None
          }
          last = Some((ts, v))
          (user, ts, v, delta)
        }
        state.update(last.get)
        res.iterator
      })
    val q = out.toDF("user", "ts", "value", "delta").writeStream
      .format("memory").queryName("ctr_test").outputMode("append").start()
    ms.addData((1L, 1L, 10.0), (1L, 2L, 50.0))
    q.processAllAvailable()
    ms.addData((1L, 3L, 20.0), (1L, 4L, 35.0)) // 20 < 50 → reset
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ctr_test").orderBy("ts")
      .select("delta").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(rows.toSeq == Seq(None, Some(40.0), None, Some(15.0)))
  }

  test("partitioned sink lays out by event_type with sorted row groups") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    Ingest.writePartitioned(spark, sf, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("event_type=")), s"partition dirs missing: $dirs")
    val back = spark.read.parquet(out)
    assert(back.count() == graft.core.Tables.events(spark, sf).count())
    // partition pruning: a filter on the partition column scans one dir
    val plan = back.where(col("event_type") === "click").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || back.where(col("event_type") === "click").count() > 0)
  }

  test("streaming-maintained rollup equals the batch-built rollup") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cr_").toString
    val streamed = Ingest.maintainRollup(spark, sf, tmp, 60000L)
    val keys = Seq("event_type", "user_id")
    val batch = graft.tsdb.Rollups.build(
      graft.core.Tables.events(spark, sf)
        .select(col("event_type"), col("user_id"), col("ts_ms"), col("value")),
      keys, 60000L)
    def agg1h(r: org.apache.spark.sql.DataFrame) =
      graft.tsdb.Rollups.reaggregate(r, keys, 3600000L, "avg")
        .orderBy("event_type", "user_id", "bucket_ms")
        .collect().map(_.toString).toSeq
    assert(agg1h(streamed) == agg1h(batch))
    // idempotent: re-running with the same checkpoint changes nothing
    val again = Ingest.maintainRollup(spark, sf, tmp, 60000L)
    assert(agg1h(again) == agg1h(batch))
  }

  test("foreachBatch ingest maintains the series catalog across restarts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fb_").toString
    val cat = Ingest.ingestWithCatalog(spark, sf, tmp)
    val expected = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct().count()
    assert(cat.count() == expected)
    // re-running with the same checkpoint is a no-op (idempotent upsert)
    val cat2 = Ingest.ingestWithCatalog(spark, sf, tmp)
    assert(cat2.count() == expected)
  }

  test("point compaction re-lays batch dirs; contents and catalog unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cp_").toString
    Ingest.ingestWithCatalog(spark, sf, tmp)
    val points = s"$tmp/points"
    def contents() = spark.read.parquet(points)
      .select(col("metric"), graft.tsdb.Catalog.canonicalTags.as("tagsc"),
        col("ts_ms"), col("value"))
      .orderBy("metric", "ts_ms", "value", "tagsc")
      .collect().map(_.toString).toSeq
    val before = contents()
    assert(before.nonEmpty)
    Ingest.compactPoints(spark, points)
    val dirs = new java.io.File(points).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.map(_.getName).toSeq == Seq("batch=compacted"),
      "landing dirs must fold into one")
    assert(contents() == before, "compaction must not change the points")
    // crash between the swap's delete and rename: the committed state
    // sits only at .tmp; the next compaction must recover it first
    val fs = new org.apache.hadoop.fs.Path(points)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(points),
      new org.apache.hadoop.fs.Path(points + ".tmp")))
    Ingest.compactPoints(spark, points)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(points + ".tmp")),
      "the committed .tmp must be renamed back, not left behind")
    assert(contents() == before, "recovered compaction must not change the points")
    // the compacted layout prunes metric partitions at the scan
    val plan = spark.read.parquet(points)
      .where(col("metric") === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(metric"),
      s"metric filter must prune partitions:\n$plan")
  }

  test("catalog upsert rewrites only buckets that gained a series") {
    import graft.tsdb.Catalog
    val base = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    def series(rows: (String, String)*) = rows.toSeq
      .toDF("metric", "user")
      .select(col("metric"),
        map(lit("user"), col("user")).as("tags"),
        lit(0L).as("ts_ms"), lit(1.0).as("value"))
    // content snapshot (name → md5), not mtimes: coarse mtime
    // granularity / clock skew could false-pass a rewrite (ADVICE r6),
    // and checksums need no sleep between phases
    def snapshot(): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = new java.io.File(base)
      d.listFiles().filter(_.getName.startsWith("b")).flatMap(bdir =>
        bdir.listFiles().map { f =>
          md.reset()
          val digest = md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          s"${bdir.getName}/${f.getName}" -> digest.map("%02x".format(_)).mkString
        }).toMap
    }
    Catalog.upsertCatalog(spark, Catalog.fromPoints(series(
      ("m1", "1"), ("m1", "2"), ("m2", "1"))), base)
    val before = snapshot()
    assert(before.nonEmpty)
    // replaying the exact same batch must rewrite NOTHING
    Catalog.upsertCatalog(spark, Catalog.fromPoints(series(
      ("m1", "1"), ("m1", "2"), ("m2", "1"))), base)
    assert(snapshot() == before, "replay must not touch any bucket")
    // a new series touches only its own bucket
    val novel = series(("m9", "77"))
    val novelBucket = Catalog.fromPoints(novel).withColumn("b", Catalog.bucketId)
      .select("b").as[Int].head()
    Catalog.upsertCatalog(spark, Catalog.fromPoints(novel), base)
    val after = snapshot()
    val untouched = before.keySet.filterNot(_.startsWith(f"b$novelBucket%02d/"))
    untouched.foreach { k =>
      assert(after(k) == before(k), s"unchanged bucket file rewritten: $k")
    }
    // and the catalog reads back as the union
    assert(Catalog.readCatalog(spark, base).get.count() == 4)
  }

  test("catalog vacuum drops point-less series; buckets that lost nothing stay intact") {
    import graft.tsdb.Catalog
    val base = java.nio.file.Files.createTempDirectory("graft_vac_").toString
    def points(rows: (String, String)*) = rows.toSeq
      .toDF("metric", "user")
      .select(col("metric"),
        map(lit("user"), col("user")).as("tags"),
        lit(0L).as("ts_ms"), lit(1.0).as("value"))
    def snapshot(): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      new java.io.File(base).listFiles().filter(_.getName.matches("b\\d+"))
        .flatMap(bdir => bdir.listFiles().map { f =>
          md.reset()
          s"${bdir.getName}/${f.getName}" ->
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString
        }).toMap
    }
    val all = points(("m1", "1"), ("m1", "2"), ("m2", "1"), ("m3", "5"))
    Catalog.upsertCatalog(spark, Catalog.fromPoints(all), base)
    assert(Catalog.readCatalog(spark, base).get.count() == 4)
    val before = snapshot()
    // vacuum against FULLY live points is a no-op: nothing rewritten
    Catalog.vacuum(spark, base, all)
    assert(snapshot() == before, "no-op vacuum must not touch any bucket")
    // expire one tenant's points (m2 retains nothing): its series goes,
    // the rest stay, and buckets not holding m2/1 are byte-identical
    val live = points(("m1", "1"), ("m1", "2"), ("m3", "5"))
    val deadBucket = Catalog.fromPoints(points(("m2", "1")))
      .withColumn("b", Catalog.bucketId).select("b").as[Int].head()
    Catalog.vacuum(spark, base, live)
    val cat = Catalog.readCatalog(spark, base).get
    assert(cat.count() == 3)
    assert(cat.where(col("metric") === "m2").count() == 0, "dead series must vanish")
    val after = snapshot()
    before.keySet.filterNot(_.startsWith(f"b$deadBucket%02d/")).foreach { k =>
      assert(after.get(k).contains(before(k)), s"untouched bucket file changed: $k")
    }
    // vacuuming EVERYTHING deletes the buckets outright
    Catalog.vacuum(spark, base, points().where(lit(false)))
    assert(Catalog.readCatalog(spark, base).isEmpty,
      "a catalog whose series all died reads back as never-written")
  }

  test("bucketed catalog recovers a bucket caught in the swap crash window") {
    import graft.tsdb.Catalog
    val base = java.nio.file.Files.createTempDirectory("graft_cr2_").toString
    val pts = Seq(("m1", "1"), ("m2", "2"), ("m3", "3"), ("m4", "4"))
      .toDF("metric", "user")
      .select(col("metric"), map(lit("user"), col("user")).as("tags"),
        lit(0L).as("ts_ms"), lit(1.0).as("value"))
    Catalog.upsertCatalog(spark, Catalog.fromPoints(pts), base)
    val total = Catalog.readCatalog(spark, base).get.count()
    assert(total == 4)
    // crash between a bucket's delete and rename: the committed state
    // (swap left its _SUCCESS marker inside) sits only at `.tmp`
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bdir = new java.io.File(base).listFiles()
      .filter(_.getName.matches("b\\d+")).head
    assert(fs.rename(new org.apache.hadoop.fs.Path(bdir.getPath),
      new org.apache.hadoop.fs.Path(bdir.getPath + ".tmp")))
    assert(Catalog.readCatalog(spark, base).get.count() == total,
      "read must recover the committed bucket from .tmp")
    assert(bdir.exists(), "recovery completes the interrupted rename")
    // an upsert after the same crash shape merges, never wipes
    assert(fs.rename(new org.apache.hadoop.fs.Path(bdir.getPath),
      new org.apache.hadoop.fs.Path(bdir.getPath + ".tmp")))
    val more = Seq(("m9", "9")).toDF("metric", "user")
      .select(col("metric"), map(lit("user"), col("user")).as("tags"),
        lit(0L).as("ts_ms"), lit(1.0).as("value"))
    Catalog.upsertCatalog(spark, Catalog.fromPoints(more), base)
    assert(Catalog.readCatalog(spark, base).get.count() == total + 1)
  }

  test("stream-grown band index equals a batch rebuild; restart and post-compaction replay are no-ops") {
    import graft.llm.Dedup
    val docs = graft.core.Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_sbi_")
    // several source files → several micro-batches (one file per trigger)
    val srcDir = root.resolve("docs").toString
    docs.repartition(3).write.parquet(srcDir)
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val idx = root.resolve("bandidx").toString
    val cp = root.resolve("cp").toString
    Ingest.maintainBandIndex(spark, stream(), idx, cp)
    assert(Dedup.bandDeltaCount(spark, idx) == 3,
      "one delta per micro-batch")
    val whole = root.resolve("whole").toString
    Dedup.buildBandIndex(spark, docs, "doc_id", "text", whole, "t")
    def rows(p: String) = Dedup.readBandIndex(spark, p)
      .orderBy("id", "band", "sig").collect().map(_.toString).toSeq
    val expected = rows(whole)
    assert(rows(idx) == expected,
      "stream-grown index must equal a batch rebuild — batch boundaries can't matter")
    // restart on the same checkpoint: no new files, no new batches
    Ingest.maintainBandIndex(spark, stream(), idx, cp)
    assert(Dedup.bandDeltaCount(spark, idx) == 3 && rows(idx) == expected)
    // a takedown lands its tombstone as the next auto-id delta; a
    // late replay of stream batch 0 must be SKIPPED by the txn
    // watermark — under id-reuse it would overwrite the tombstone
    // and resurrect the deleted docs
    val dead = docs.where(col("doc_id") % 11 === 0).select("doc_id")
    Dedup.deleteFromBandIndex(spark, dead, idx)
    val afterDelete = rows(idx)
    assert(afterDelete.size < expected.size)
    assert(!Dedup.appendBandDelta(spark, docs.limit(7), "doc_id", "text",
      idx, txn = Some((cp, 0L))),
      "a replayed batch must land nothing")
    assert(rows(idx) == afterDelete,
      "the replay must not resurrect tombstoned docs")
    // compaction folds batches + tombstones and carries the txn
    // record into the base — the replay stays skipped afterwards
    Dedup.compactBandDeltas(spark, idx)
    assert(rows(idx) == afterDelete)
    assert(!Dedup.appendBandDelta(spark, docs.limit(7), "doc_id", "text",
      idx, txn = Some((cp, 2L))),
      "txn watermark must survive compaction")
    // a genuinely NEW batch id still lands
    assert(Dedup.appendBandDelta(spark,
      docs.where(col("doc_id") % 13 === 0), "doc_id", "text",
      idx, txn = Some((cp, 3L))))
  }

  test("stream-grown text index equals a batch rebuild; restart and post-compaction replay are no-ops") {
    import graft.llm.Retrieval
    val docs = graft.core.Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_sti_")
    // several source files → several micro-batches (one file per trigger)
    val srcDir = root.resolve("docs").toString
    docs.repartition(3).write.parquet(srcDir)
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val idx = root.resolve("textidx").toString
    val cp = root.resolve("cp").toString
    Ingest.maintainTextIndex(spark, stream(), idx, cp)
    assert(Retrieval.textDeltaCount(spark, idx) == 3,
      "one delta per micro-batch")
    val terms = Seq("spark", "merge", "dup")
    def hits(p: String) = Retrieval.bm25TopKStored(spark, p, terms, 10)
      .as[(Long, Double)].collect().toSeq
    val whole = root.resolve("whole").toString
    Retrieval.buildTextIndex(spark, docs, "doc_id", "text", whole, "t")
    val expected = hits(whole)
    assert(hits(idx) == expected,
      "stream-grown index must equal a batch rebuild — batch boundaries " +
        "can't matter (stats sums combine exactly, df derives at probe)")
    // restart on the same checkpoint: no new files, no new batches
    Ingest.maintainTextIndex(spark, stream(), idx, cp)
    assert(Retrieval.textDeltaCount(spark, idx) == 3 && hits(idx) == expected)
    // a takedown lands its tombstone as the next auto-id delta; a late
    // replay of stream batch 0 must be SKIPPED by the txn watermark —
    // under id-reuse it would overwrite the tombstone and resurrect
    // the deleted doc
    val top = expected.head._1
    Retrieval.deleteFromTextIndex(spark, Seq(top).toDF("doc_id"), idx)
    val afterDelete = hits(idx)
    assert(!afterDelete.map(_._1).contains(top),
      "a takedown must be invisible to probes immediately")
    assert(!Retrieval.appendTextDelta(spark, docs.limit(7), "doc_id", "text",
      idx, txn = Some((cp, 0L))),
      "a replayed batch must land nothing")
    assert(hits(idx) == afterDelete,
      "the replay must not resurrect the tombstoned doc")
    // compaction folds batches + tombstones, RECOMPUTES exact stats,
    // and carries the txn record into the base
    Retrieval.compactTextDeltas(spark, idx)
    val fresh = root.resolve("fresh").toString
    Retrieval.buildTextIndex(spark,
      docs.where(col("doc_id") =!= top), "doc_id", "text", fresh, "t")
    assert(hits(idx) == hits(fresh),
      "post-compaction index must equal the live-corpus rebuild")
    assert(!Retrieval.appendTextDelta(spark, docs.limit(7), "doc_id", "text",
      idx, txn = Some((cp, 2L))),
      "txn watermark must survive compaction")
    // a genuinely NEW batch id still lands
    assert(Retrieval.appendTextDelta(spark,
      docs.where(col("doc_id") % 13 === 0), "doc_id", "text",
      idx, txn = Some((cp, 3L))))
  }

  test("band and text sinks grow a built index caught in the root swap crash window") {
    import graft.llm.{Dedup, Retrieval}
    val docs = graft.core.Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_sboot_")
    val srcDir = root.resolve("odd").toString
    docs.where(col("doc_id") % 2 === 1).repartition(2).write.parquet(srcDir)
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    type Build = (org.apache.spark.sql.DataFrame, String) => Unit
    // (sink, batch build, stream sink over the odd docs, index as rows)
    val sinks = Seq[(String, Build, (String, String) => Unit, String => Seq[String])](
      ("band",
        (d, p) => Dedup.buildBandIndex(spark, d, "doc_id", "text", p, "t"),
        (p, cp) => Ingest.maintainBandIndex(spark, stream(), p, cp),
        p => Dedup.readBandIndex(spark, p).orderBy("id", "band", "sig")
          .collect().map(_.toString).toSeq),
      ("text",
        (d, p) => Retrieval.buildTextIndex(spark, d, "doc_id", "text", p, "t"),
        (p, cp) => Ingest.maintainTextIndex(spark, stream(), p, cp),
        p => (Retrieval.textIndexStats(spark, p).collect() ++
          Retrieval.bm25TopKStored(spark, p, Seq("spark", "merge", "dup"), 10)
            .collect()).map(_.toString).toSeq))
    sinks.foreach { case (name, build, sink, read) =>
      val idx = root.resolve(s"$name/idx").toString
      build(docs.where(col("doc_id") % 2 === 0), idx)
      // crash between a rebuild swap's delete and rename: the committed
      // index (its _SUCCESS marker inside) sits only at `.tmp`
      assert(fs.rename(new org.apache.hadoop.fs.Path(idx),
        new org.apache.hadoop.fs.Path(idx + ".tmp")))
      sink(idx, root.resolve(s"$name/cp").toString)
      val whole = root.resolve(s"$name/whole").toString
      build(docs, whole)
      val (got, want) = (read(idx), read(whole))
      val grown = got == want
      assert(grown, s"$name: the sink must grow the built half, not bootstrap " +
        s"over it (${want.diff(got).size} of ${want.size} rows missing)")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".tmp")),
        s"$name: the committed .tmp must be recovered, not orphaned")
    }
  }

  test("stream-appended ivf index: probes equal the batch-appended index; no quantizer, no stream") {
    import graft.llm.Similarity
    val emb = graft.core.Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_sivf_")
    val corpus = emb.where(col("vec_id") % 4 =!= 1)
    val arrivals = emb.where(col("vec_id") % 4 === 1)
    val srcDir = root.resolve("vecs").toString
    arrivals.repartition(2).write.parquet(srcDir)
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val idx = root.resolve("ivf").toString
    val cp = root.resolve("cp").toString
    // no trained quantizer yet: the sink must refuse, not train on batch 0
    intercept[IllegalArgumentException] {
      Ingest.maintainIvfIndex(spark, stream(), idx, cp)
    }
    Similarity.buildIvfIndex(spark, corpus, idx, "streamspec")
    Ingest.maintainIvfIndex(spark, stream(), idx, cp)
    assert(Similarity.ivfDeltaCount(spark, idx) == 2,
      "one delta per micro-batch")
    assert(Similarity.readLists(spark, idx).count() == emb.count())
    // probe equality vs the same index grown by one batch append
    val ref = root.resolve("ref").toString
    Similarity.buildIvfIndex(spark, corpus, ref, "streamspec")
    Similarity.appendIvfDelta(spark, arrivals, ref)
    val qs = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def probe(p: String) = Similarity.ivfTopKStored(spark, qs, p, 5, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(probe(idx) == probe(ref),
      "batch boundaries must not change what a probe returns")
    // restart on the same checkpoint: no new batches, nothing changes
    Ingest.maintainIvfIndex(spark, stream(), idx, cp)
    assert(Similarity.ivfDeltaCount(spark, idx) == 2)
  }

  test("stream ivf sink auto-compacts past the delta threshold; probes and drift unchanged") {
    import graft.llm.Similarity
    val emb = graft.core.Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_sivfc_")
    val corpus = emb.where(col("vec_id") % 4 =!= 1)
    val arrivals = emb.where(col("vec_id") % 4 === 1)
    val srcDir = root.resolve("vecs").toString
    arrivals.repartition(2).write.parquet(srcDir)
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val idx = root.resolve("ivf").toString
    Similarity.buildIvfIndex(spark, corpus, idx, "streamspec-compact")
    // threshold 2: the second micro-batch's append trips the fold, so
    // the run ends with ZERO visible deltas — file counts stay bounded
    // under continuous ingest without a separate maintenance window
    Ingest.maintainIvfIndex(spark, stream(), idx, root.resolve("cp").toString,
      maxDeltasBeforeCompact = 2)
    assert(Similarity.ivfDeltaCount(spark, idx) == 0,
      "threshold fold must leave no visible deltas")
    assert(Similarity.readLists(spark, idx).count() == emb.count())
    // the fold must not change what a probe returns…
    val ref = root.resolve("ref").toString
    Similarity.buildIvfIndex(spark, corpus, ref, "streamspec-compact")
    Similarity.appendIvfDelta(spark, arrivals, ref)
    val qs = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def probe(p: String) = Similarity.ivfTopKStored(spark, qs, p, 5, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(probe(idx) == probe(ref),
      "auto-compaction must not change probe results")
    // …and must not reset the drift signal (quantizer never retrained)
    val expected = arrivals.count().toDouble / corpus.count()
    assert(math.abs(Similarity.deltaFraction(spark, idx) - expected) < 1e-9,
      "drift must survive the in-stream fold")
    // restart on the same checkpoint after the fold: the txn markers
    // merged into the base, so the replayed stream re-lands nothing
    Ingest.maintainIvfIndex(spark, stream(), idx, root.resolve("cp").toString,
      maxDeltasBeforeCompact = 2)
    assert(Similarity.ivfDeltaCount(spark, idx) == 0)
    assert(Similarity.readLists(spark, idx).count() == emb.count())
  }

  test("stream ivf sink retrains on drift: stale quantizer replaced inside the stream's window") {
    import graft.llm.Similarity
    val emb = graft.core.Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_sivfr_")
    val corpus = emb.where(col("vec_id") % 4 =!= 1)
    val arrivals = emb.where(col("vec_id") % 4 === 1)
    val srcDir = root.resolve("vecs").toString
    arrivals.repartition(2).write.parquet(srcDir)
    def stream() = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val idx = root.resolve("ivf").toString
    val cp = root.resolve("cp").toString
    Similarity.buildIvfIndex(spark, corpus, idx, "streamspec-retrain")
    // threshold 0.05: each landing micro-batch (~17% of the trained
    // base) trips the trigger, so the run ends fully retrained —
    // zero deltas, zero drift, whole-corpus-trained quantizer
    Ingest.maintainIvfIndex(spark, stream(), idx, cp,
      retrainOnDrift = true, retrainThreshold = 0.05)
    assert(Similarity.ivfDeltaCount(spark, idx) == 0,
      "drift retrain must fold every delta")
    assert(Similarity.deltaFraction(spark, idx) == 0.0,
      "a retrained index reads zero drift")
    assert(graft.tsdb.Keysets.fingerprint(spark, idx).get.contains("|retrained@"),
      "the swapped artifact must carry the retrain tag")
    // the last retrain trained on every served vector, so the probe
    // must equal a fresh whole-corpus build bit-for-bit
    val ref = root.resolve("ref").toString
    Similarity.buildIvfIndex(spark, emb, ref, "streamspec-retrain-ref")
    val qs = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def probe(p: String) = Similarity.ivfTopKStored(spark, qs, p, 5, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(probe(idx) == probe(ref),
      "post-retrain probe must equal a fresh whole-corpus build")
    // restart on the same checkpoint: replays land nothing, so no
    // retrain re-fires (the carried txn record is what guards this)
    val fpBefore = graft.tsdb.Keysets.fingerprint(spark, idx)
    Ingest.maintainIvfIndex(spark, stream(), idx, cp,
      retrainOnDrift = true, retrainThreshold = 0.05)
    assert(graft.tsdb.Keysets.fingerprint(spark, idx) == fpBefore,
      "a replayed stream must not trigger a redundant retrain")
    assert(Similarity.readLists(spark, idx).count() == emb.count())
  }
}
