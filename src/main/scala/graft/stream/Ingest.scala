package graft.stream

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming ingestion + windowed analytics (SURVEY §2.I, EP1').
  *
  * The reference ingests via always-on HTTP/UDP/telnet listeners; the
  * Spark-native shape is `readStream` on an arriving-files source with a
  * checkpoint (the WAL analog), watermarked event-time windows, and
  * `foreachBatch` for the series-catalog upsert + partitioned parquet
  * append. Every operator here is driven through a REAL StreamingQuery
  * (file source → transforms → memory sink, Trigger.AvailableNow), then
  * the sink table is returned as a DataFrame so the driver's batch
  * harness can hash-compare it against a batch-equivalence oracle.
  */
object Ingest {

  /** events.parquet physical schema (round-9 fixtures: ts =
    * TIMESTAMP(MICROS) → TIMESTAMP_NTZ; earlier nanos fixtures needed
    * BIGINT under nanosAsLong — see graft.core.Tables). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val sinkId = new AtomicInteger(0)

  /** The file stream source requires a DIRECTORY; the fixtures are single
    * parquet files → stage a temp dir with a symlink (once per fixture). */
  private val stageDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedEventsDir(dir: String): String =
    stageDirs.getOrElseUpdate(dir, {
      val d = java.nio.file.Files.createTempDirectory("graft_events_")
      // absolute target: a relative link target would resolve against
      // the TEMP dir (symlink semantics), not the JVM cwd — a relative
      // fixture dir would silently dangle and zero every stream query
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
      d.toString
    })

  /** Streaming view of the events fixture (file source); ts derivations
    * shared with the batch reader (one definition in Tables.deriveTs).
    * The explicit micros schema above means only round-9+ fixture
    * generations stream (the retired nanos fixtures were only ever
    * read batch-side, where Tables still branches on the footer). */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    graft.core.Tables.deriveTs(
      s.readStream.schema(eventsSchema).parquet(stagedEventsDir(dir)))
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink; returns the sink contents. `mode` = complete for aggregations,
    * append otherwise.
    *
    * Stateful streaming allocates one state-store partition per shuffle
    * partition — at local fixture scale the per-partition store init
    * dominates, so the stream runs with a smaller shuffle width (state
    * partitioning is fixed at first run by the checkpoint anyway; on a
    * real cluster this is sized to executor count once, up front). */
  def runToMemory(s: SparkSession, streamed: DataFrame, mode: String): DataFrame = {
    val name = s"graft_sink_${sinkId.incrementAndGet()}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = streamed.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    // Datasets analyze eagerly, so the returned frame holds the resolved
    // memory-sink plan; dropping the temp view releases the catalog
    // reference — otherwise every stream query's full result stays
    // pinned in driver memory for the session lifetime
    val df = s.table(name)
    s.catalog.dropTempView(name)
    df
  }

  /** THE foreachBatch stream runner of every sink below: append mode,
    * `checkpoint` as the WAL, AvailableNow (drain what has arrived,
    * then stop), `f` per micro-batch; returns once the stream ends. */
  private def runBatches(stream: DataFrame, checkpoint: String)
                        (f: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
      .awaitTermination()

  /** The file SOURCE itself, promoted into the driver gate (r12): run
    * the events fixture through the streaming file source in append
    * mode with NO transformation beyond the shared ts derivation, and
    * return the read-back rows — hash-compared against the batch table
    * by the oracle. Read-back equivalence IS the correctness statement
    * for a source: any scheme/partition/ordering bug in the streaming
    * read path diverges here, not just in unit tests. */
  def sourceFiles(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsStream(s, dir)
      .select(col("event_id"), col("ts_ms"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    runToMemory(s, raw, "append").orderBy("event_id")
  }

  /** Tumbling 1h window per event_type (watermarked). */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
    runToMemory(s, agg, "complete")
      .select(col("event_type"),
        (unix_timestamp(col("window.start")) * 1000).as("bucket_ms"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "bucket_ms")
  }

  /** Sliding 1h/15m windows per event_type. */
  def sliding(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(window(col("ts_ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToMemory(s, agg, "complete")
      .select(col("event_type"),
        (unix_timestamp(col("window.start")) * 1000).as("start_ms"), col("n"))
      .orderBy("event_type", "start_ms")
  }

  /** Windowed top-k: tumbling 1h counts per event_type from the stream,
    * then the per-window top-3 ranked AFTER finalization — ranking is
    * not expressible inside a streaming aggregate, so the standard
    * pattern is stream-aggregate → finalized windows → batch rank over
    * the (window × type)-sized result, never the raw stream. */
  def windowedTopK(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val fin = runToMemory(s, agg, "complete")
      .select((unix_timestamp(col("window.start")) * 1000).as("bucket_ms"),
        col("event_type"), col("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket_ms").orderBy(col("n").desc, col("event_type"))
    fin.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .orderBy("bucket_ms", "rnk")
  }

  /** Streaming OHLC candles: tumbling 1h open/high/low/close per
    * event_type — open/close are the same deterministic struct extrema
    * as the batch `tsdb_ohlc` (ts ties break to smaller/larger value),
    * so the streaming state is four scalars + a count per window-key. */
  def ohlc(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(
        min(struct(col("ts_ms"), col("value"))).getField("value").as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(struct(col("ts_ms"), col("value"))).getField("value").as("close"),
        count(lit(1)).as("n"))
    runToMemory(s, agg, "complete")
      .select(col("event_type"),
        (unix_timestamp(col("window.start")) * 1000).as("bucket_ms"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
      .orderBy("event_type", "bucket_ms")
  }

  /** Gap-based session windows (30 min) per user. */
  def session(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(session_window(col("ts_ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts_ms")).as("session_start"))
    runToMemory(s, agg, "complete")
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Exact dedup on event_id within the watermark. Uses
    * dropDuplicatesWithinWatermark so the per-key state actually EXPIRES
    * once the watermark passes — plain dropDuplicates(key) without the
    * event-time column in the key keeps state forever (unbounded at
    * stream scale). */
  def dedup(s: SparkSession, dir: String): DataFrame = {
    val d = eventsStream(s, dir)
      .withWatermark("ts_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id")
    runToMemory(s, d, "append").agg(count(lit(1)).as("n"))
  }

  /** Stream-static enrichment join (stream side stays streaming). */
  def staticJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.core.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"))
    val joined = eventsStream(s, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"))
    runToMemory(s, joined, "append").orderBy("event_id")
  }

  /** Stream-STREAM interval join: clicks joined to the same user's
    * views within (c_ts, c_ts + 5min] — both sides watermarked so the
    * join state is BOUNDED (rows past watermark + interval are
    * evicted; an unbounded stream-join state is the first thing that
    * kills a long-running job at real ingest rates). Event time is
    * truncated to ms BEFORE the watermark so the time predicate
    * evaluates on exact ms values — bit-identical to the batch/DuckDB
    * ms mirror (raw ts carries sub-ms parts that would straddle the
    * boundary). */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, prefix: String) = eventsStream(s, dir)
      .where(col("event_type") === tpe)
      .select(col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        timestamp_millis(col("ts_ms")).as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "30 minutes")
    val joined = side("click", "c").join(side("view", "v"),
      col("c_user") === col("v_user") &&
        col("v_ts") > col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("c_id"), col("v_id"), col("c_user").as("user_id"),
        unix_millis(col("c_ts")).as("c_ts_ms"),
        unix_millis(col("v_ts")).as("v_ts_ms"))
    runToMemory(s, joined, "append").orderBy("c_id", "v_id")
  }

  /** Per-window distinct actives (streaming DAU): exact distinct is
    * not a streaming aggregate, so the standard decomposition is
    * streamed dedup on (window, user) — watermark-expiring state, one
    * row per live (window, user) pair — with the COUNT taken on the
    * finalized sink (batch side of the lambda-free pipeline). State
    * never exceeds live windows × active users. */
  def windowedDau(s: SparkSession, dir: String): DataFrame = {
    val d = eventsStream(s, dir)
      .withColumn("bucket_ms", expr("(ts_ms DIV 3600000) * 3600000"))
      .withWatermark("ts_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("bucket_ms", "user_id")
      .select("bucket_ms", "user_id")
    runToMemory(s, d, "append")
      .groupBy("bucket_ms")
      .agg(count(lit(1)).as("dau"))
      .orderBy("bucket_ms")
  }

  /** CDC-style latest-per-key snapshot (the streaming materialized-view
    * / upsert-compaction shape): one stateful aggregation keeping the
    * arg-max (ts, event_id, value) struct per (user, event_type) key —
    * state is ONE struct per live key regardless of stream volume, and
    * the struct max is merge-associative so Spark's partial aggregation
    * applies even across micro-batches. event_id in the comparison key
    * makes same-ms updates deterministic. */
  def cdcLatest(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_ms"), col("event_id"), col("value"))).as("m"))
    runToMemory(s, agg, "complete")
      .select(col("user_id"), col("event_type"),
        col("m.ts_ms").as("ts_ms"), col("m.event_id").as("event_id"),
        col("m.value").as("value"))
      .orderBy("user_id", "event_type")
  }

  /** Streaming SCD type-2 (the CDC history twin of [[cdcLatest]] and
    * the streaming twin of the batch `cdc_scd2`): explicit per-user
    * state (open interval's start ts, its opening event id, its `k`
    * attribute); a change event CLOSES the open interval and emits it
    * as one append-mode row — valid_from at the opening event,
    * valid_to just before the change. The still-open interval lives in
    * state (append mode cannot retract, so "current" rows are the
    * state store's, not the sink's — query them via cdcLatest). Rows
    * within a batch sort by (ts, event_id); a late row older than the
    * open interval is ignored (it cannot reopen history). Oracle: the
    * batch SCD2 restricted to CLOSED intervals. */
  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = eventsStream(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .where(col("k").isNotNull)
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("k"))
      .as[(Long, Long, Long, Long)]
    val out = src.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Long, Long, Long)],
       state: GroupState[(Long, Long, Long)]) => {  // (openTs, openEventId, k)
        val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
        var open = state.getOption
        val closed = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        sorted.foreach { case (_, ts, eid, k) =>
          open match {
            case Some((ots, _, _)) if ts < ots => // late: cannot reopen history
            case Some((ots, oeid, ok)) if k != ok =>
              closed += ((user, oeid, ok, ots, ts - 1))
              open = Some((ts, eid, k))
            case Some(_) => // same attribute: interval continues
            case None => open = Some((ts, eid, k))
          }
        }
        open.foreach(state.update)
        closed.iterator
      })
    runToMemory(s,
        out.toDF("user_id", "event_id", "k", "valid_from", "valid_to"), "append")
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Counter-reset detection with explicit state (rate building block):
    * keeps (lastTs, lastValue) per series, emits deltas; negative delta =
    * counter reset → null delta (mycenae rate semantics). */
  def statefulCounter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = eventsStream(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"), col("value"))
      .as[(Long, Long, Double)]
    val out = src.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Long, Double)],
       state: GroupState[(Long, Double)]) => {
        val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
        var last = state.getOption
        val res = sorted.map { case (_, ts, v) =>
          last match {
            case Some((lastTs, _)) if ts < lastTs =>
              // late row from an earlier batch: report no delta and do
              // NOT regress the state (it is not a counter reset)
              (user, ts, v, None: Option[Double])
            case Some((_, pv)) =>
              val delta = if (v >= pv) Some(v - pv) else None // v<pv = reset
              last = Some((ts, v))
              (user, ts, v, delta)
            case None =>
              last = Some((ts, v))
              (user, ts, v, None: Option[Double])
          }
        }
        state.update(last.get)
        res.iterator
      })
    runToMemory(s, out.toDF("user_id", "ts_ms", "value", "delta"), "append")
      .orderBy("user_id", "ts_ms", "value")   // value breaks ms-timestamp ties (D1)
  }

  /** EP1' sink: foreachBatch lands points and upserts the series catalog
    * (the Elasticsearch-upsert analog). Exactly-once WITHOUT markers
    * (a marker written before the sink is at-most-once, after it is
    * at-least-once): every write is idempotent per batch —
    *  - points land in a batch-scoped directory with overwrite mode, so
    *    a replayed batch rewrites the same files;
    *  - the catalog upsert is a per-bucket dedupe on the series key, a
    *    natural no-op on replay.
    * The catalog is the BUCKETED store ([[graft.tsdb.Catalog
    * .upsertCatalog]]): a micro-batch rewrites only buckets that gained
    * a new series, so steady-state upsert cost scales with the batch's
    * novelty, never the accumulated catalog size — the full-catalog
    * rewrite this replaces was the first scale casualty at real series
    * cardinality. Writes under `outBase`; returns the final catalog. */
  def ingestWithCatalog(s: SparkSession, dir: String, outBase: String): DataFrame = {
    val catalogPath = s"$outBase/catalog"
    val pointsPath = s"$outBase/points"
    val stream = eventsStream(s, dir).select(
      col("event_type").as("metric"),
      map(lit("user"), col("user_id").cast("string")).as("tags"),
      col("ts_ms"), col("value"))
    // phase receipt (VERDICT r17 #6): the stream lifecycle — every
    // micro-batch's landing write + catalog upsert — as its own TSV row,
    // so a drifted driver reading splits into sink vs final-read cost
    graft.core.Phase.time("sink_stream") {
      runBatches(stream, s"$outBase/_checkpoint") { (batch, batchId) =>
        // try/finally: a throw from the merge/swap must not leak the
        // cached datasets into the rest of the session (Verify keeps
        // running other queries after a failed one)
        batch.persist()
        try {
          // repair first: a crash inside compactPoints' swap must not
          // let this landing recreate the directory and orphan the
          // committed compacted state in `.tmp`
          graft.tsdb.Keysets.repairSwap(batch.sparkSession, pointsPath)
          batch.write.mode("overwrite").partitionBy("metric")
            .parquet(s"$pointsPath/batch=$batchId")
          // dedupe on the exact key, not the 64-bit tsid (a hash
          // collision would silently drop a series)
          graft.tsdb.Catalog.upsertCatalog(batch.sparkSession,
            graft.tsdb.Catalog.fromPoints(batch), catalogPath)
        } finally { batch.unpersist(); () }
      }
    }
    graft.tsdb.Catalog.readCatalog(s, catalogPath)
      .getOrElse(throw new IllegalStateException(
        s"ingest produced no catalog under $catalogPath"))
      .select(col("metric"), col("tags_canonical"))
      .orderBy("metric", "tags_canonical")
  }

  /** HOT/COLD MERGED READ (VERDICT r17 "what's missing" #2 — the one
    * architectural capability of the reference design with no single
    * demonstrating query): mycenae answers reads from a gorilla-
    * compressed in-memory recent buffer UNIONED with the cold Cassandra
    * store [PK-M]. The Spark-native twin: the HOT tier is the last ~8
    * days of points landed by a REAL Structured Streaming sink
    * (AvailableNow foreachBatch → parquet — the in-flight/recent state),
    * the COLD tier is the batch store, and the tiers deliberately
    * OVERLAP by one day around the split so the merged read must prove
    * seam consistency: exact-key dedup with HOT priority
    * (`max_by(value, (tier, value))` — an order-free aggregate, D2),
    * so no point is double-counted and no point is lost, then one
    * daily-avg downsample RIDES ACROSS THE SEAM as if the store were
    * one table. The oracle recomputes the same read from the raw events
    * alone — equality IS the hot/cold consistency statement. At 100 TB
    * the shape is identical: recent micro-batch landings + partitioned
    * cold store, per-key dedup co-partitioned on the series key, one
    * aggregate over the union. */
  def hotColdUnion(s: SparkSession, dir: String, outBase: String): DataFrame = {
    val day = 86400000L
    val split = graft.core.Tables.NowMs - 7 * day
    val hotPath = s"$outBase/hot"
    val recent = eventsStream(s, dir)
      .where(col("ts_ms") >= split - day)
      .select(col("event_type"), col("user_id"), col("ts_ms"), col("value"))
    graft.core.Phase.time("hot_land") {
      runBatches(recent, s"$outBase/_checkpoint") { (batch, batchId) =>
        batch.write.mode("overwrite").parquet(s"$hotPath/batch=$batchId")
      }
    }
    val hot = s.read.parquet(hotPath)
      .select(col("event_type"), col("user_id"), col("ts_ms"), col("value"))
      .withColumn("tier", lit(1))
    val cold = graft.core.Tables.events(s, dir)
      .where(col("ts_ms") < split)
      .select(col("event_type"), col("user_id"), col("ts_ms"), col("value"))
      .withColumn("tier", lit(0))
    val merged = cold.unionByName(hot)
      .groupBy("event_type", "user_id", "ts_ms")
      .agg(max_by(col("value"), struct(col("tier"), col("value"))).as("value"))
    graft.tsdb.Downsample(merged, Seq("event_type", "user_id"), day, "avg")
      .orderBy("event_type", "user_id", "bucket_ms")
  }

  /** Continuous aggregate: maintain a [[graft.tsdb.Rollups]] table
    * incrementally from the stream. Each micro-batch writes its DELTA
    * (pre-aggregated partial states) to a batch-scoped directory with
    * overwrite mode — a replayed batch rewrites the same delta, never
    * double-merges, and a crash at any point is safe (exactly-once
    * without markers). The rollup view is the grouped merge over all
    * deltas; decimal sums/counts add and min/max fold, so it equals the
    * batch-built rollup regardless of batch boundaries. Compaction (fold
    * old deltas into one) is a read-side optimization, not a correctness
    * requirement. */
  def maintainRollup(s: SparkSession, dir: String, outBase: String,
                     intervalMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val deltas = s"$outBase/rollup_deltas"
    val keys = Seq("event_type", "user_id")
    val events = eventsStream(s, dir)
      .select(col("event_type"), col("user_id"), col("ts_ms"), col("value"))
    runBatches(events, s"$outBase/_rollup_checkpoint") { (batch, batchId) =>
      // repair first: a crash inside compactDeltas' swap would
      // otherwise let this append recreate the directory and orphan
      // the committed compacted state in `.tmp`
      graft.tsdb.Keysets.repairSwap(batch.sparkSession, deltas)
      graft.tsdb.Rollups.build(batch, keys, intervalMs)
        .write.mode("overwrite").parquet(s"$deltas/batch=$batchId")
    }
    graft.tsdb.Keysets.repairSwap(s, deltas)
    s.read.parquet(deltas)
      .groupBy((keys :+ "bucket_ms").map(col): _*)
      .agg(sum(col("psum")).as("psum"), sum(col("pcount")).as("pcount"),
        min(col("pmin")).as("pmin"), max(col("pmax")).as("pmax"))
  }

  /** EP2': steady-state dedup-index maintenance from a DOCUMENT stream —
    * the missing half of the `llm_dedup_incremental` story: that query
    * probes a stored band index; this sink is what keeps the index
    * growing as the crawl arrives. Each micro-batch's band signatures
    * land as the next auto-id delta, exactly once via the Delta Lake
    * txn pattern: the stream (identified by its checkpoint path)
    * records the highest batch it committed in `_txn` markers that
    * travel with the deltas and survive compaction, so a replayed
    * batch lands NOTHING — and because delta ids auto-allocate, a
    * replay can never overwrite a takedown tombstone or any other
    * writer's delta (id-reuse schemes break exactly there). Band keys
    * are per-doc independent, so the stream-grown index ≡ a batch
    * rebuild over the same docs regardless of batch boundaries
    * (StreamSpec-asserted). Bootstrap is an empty schema-bearing base;
    * [[graft.llm.Dedup.compactBandDeltas]] is the read-side
    * maintenance pass, never a correctness requirement. */
  def maintainBandIndex(s: SparkSession, docsStream: DataFrame,
                        indexPath: String, checkpoint: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 32, r: Int = 4, shingleN: Int = 3): Unit = {
    import s.implicits._
    graft.tsdb.Keysets.ensureBase(s, indexPath, "bands")(tmp =>
      graft.tsdb.Keysets.writeEmpty(graft.llm.Dedup.bandSigsPortable(
        Seq.empty[(Long, String)].toDF("id", "text"), "id", "text"), tmp))
    runBatches(docsStream, checkpoint) { (batch, batchId) =>
      // band params must match what probes of this artifact use —
      // they ride the sink signature because the band index (unlike
      // the IVF quantizer) stores no geometry to derive them from
      graft.llm.Dedup.appendBandDelta(batch.sparkSession, batch, idCol, textCol,
        indexPath, k = k, r = r, shingleN = shingleN, txn = Some((checkpoint, batchId)))
    }
  }

  /** Steady-state TEXT-index maintenance from a document stream — the
    * inverted-file twin of [[maintainBandIndex]], same txn-marker
    * exactly-once contract: each micro-batch's postings land as the
    * next auto-id delta WITH the batch's integer-exact corpus stats in
    * the same atomic swap, so probes always see matching postings and
    * stats. Because per-term df derives at probe time and the stats
    * sums combine exactly, the stream-grown index ≡ a batch rebuild
    * over the same docs regardless of batch boundaries
    * (StreamSpec-asserted). Bootstrap is an empty schema-bearing base
    * pinning the bucket modulus; [[graft.llm.Retrieval
    * .compactTextDeltas]] is the read-side maintenance pass, never a
    * correctness requirement. */
  def maintainTextIndex(s: SparkSession, docsStream: DataFrame,
                        indexPath: String, checkpoint: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        buckets: Int = 16): Unit = {
    import s.implicits._
    // the empty base is written un-partitioned (Keysets.writeEmpty);
    // `tb` rides as a data column, which unions by name with the
    // partitioned deltas and still bucket-prunes them
    graft.tsdb.Keysets.ensureBase(s, indexPath, "postings") { tmp =>
      val (postings, stats) = graft.llm.Retrieval.postingRows(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", buckets)
      graft.tsdb.Keysets.writeEmpty(postings, tmp)
      stats.coalesce(1).write.parquet(s"$tmp/_stats")
    }
    runBatches(docsStream, checkpoint) { (batch, batchId) =>
      graft.llm.Retrieval.appendTextDelta(batch.sparkSession, batch, idCol, textCol,
        indexPath, txn = Some((checkpoint, batchId)))
    }
  }

  /** EP2'': steady-state ANN-index maintenance from an EMBEDDING stream —
    * the IVF analog of [[maintainBandIndex]], same txn-marker
    * exactly-once contract. One deliberate asymmetry: there is NO
    * bootstrap-from-stream — the quantizer (centroids + PQ codebooks)
    * must already exist at `indexPath` ([[graft.llm.Similarity
    * .buildIvfIndex]], the offline training pass), because training it
    * on whatever the first micro-batch happens to hold would bake the
    * batch boundary into every later assignment. Appends are O(batch):
    * assignment + codes from the stored quantizer, zero training —
    * quantizer drift until the next rebuild is the standard IVF trade.
    *
    * With `retrainOnDrift` on, the sink CLOSES that trade's loop: after
    * a batch lands, if [[graft.llm.Similarity.needsRetrain]] trips (at
    * `retrainThreshold` untrained mass), [[graft.llm.Similarity
    * .retrainIvfIndex]] runs inside the stream's own single-writer
    * window — fold, whole-served-corpus training, atomic swap; the
    * carried txn record keeps replays landing nothing afterwards. The
    * retrain is O(served corpus) where every append is O(batch), so
    * the threshold amortizes it over ~threshold×corpus of appends; a
    * replayed batch never lands and so can never re-trigger one.
    * `retrainParams` sets the rebuilt geometry — it defaults to the
    * default build geometry, so a quantizer built with custom
    * IndexParams needs them passed here too. */
  def maintainIvfIndex(s: SparkSession, vecStream: DataFrame,
                       indexPath: String, checkpoint: String,
                       maxDeltasBeforeCompact: Int = Int.MaxValue,
                       retrainOnDrift: Boolean = false,
                       retrainThreshold: Double =
                         graft.llm.Similarity.RetrainThreshold,
                       retrainParams: graft.llm.Similarity.IndexParams =
                         graft.llm.Similarity.IndexParams()): Unit = {
    graft.tsdb.Keysets.repairSwap(s, indexPath)
    val centroids = new org.apache.hadoop.fs.Path(s"$indexPath/centroids")
    require(centroids.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(centroids),
      s"maintainIvfIndex needs a trained quantizer at $indexPath — run buildIvfIndex first")
    runBatches(vecStream, checkpoint) { (batch, batchId) =>
      val landed = graft.llm.Similarity.appendIvfDelta(batch.sparkSession,
        batch, indexPath, txn = Some((checkpoint, batchId)))
      // fold deltas past the threshold: file counts stay bounded under
      // continuous ingest; compaction rides the stream's single-writer
      // window (the Keysets contract), a replayed batch lands nothing
      // and so never triggers a fold, and the txn markers merge into
      // the base so replay-skip survives the fold. Folding does
      // NOT retrain the quantizer — Similarity.deltaFraction measures
      // drift against the _trained count pinned at build time, so the
      // retrain signal SURVIVES the fold; this threshold is purely an
      // IO guardrail, orthogonal to the drift trigger.
      if (landed && maxDeltasBeforeCompact != Int.MaxValue &&
          graft.llm.Similarity.ivfDeltaCount(batch.sparkSession, indexPath)
            >= maxDeltasBeforeCompact)
        graft.llm.Similarity.compactIvfDeltas(batch.sparkSession, indexPath)
      // drift-triggered retrain: policy (the threshold) and mechanism
      // (fold + retrain + atomic swap) both inside the single-writer
      // window. Gated on `landed` so a replayed batch — which appends
      // nothing — can never pay a redundant O(corpus) training run.
      if (landed && retrainOnDrift &&
          graft.llm.Similarity.needsRetrain(batch.sparkSession, indexPath,
            retrainThreshold)) {
        // tag derives from the fingerprint being replaced; the
        // retrained@ suffix is replaced, not stacked, so repeated
        // retrains keep the tag bounded
        val base = graft.tsdb.Keysets
          .fingerprint(batch.sparkSession, indexPath)
          .getOrElse("ivf").replaceAll("\\|retrained@.*$", "")
        graft.llm.Similarity.retrainIvfIndex(batch.sparkSession, indexPath,
          s"$base|retrained@$checkpoint:$batchId", retrainParams)
      }
    }
  }

  /** Fold the per-micro-batch point landing directories into ONE
    * compacted, query-optimized layout: partitioned by metric, rows
    * sorted by (ts, value) within partitions — the §4.2 row-group
    * locality the landing writes can't give (each batch dir holds a
    * sliver of every series, so a range query touches every batch
    * footer forever without compaction). Points are immutable rows, so
    * this is pure re-layout; contents are unchanged. Same whole-dir
    * [[graft.tsdb.Keysets.swapBuiltDir]] swap and single-writer
    * maintenance-window contract as [[graft.tsdb.Rollups.compactDeltas]]
    * — the streaming appender repairs an interrupted swap before
    * landing a batch. */
  def compactPoints(s: SparkSession, pointsPath: String): Unit = {
    graft.tsdb.Keysets.repairSwap(s, pointsPath)
    val destP = new org.apache.hadoop.fs.Path(pointsPath)
    if (!destP.getFileSystem(s.sparkContext.hadoopConfiguration).exists(destP)) return
    graft.tsdb.Keysets.swapBuiltDir(s, pointsPath) { tmp =>
      s.read.parquet(pointsPath).drop("batch")
        .repartition(col("metric"))
        .sortWithinPartitions("ts_ms", "value")
        .write.partitionBy("metric")
        .parquet(s"$tmp/batch=compacted")
    }
  }

  /** Partitioned parquet point sink (§2.A sink_parquet_partitioned):
    * partitionBy(event_type) + sortWithinPartitions(user_id, ts) — the
    * (ksid, date)/(tsid, ts) layout analog from SURVEY §4.2 that gives
    * row-group locality per series. */
  def writePartitioned(s: SparkSession, dir: String, out: String): Unit =
    graft.core.Tables.events(s, dir)
      .repartition(col("event_type"))
      .sortWithinPartitions("user_id", "ts_ms")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
}
