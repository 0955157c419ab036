package graft.tsdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Series-metadata catalog — the Elasticsearch-index analog (SURVEY §1.2).
  * A compacted table {tsid, metric, tags} queried for suggest/lookup and
  * used as a semi-join prune before the points scan. Built batch here;
  * [[graft.stream.Ingest]] maintains it incrementally via foreachBatch.
  */
object Catalog {

  /** THE canonical tag serialization (sorted k=v join). tsid consistency
    * across catalog build / prune / pipeline depends on every caller
    * using this one definition. */
  def canonicalTags: org.apache.spark.sql.Column = expr(
    "array_join(transform(array_sort(map_keys(tags)), k -> concat(k, '=', element_at(tags, k))), ',')")

  /** Distinct series of a canonical points frame (metric, tags map). The
    * tsid is a hash of metric + canonically-sorted tag serialization —
    * xxhash64, Spark's native 64-bit hash (codegen'd). */
  def fromPoints(points: DataFrame): DataFrame = {
    // distinct on the canonical STRING (set ops are unsupported on MAP
    // columns); the map is rebuilt from it afterwards.
    points.select(col("metric"), canonicalTags.as("tags_canonical"))
      .distinct()
      // str_to_map('') yields {'' -> null}, not an empty map — guard the
      // untagged-series case so it round-trips as map() instead of a
      // corrupt single-entry map
      .withColumn("tags", expr(
        "CASE WHEN tags_canonical = '' THEN map() " +
          "ELSE str_to_map(tags_canonical, ',', '=') END"))
      .withColumn("tsid", xxhash64(col("metric"), col("tags_canonical")))
  }

  /** `/api/suggest` analog: prefix match over one catalog column,
    * deduped, sorted, capped. */
  def suggest(catalog: DataFrame, column: String, prefix: String, max: Int): DataFrame =
    catalog.where(col(column).startsWith(prefix))
      .select(col(column)).distinct().orderBy(col(column)).limit(max)

  /** `/api/search/lookup` analog: series matching metric + tag filters,
    * stable order, offset/limit pagination. */
  def lookup(catalog: DataFrame, metric: String, filters: Seq[TagFilterSpec],
             limit: Int, offset: Int = 0): DataFrame = {
    var df = catalog.where(col("metric") === metric)
    filters.foreach { f => df = df.where(TagFilters.toMapPredicate(col("tags"), f)) }
    df.orderBy(col("metric"), col("tags_canonical")).offset(offset).limit(limit)
  }

  // -------------------------------------------------- bucketed store
  //
  // The persisted catalog is split into [[CatalogBuckets]] hash buckets
  // of the series key; each bucket is an INDEPENDENT swap-managed
  // parquet table (Keysets.swapBuiltDir/repairSwap crash contract). An
  // incremental upsert rewrites ONLY buckets that gained a new series —
  // the full-catalog rewrite per micro-batch was the first thing that
  // would fall over on a real cluster (steady-state cost proportional
  // to the accumulated catalog instead of the batch's novelty).

  /** Bucket count. Fixture-sized; a production deployment sizes it so a
    * bucket stays a few hundred MB (or replaces this layer with a
    * transactional table format — the swap contract is the same). */
  val CatalogBuckets = 16

  /** Bucket id of a series row — derived from the SAME canonical key the
    * dedupe uses, so a series always lands in exactly one bucket. */
  def bucketId: org.apache.spark.sql.Column =
    pmod(xxhash64(col("metric"), col("tags_canonical")), lit(CatalogBuckets)).cast("int")

  private def bucketPath(base: String, b: Int): String = f"$base/b$b%02d"

  /** Read the full catalog (union of existing buckets), repairing any
    * interrupted per-bucket swap first. None = never written. */
  def readCatalog(s: SparkSession, catalogPath: String): Option[DataFrame] = {
    val existing = (0 until CatalogBuckets).flatMap { b =>
      val p = bucketPath(catalogPath, b)
      Keysets.repairSwap(s, p)
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) Some(p) else None
    }
    if (existing.isEmpty) None else Some(s.read.parquet(existing: _*))
  }

  /** Upsert a batch's series into the bucketed catalog. Only buckets
    * that gained a series NOT already present are rewritten — an
    * unchanged bucket's files are never touched, and a replayed batch
    * (streaming restart) is a no-op.
    *
    * Job shape is bucket-count-INDEPENDENT: one read of the candidate
    * buckets, one anti-join for novelty, one partitioned write staging
    * every affected bucket's merged content, then a filesystem-rename
    * swap per bucket (metadata ops, no further Spark jobs) — a
    * per-bucket merge loop would pay 2×buckets job launches per batch.
    * Each bucket swap keeps the write-then-rename crash contract:
    * `_SUCCESS`-marked `.tmp` lands BEFORE the destination is deleted,
    * so repairSwap can always finish an interrupted rename, and a
    * crash between bucket swaps just leaves the replayed batch to
    * re-merge the not-yet-swapped buckets (idempotent adds). */
  def upsertCatalog(s: SparkSession, newSeries: DataFrame, catalogPath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(catalogPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val withB = newSeries.dropDuplicates("metric", "tags_canonical")
      .withColumn("b", bucketId).persist()
    try {
      // candidate buckets: ≤ CatalogBuckets rows — config-sized collect
      val candidates = withB.select("b").distinct()
        .collect().map(_.getInt(0)).sorted
      val existingPaths = candidates.map(bucketPath(catalogPath, _)).filter { p =>
        Keysets.repairSwap(s, p)
        fs.exists(new org.apache.hadoop.fs.Path(p))
      }
      // novelty = batch series minus what the candidate buckets already
      // hold (exact key, not the 64-bit tsid); bucket ids recompute
      // deterministically from the key on the read side
      val (novel, existing) =
        if (existingPaths.isEmpty) (withB, None)
        else {
          val ex = s.read.parquet(existingPaths.toIndexedSeq: _*)
            .withColumn("b", bucketId).persist()
          (withB.join(ex.select("metric", "tags_canonical"),
            Seq("metric", "tags_canonical"), "left_anti"), Some(ex))
        }
      val staged = graft.core.Exec.materialize(novel) // one job: novelty materialized
      try {
        val affected = staged.select("b").distinct()
          .collect().map(_.getInt(0)).sorted
        if (affected.nonEmpty) {
          val merged = existing
            .map(ex => ex.where(col("b").isin(affected.toIndexedSeq.map(Integer.valueOf): _*))
              .unionByName(staged.where(
                col("b").isin(affected.toIndexedSeq.map(Integer.valueOf): _*))))
            .getOrElse(staged)
          val staging = s"$catalogPath/_staging"
          // cluster on b before the dynamic-partition write (r18 — the
          // r15 IVF lists-write lesson): without it every write task
          // opens a file in up to CatalogBuckets dirs (tasks × buckets
          // parquet writer inits for series-sized content); clustered,
          // each affected bucket lands from exactly one task
          merged.repartition(col("b"))
            .write.mode("overwrite").partitionBy("b").parquet(staging)
          affected.foreach(b => swapStagedBucket(s, staging, catalogPath, b))
          // staged output is spent once every bucket swapped (committer
          // _SUCCESS + emptied partition dirs would otherwise accumulate
          // forever); readers never address _staging, so this is pure
          // hygiene and safe to do last (ADVICE r6)
          val stagingP = new org.apache.hadoop.fs.Path(staging)
          if (fs.exists(stagingP)) { fs.delete(stagingP, true); () }
        }
      } finally existing.foreach { ex => ex.unpersist(); () }
    } finally { withB.unpersist(); () }
  }

  /** Swap one staged bucket (`$staging/b=$b`) into place: swapBuiltDir
    * renames the staged dir in as its `.tmp`, so repairSwap's recovery
    * applies. When the staged write produced no content for the bucket
    * (every series died) the bucket is DELETED instead — idempotent, as
    * the intended end state has no bucket and a replay after a crash
    * finds nothing to redo. */
  private def swapStagedBucket(s: SparkSession, staging: String,
                               catalogPath: String, b: Int): Unit = {
    val dest = bucketPath(catalogPath, b)
    val destP = new org.apache.hadoop.fs.Path(dest)
    val stagedP = new org.apache.hadoop.fs.Path(s"$staging/b=$b")
    val fs = destP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(stagedP)) {
      if (fs.exists(destP) && !fs.delete(destP, true))
        throw new java.io.IOException(s"could not delete emptied $destP")
    } else Keysets.swapBuiltDir(s, dest) { tmp =>
      if (!fs.rename(stagedP, new org.apache.hadoop.fs.Path(tmp)))
        throw new java.io.IOException(s"rename $stagedP -> $tmp failed")
    }
  }

  /** Retention for the catalog itself — the ES-index analog of point
    * TTL: a series whose points are ALL expired/deleted lives in the
    * catalog forever otherwise (the upsert only ever ADDS). `livePoints`
    * is the canonical points frame AFTER retention filtering
    * ([[Retention.applyTtl]] etc.); any catalog series absent from it
    * is dead. Mirrors the upsert's novelty scoping in reverse: dead
    * series → affected buckets (config-sized collect), ONE staged
    * partitioned write of those buckets' SURVIVORS, per-bucket rename
    * swaps — a bucket that lost nothing is never opened, a bucket whose
    * series all died is deleted. Cost ∝ catalog-side of dead buckets +
    * one distinct over the (already reduced) live series, never the
    * full points table. */
  def vacuum(s: SparkSession, catalogPath: String, livePoints: DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(catalogPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    readCatalog(s, catalogPath).foreach { cat =>
      val ex = cat.withColumn("b", bucketId).persist()
      // persisted: the dead-bucket probe AND the survivors write both
      // consume the live series set — without this the full points
      // scan + distinct shuffle runs twice per vacuum
      val live = livePoints
        .select(col("metric"), canonicalTags.as("tags_canonical")).distinct()
        .persist()
      try {
        val dead = ex.join(live, Seq("metric", "tags_canonical"), "left_anti")
        // affected buckets: ≤ CatalogBuckets rows — config-sized collect
        val affected = dead.select("b").distinct()
          .collect().map(_.getInt(0)).sorted
        if (affected.nonEmpty) {
          val survivors = ex
            .where(col("b").isin(affected.toIndexedSeq.map(Integer.valueOf): _*))
            .join(live, Seq("metric", "tags_canonical"), "left_semi")
          val staging = s"$catalogPath/_staging"
          // clustered like the upsert write (r18) — one task per
          // affected bucket instead of tasks × buckets writer inits
          survivors.repartition(col("b"))
            .write.mode("overwrite").partitionBy("b").parquet(staging)
          affected.foreach(b => swapStagedBucket(s, staging, catalogPath, b))
          val stagingP = new org.apache.hadoop.fs.Path(staging)
          if (fs.exists(stagingP)) { fs.delete(stagingP, true); () }
        }
      } finally { ex.unpersist(); live.unpersist(); () }
    }
  }

  /** Prune a points frame to series matching the catalog subset — the
    * ES-before-Cassandra two-phase read (SURVEY §4.1 row 1). Broadcast
    * left-semi join on (metric, canonical tags): exact — unlike a join
    * on the 64-bit tsid hash, a collision can't leak a foreign series.
    * (Canonical serialization is unambiguous because the ingest charset
    * [[graft.stream.Validate.CharsetRe]] forbids ',' and '=' in tag
    * keys/values.) */
  def pruneByCatalog(points: DataFrame, matchingSeries: DataFrame): DataFrame = {
    points.withColumn("tags_canonical", canonicalTags)
      .join(broadcast(matchingSeries.select("metric", "tags_canonical")),
        Seq("metric", "tags_canonical"), "left_semi")
      .drop("tags_canonical")
  }
}
