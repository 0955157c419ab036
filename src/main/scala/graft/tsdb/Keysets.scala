package graft.tsdb

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Keyset / keyspace management (SURVEY §1.1 multi-tenancy): keysets are
  * metadata namespaces, keyspaces carry retention config. Here both are
  * one registry table (parquet) keyed by ksid with `{ttl_ms,
  * replication, created_ms}`; tenant isolation at the data layer is the
  * `ksid` partition column (partition pruning = tenant routing).
  */
object Keysets {
  private val Schema = "ksid STRING, ttl_ms BIGINT, replication INT, created_ms BIGINT"

  def create(s: SparkSession, registryPath: String, ksid: String,
             ttlMs: Long, replication: Int, nowMs: Long): Unit = {
    require(ksid.matches(graft.stream.Validate.CharsetRe), s"invalid ksid: $ksid")
    val row = s.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(ksid, ttlMs, replication, nowMs)),
      org.apache.spark.sql.types.StructType.fromDDL(Schema))
    // bootstrap ONLY when the registry doesn't exist yet; any other read
    // failure must propagate (an empty substitute would wipe the registry)
    repairSwap(s, registryPath)
    val p = new org.apache.hadoop.fs.Path(registryPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(p))
        s.read.parquet(registryPath).where(col("ksid") =!= ksid).unionByName(row)
      else row
    swapBuiltDir(s, registryPath)(tmp => merged.write.parquet(tmp))
  }

  /** Finish an interrupted swap before touching a swap-managed table.
    * [[swapBuiltDir]] fully writes and commits (`_SUCCESS`) the `.tmp`
    * BEFORE deleting the destination, so a missing destination with a
    * COMMITTED `.tmp` means the crash hit the delete→rename window and
    * the `.tmp` holds the current state: complete the rename. A `.tmp`
    * WITHOUT the marker is a crashed in-progress write — no state was
    * ever lost — and is ignored (the next swap clears it). Repairing
    * eagerly (instead of reading from `.tmp` in place) also keeps
    * writers safe: a read-from-.tmp feeding a swap would overwrite its
    * own input. */
  private[graft] def repairSwap(s: SparkSession, dest: String): Unit = {
    val destP = new org.apache.hadoop.fs.Path(dest)
    val fs = destP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(destP)) {
      val tmpP = new org.apache.hadoop.fs.Path(dest + ".tmp")
      if (fs.exists(new org.apache.hadoop.fs.Path(tmpP, "_SUCCESS")) &&
          !fs.rename(tmpP, destP))
        throw new java.io.IOException(
          s"recovery rename $tmpP -> $destP failed; state preserved at $tmpP")
    }
  }

  /** THE write-then-rename commit every persisted table and artifact
    * directory goes through (state tables, catalog buckets, compacted
    * points and rollups, the ANN / band / text indexes and their
    * deltas): `build` populates the `.tmp` dir with whatever tables or
    * marker files the artifact needs, then the marker-before-delete
    * rename below commits it, so [[repairSwap]] recovers every one of
    * them the same way. The crash window is the metadata rename, not a
    * data rewrite. Hadoop FileSystem signals failure via RETURN VALUE,
    * not exceptions — ignoring it would leave the destination deleted
    * with no error. (A transactional table format is the real-cluster
    * answer; these tables are small and single-writer by contract.)
    *
    * The `_SUCCESS` marker is repairSwap's commit signal. It is written
    * here instead of relying on the committer's, so recovery does not
    * silently break when a session runs with
    * mapreduce.fileoutputcommitter.marksuccessfuljobs=false. Ordering
    * keeps the window safe: a crash before the marker leaves the
    * destination untouched (the delete comes after it), so an unmarked
    * .tmp never holds the only copy of the state. */
  private[graft] def swapBuiltDir(s: SparkSession, dest: String)
                                 (build: String => Unit): Unit = {
    val destP = new org.apache.hadoop.fs.Path(dest)
    val tmpP = new org.apache.hadoop.fs.Path(dest + ".tmp")
    val fs = destP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(tmpP) && !fs.delete(tmpP, true))
      throw new java.io.IOException(s"could not clear stale $tmpP")
    build(tmpP.toString)
    fs.create(new org.apache.hadoop.fs.Path(tmpP, "_SUCCESS"), true).close()
    if (fs.exists(destP) && !fs.delete(destP, true))
      throw new java.io.IOException(s"could not delete $destP for swap")
    if (!fs.rename(tmpP, destP))
      throw new java.io.IOException(s"rename $tmpP -> $destP failed; " +
        s"previous state preserved at $tmpP")
    ()
  }

  /** Contents of the small UTF-8 marker file at `path` (`_meta`,
    * `_txn`, `_folded`, `_trained`, ...); None when it does not exist. */
  private[graft] def readMarker(s: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Write (or overwrite) the UTF-8 marker file at `path`. Markers that
    * must commit with an artifact are written inside its
    * [[swapBuiltDir]] build callback. */
  private[graft] def writeMarker(s: SparkSession, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The committed build fingerprint (`_meta`) of the artifact at
    * `path`, after finishing any interrupted swap; None when no
    * artifact has been committed there. Ensure-style callers rebuild
    * unless `fingerprint(s, path).contains(fp)`. */
  def fingerprint(s: SparkSession, path: String): Option[String] = {
    repairSwap(s, path)
    readMarker(s, s"$path/_meta")
  }

  // ----------------------- delta-dir lifecycle (grow-without-rebuild)
  //
  // Artifacts that grow with the corpus (ANN inverted lists, dedup band
  // indexes) append batches as `delta_NNNN/` dirs next to the base
  // table `$path/$sub` — each delta its own [[swapBuiltDir]] commit.
  // Readers union base + committed deltas; `compactDeltas` folds them
  // back into the base behind a `_folded` watermark INSIDE the swapped
  // base dir, so the fold is atomic for readers and deleting spent
  // delta dirs is best-effort cleanup, never a correctness event.
  // Concurrency: readers are safe against any single writer at every
  // point (each commit is one atomic rename); appends and compaction
  // are mutually single-writer — the same maintenance-window contract
  // as stream/Ingest.compactPoints.

  private val DeltaRe = "delta_(\\d+)".r

  /** Finish an interrupted swap of the artifact root (a rebuild), then
    * of its base table `sub` (a compaction). Every entry point below
    * runs this first: a writer that skipped it would land a base or
    * delta next to a committed `.tmp` and orphan the state inside. */
  private def repairArtifact(s: SparkSession, path: String, sub: String): Unit = {
    repairSwap(s, path)
    repairSwap(s, s"$path/$sub")
  }

  private[graft] def foldedThru(s: SparkSession, path: String, sub: String): Int =
    readMarker(s, s"$path/$sub/_folded").fold(-1)(_.trim.toInt)

  /** Committed, un-folded delta dirs under `path`, ascending; the
    * artifact and any delta caught in the swap crash window are
    * repaired first. */
  private[graft] def deltaDirs(s: SparkSession, path: String,
                               sub: String): Seq[String] = {
    repairArtifact(s, path, sub)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val folded = foldedThru(s, path, sub)
    fs.listStatus(p).toIndexedSeq.map(_.getPath.getName).collect {
      case n @ DeltaRe(_) => n
      case t @ _ if t.endsWith(".tmp") && DeltaRe.matches(t.stripSuffix(".tmp")) =>
        t.stripSuffix(".tmp")
    }.distinct
      .filter { case DeltaRe(id) => id.toInt > folded }
      // numeric, not lexical: "delta_10000" sorts before "delta_9999"
      // as a string, which would break the documented ascending order
      .sortBy { case DeltaRe(id) => id.toInt }
      .map { n =>
        repairSwap(s, s"$path/$n")
        s"$path/$n"
      }.filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
  }

  /** Base table ∪ committed deltas — one read per root (a multi-root
    * read trips Spark's common-basePath partition discovery), unioned
    * by name; [[deltaDirs]] repairs the artifact before the base is
    * read. Missing columns null-fill: tombstone deltas carry only (id,
    * tomb) and live rows never carry `tomb`. */
  private[graft] def readWithDeltas(s: SparkSession, path: String,
                                    sub: String): DataFrame = {
    (s"$path/$sub" +: deltaDirs(s, path, sub).map(d => s"$d/$sub"))
      .map(r => s.read.parquet(r))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One table of a swap-managed artifact (`$path/$sub`), read after
    * the artifact is repaired — for the tables that never grow deltas
    * (the IVF quantizer's centroids and codebooks, a folded base). */
  private[graft] def readTable(s: SparkSession, path: String, sub: String): DataFrame = {
    repairArtifact(s, path, sub)
    s.read.parquet(s"$path/$sub")
  }

  /** Bootstrap of a stream-grown artifact: commit `write`'s base table
    * at `$path/$sub` unless one exists (the corpus then accumulates as
    * deltas until a compaction folds it). Repaired first: a base
    * bootstrapped next to a committed root `.tmp` would orphan it. */
  private[graft] def ensureBase(s: SparkSession, path: String, sub: String)
                               (write: String => Unit): Unit = {
    repairArtifact(s, path, sub)
    val base = new org.apache.hadoop.fs.Path(s"$path/$sub")
    if (!base.getFileSystem(s.sparkContext.hadoopConfiguration).exists(base))
      swapBuiltDir(s, s"$path/$sub")(write)
  }

  /** Write a frame with no rows at `dir` as ONE unpartitioned task: a
    * zero-row write can plan no tasks, and a zero-row partitioned write
    * lands a schema-less dir no reader can open. Bootstraps (empty by
    * construction) call this directly, the rest via [[writeTable]]. */
  private[graft] def writeEmpty(df: DataFrame, dir: String): Unit =
    df.repartition(1).write.parquet(dir)

  /** Write `df` at `dir` through `write`, or through [[writeEmpty]]
    * when it holds no rows — checked on `df` itself, before any
    * repartition in `write`, so the check costs no shuffle. */
  private[graft] def writeTable(df: DataFrame, dir: String)
                               (write: DataFrame => DataFrameWriter[Row]): Unit =
    if (df.isEmpty) writeEmpty(df, dir)
    else write(df).parquet(dir)

  /** Apply tombstone deltas to a [[readWithDeltas]] union: a row with
    * `tomb = true` shadows EVERY row of its id (ids are never reused —
    * the LSM/Lucene deferred-delete contract), and the marker rows
    * themselves vanish. Tombstone sets are usually takedown-sized, so
    * the anti-join broadcasts — but GATED on a bounded count (a bulk
    * GDPR-scale delete between compactions must degrade to a shuffle
    * anti-join, not hit the broadcast limit and fail every probe until
    * compaction). A frame with no `tomb` column (never-deleted index,
    * or freshly compacted base) passes through untouched. */
  private[graft] def dropTombstoned(df: DataFrame, idCol: String,
                                    maxBroadcastRows: Long = 4000000L): DataFrame =
    if (!df.columns.contains("tomb")) df
    else {
      val tombs = df.where(col("tomb")).select(idCol)
      df.where(col("tomb").isNull)
        .join(graft.core.Exec.gatedBroadcast(tombs, tombs, maxBroadcastRows),
          Seq(idCol), "left_anti")
        .drop("tomb")
    }

  /** The numeric id of a delta dir, parsed from its BASENAME — parsing
    * the full path would misread an artifact that happens to live
    * under a `delta_N`-named parent directory. */
  private def deltaId(dir: String): Int = {
    val name = new org.apache.hadoop.fs.Path(dir).getName
    DeltaRe.findFirstMatchIn(name).get.group(1).toInt
  }

  // Streaming-sink replay idempotence — the Delta Lake txnAppId /
  // txnVersion pattern, NOT id-reuse: every delta auto-allocates the
  // next id (so stream batches, takedown tombstones, and manual
  // appends NEVER collide on a delta dir), and each stream records the
  // highest batch it committed in `_txn` files ("streamId=batchId"
  // lines) that travel with the commits — inside each delta dir, and
  // merged into the base table's `_txn` by compaction so the record
  // survives folding. A replayed micro-batch compares its id against
  // the committed watermark and lands nothing.

  private def parseTxn(s: SparkSession, dir: String): Map[String, Long] =
    readMarker(s, s"$dir/_txn").fold(Map.empty[String, Long]) { txt =>
      txt.linesIterator.filter(_.contains("=")).map { l =>
        val i = l.lastIndexOf('=')
        l.substring(0, i) -> l.substring(i + 1).trim.toLong
      }.toMap
    }

  private def writeTxn(s: SparkSession, dir: String, txn: Map[String, Long]): Unit =
    if (txn.nonEmpty)
      writeMarker(s, s"$dir/_txn",
        txn.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n"))

  /** Land one batch as the next delta (id clears BOTH visible deltas
    * and the folded watermark — a reused folded id would be invisible
    * to readers). `write` stages the batch under `$tmp/$sub`; build the
    * payload inside it, so a skipped batch runs no Spark job. With
    * `txn = Some((streamId, batchId))` it lands exactly once: skipped
    * (returns false) when the base's merged `_txn` or a visible
    * delta's shows `batchId` committed — visible or long since folded;
    * else the record lands at the delta ROOT, seen by readers of any
    * sub. Auto-allocated ids mean concurrent-regime writers
    * (takedowns, manual appends) can never be overwritten by a
    * replayed stream batch. */
  private[graft] def appendDelta(s: SparkSession, path: String, sub: String,
                                 txn: Option[(String, Long)] = None)
                                (write: String => Unit): Boolean = {
    val deltas = deltaDirs(s, path, sub)
    val skip = txn.exists { case (streamId, batchId) =>
      (s"$path/$sub" +: deltas).flatMap(d => parseTxn(s, d).get(streamId))
        .foldLeft(-1L)(math.max) >= batchId
    }
    if (skip) return false
    val next = (deltas.map(deltaId(_) + 1) :+ (foldedThru(s, path, sub) + 1) :+ 0).max
    swapBuiltDir(s, f"$path/delta_$next%04d") { tmp =>
      write(s"$tmp/$sub")
      txn.foreach { case (streamId, batchId) => writeTxn(s, tmp, Map(streamId -> batchId)) }
    }
    true
  }

  /** Fold committed deltas into the base table: `rewrite` stages the
    * merged live rows at the given tmp path — tombstones on `idCol`
    * applied, so compaction is where deferred deletes become physical;
    * the watermark AND the merged per-stream txn records travel inside
    * the swapped base dir, so both survive the fold and spent delta
    * dirs are deleted best-effort. */
  private[graft] def compactDeltas(s: SparkSession, path: String, sub: String,
                                   idCol: String)
                                  (rewrite: (DataFrame, String) => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val deltas = deltaDirs(s, path, sub)
    if (deltas.isEmpty) return
    val maxId = deltas.map(deltaId).max
    val txn = (s"$path/$sub" +: deltas)
      .map(d => parseTxn(s, d))
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, math.max(v, a.getOrElse(k, -1L))) }
      }
    val live = dropTombstoned(readWithDeltas(s, path, sub), idCol)
    swapBuiltDir(s, s"$path/$sub") { tmp =>
      rewrite(live, tmp)
      writeMarker(s, s"$tmp/_folded", maxId.toString)
      writeTxn(s, tmp, txn)
    }
    deltas.foreach { d =>
      val dp = new org.apache.hadoop.fs.Path(d)
      if (fs.exists(dp)) { fs.delete(dp, true); () }
    }
  }

  def list(s: SparkSession, registryPath: String): DataFrame = {
    repairSwap(s, registryPath)
    s.read.parquet(registryPath).orderBy("ksid")
  }

  def drop(s: SparkSession, registryPath: String, ksid: String): Unit = {
    repairSwap(s, registryPath)
    // no driver-side collect needed: swapBuiltDir fully writes to a
    // .tmp path BEFORE deleting the destination, so the lazy read is
    // materialized while its source still exists (same pattern as
    // create())
    val kept = s.read.parquet(registryPath).where(col("ksid") =!= ksid)
    swapBuiltDir(s, registryPath)(tmp => kept.write.parquet(tmp))
  }

  /** Apply a tenant's retention to its slice of a points table
    * (partition-pruned scan by ksid + TTL predicate). */
  def scanTenant(points: DataFrame, registry: DataFrame, ksid: String,
                 nowMs: Long): DataFrame = {
    val ttl = registry.where(col("ksid") === ksid)
      .select("ttl_ms").collect().headOption
      .map(_.getLong(0)).getOrElse(Long.MaxValue)
    points.where(col("ksid") === ksid)
      .where(col("ts_ms") >= lit(nowMs - ttl))
  }
}
