package graft.tsdb

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Rollup exactness: re-aggregating 1m partial state to 1h must equal
  * downsampling the raw points at 1h, for every re-aggregable
  * aggregator — including avg (sum/count, never avg-of-avgs). */
class RollupSpec extends SparkSpec {

  private def ev = Tables.events(spark, sf)
    .select(col("event_type"), col("user_id"), col("ts_ms"), col("value"))

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("event_type", "user_id", "bucket_ms")
      .collect().map(_.toString).toSeq

  test("1m rollup re-aggregates exactly to 1h for sum/count/min/max/avg") {
    val keys = Seq("event_type", "user_id")
    val rollup = Rollups.build(ev, keys, 60000L)
    for (agg <- Seq("sum", "count", "min", "max", "avg")) {
      val fromRollup = Rollups.reaggregate(rollup, keys, 3600000L, agg)
      val direct = Downsample(ev, keys, 3600000L, agg)
      assert(collectSorted(fromRollup) == collectSorted(direct),
        s"rollup mismatch for $agg")
    }
  }

  test("compaction folds delta dirs without changing the rollup view") {
    val keys = Seq("event_type", "user_id")
    val deltas = java.nio.file.Files.createTempDirectory("graft_cd_")
      .toString + "/rollup_deltas"
    // three synthetic micro-batches (disjoint event slices)
    (0 until 3).foreach { i =>
      Rollups.build(ev.where(pmod(col("user_id"), lit(3)) === i), keys, 60000L)
        .write.parquet(s"$deltas/batch=$i")
    }
    def view() = collectSorted(
      spark.read.parquet(deltas)
        .groupBy((keys :+ "bucket_ms").map(col): _*)
        .agg(sum(col("psum")).as("psum"), sum(col("pcount")).as("pcount"),
          min(col("pmin")).as("pmin"), max(col("pmax")).as("pmax")))
    val before = view()
    Rollups.compactDeltas(spark, deltas, keys)
    val dirs = new java.io.File(deltas).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.map(_.getName).toSeq == Seq("batch=compacted"),
      "three delta dirs must fold into one")
    assert(view() == before, "compaction must not change the rollup view")
    // crash between the swap's delete and rename: the committed state
    // sits only at .tmp; the next compaction must recover it first
    val fs = new org.apache.hadoop.fs.Path(deltas)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(deltas),
      new org.apache.hadoop.fs.Path(deltas + ".tmp")))
    Rollups.compactDeltas(spark, deltas, keys)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(deltas + ".tmp")),
      "the committed .tmp must be renamed back, not left behind")
    assert(view() == before, "recovered compaction must not change the rollup view")
    // post-compaction appends glob together with the folded state
    Rollups.build(ev.where(col("user_id") === 1), keys, 60000L)
      .write.parquet(s"$deltas/batch=99")
    assert(spark.read.parquet(deltas).count() > 0)
    val full = Rollups.reaggregate(
      spark.read.parquet(deltas).drop("batch")
        .groupBy((keys :+ "bucket_ms").map(col): _*)
        .agg(sum(col("psum")).as("psum"), sum(col("pcount")).as("pcount"),
          min(col("pmin")).as("pmin"), max(col("pmax")).as("pmax")),
      keys, 3600000L, "count")
    // user 1's points are in the store twice (batch=1's slice and
    // batch=99) — counts reflect the double append, proving the
    // compacted state and the new delta BOTH contribute
    val direct = Downsample(ev, keys, 3600000L, "count")
    val fullMap = full.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    val directMap = direct.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    directMap.foreach { case (k @ (_, u, _), n) =>
      val expected = if (u == 1L) 2 * n else n
      assert(fullMap(k) == expected, s"post-append count wrong at $k")
    }
  }

  test("router: rollup answers compatible queries, raw covers the rest") {
    val keys = Seq("event_type", "user_id")
    val path = java.nio.file.Files.createTempDirectory("graft_ru_").toString + "/r1m"
    Rollups.write(Rollups.build(ev, keys, 60000L), path)
    // compatible: 1h avg via the 1m rollup
    val viaRollup = Rollups.downsampleVia(spark, ev, Some(path), 60000L,
      keys, DownsampleSpec(3600000L, "avg"))
    val direct = Downsample(ev, keys, 3600000L, "avg")
    assert(collectSorted(viaRollup) == collectSorted(direct))
    // day partitioning prunes rollup scans by time range
    val plan = spark.read.parquet(path).where(col("day") === 1704067200000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), s"no pruning:\n$plan")
    // incompatible interval (90s is not a multiple of 60s → 90s IS; use 90001)
    assert(!Rollups.compatible(60000L, 90001L, "sum"))
    // non-reaggregable aggregator falls back to raw
    assert(!Rollups.compatible(60000L, 3600000L, "last"))
    val viaRaw = Rollups.downsampleVia(spark, ev, Some(path), 60000L,
      keys, DownsampleSpec(3600000L, "last"))
    assert(collectSorted(viaRaw) ==
      collectSorted(Downsample(ev, keys, 3600000L, "last")))
  }
}
