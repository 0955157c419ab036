package graft.tsdb

import graft.core.D
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized rollups — the pre-aggregation layer every TSDB leans on
  * at scale: a 100 TB raw-points store answers a month-long 1h-avg query
  * from a GB-scale 1m rollup instead of rescanning raw data.
  *
  * A rollup table stores PARTIAL aggregation state per (series, fine
  * bucket): decimal sum + count + min + max — enough to re-aggregate
  * exactly to any coarser interval for the re-aggregable aggregators
  * (sum/count/min/max/avg; avg = decimal-sum ÷ count, NOT avg-of-avgs).
  * Maintained in batch here; the streaming path is the same frame through
  * `foreachBatch` append (idempotent per bucket partition).
  */
object Rollups {

  /** Build the partial-state rollup at `intervalMs` per series. The
    * output is partitioned by UTC day so both rollup maintenance and
    * time-range queries prune partitions. */
  def build(points: DataFrame, seriesCols: Seq[String], intervalMs: Long): DataFrame = {
    val bucket = Downsample.bucketMs(col("ts_ms"), intervalMs).as("bucket_ms")
    points
      .groupBy((seriesCols.map(col) :+ bucket): _*)
      .agg(
        sum(D.dec(col("value"))).as("psum"),   // exact decimal partial sum
        count(col("value")).as("pcount"),
        min(col("value")).as("pmin"),
        max(col("value")).as("pmax"))
  }

  def write(rollup: DataFrame, path: String): Unit =
    rollup
      .withColumn("day", (col("bucket_ms") - pmod(col("bucket_ms"), lit(86400000L))))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Can `agg` at `wantMs` be answered from a rollup at `haveMs`? */
  def compatible(haveMs: Long, wantMs: Long, agg: String): Boolean =
    wantMs % haveMs == 0 &&
      Set("sum", "count", "min", "max", "avg").contains(agg)

  /** Re-aggregate partial state to the requested interval — exact:
    * decimal sums add, counts add, min/max fold; avg derives from the
    * re-aggregated decimal sum and count (matches [[D.avgDec]]). */
  def reaggregate(rollup: DataFrame, seriesCols: Seq[String],
                  wantMs: Long, agg: String): DataFrame = {
    val bucket = Downsample.bucketMs(col("bucket_ms"), wantMs).as("bucket_ms")
    val g = rollup.groupBy((seriesCols.map(col) :+ bucket): _*)
    val value = agg match {
      case "sum"   => sum(col("psum")).cast("double")
      case "count" => sum(col("pcount")).cast("long")
      case "min"   => min(col("pmin"))
      case "max"   => max(col("pmax"))
      case "avg"   => D.r4s(sum(col("psum")).cast("double") / sum(col("pcount")))
      case other   => throw new IllegalArgumentException(s"not re-aggregable: $other")
    }
    g.agg(value.as("value"))
  }

  /** Fold every accumulated micro-batch delta directory into ONE
    * compacted delta. Partial states merge exactly — decimal sums and
    * counts add, min/max fold — so the grouped rollup view is unchanged
    * by construction: compaction is a read-cost optimization (the
    * streaming maintainer otherwise accretes one directory per
    * micro-batch forever), never a correctness event.
    *
    * The whole deltas directory is replaced via [[Keysets.swapBuiltDir]]
    * (the committed `.tmp` lands BEFORE the destination is deleted), so
    * a crash at any point preserves a complete state and
    * [[Keysets.repairSwap]] finishes an interrupted rename. Single-writer maintenance window by contract:
    * the streaming appender repairs-then-appends, so it must not run
    * concurrently with compaction (same rule as every swap-managed
    * state table here). */
  def compactDeltas(s: SparkSession, deltasPath: String, keys: Seq[String]): Unit = {
    Keysets.repairSwap(s, deltasPath)
    val destP = new org.apache.hadoop.fs.Path(deltasPath)
    if (!destP.getFileSystem(s.sparkContext.hadoopConfiguration).exists(destP)) return
    val merged = s.read.parquet(deltasPath)
      .groupBy((keys :+ "bucket_ms").map(col): _*)
      .agg(sum(col("psum")).as("psum"), sum(col("pcount")).as("pcount"),
        min(col("pmin")).as("pmin"), max(col("pmax")).as("pmax"))
    // the staged write materializes while its source still exists; the
    // `batch=compacted` leaf keeps the appender's directory layout, so
    // post-compaction batches glob together with the folded state
    Keysets.swapBuiltDir(s, deltasPath)(tmp =>
      merged.write.parquet(s"$tmp/batch=compacted"))
  }

  /** Router: answer a downsample from the rollup when compatible, else
    * from raw points. Callers pass the rollup's interval + location. */
  def downsampleVia(spark: SparkSession, rawPoints: => DataFrame,
                    rollupPath: Option[String], rollupMs: Long,
                    seriesCols: Seq[String], spec: DownsampleSpec): DataFrame =
    rollupPath match {
      case Some(p) if compatible(rollupMs, spec.intervalMs, spec.aggregator) =>
        reaggregate(spark.read.parquet(p).drop("day"),
          seriesCols, spec.intervalMs, spec.aggregator)
      case _ =>
        Downsample(rawPoints, seriesCols, spec.intervalMs, spec.aggregator)
    }
}
