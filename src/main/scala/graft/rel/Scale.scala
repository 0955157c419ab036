package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale helpers the 100 TB deployment leans on (SURVEY §4.2 layout +
  * the brief's shuffle-minimization checklist): bucketed co-located
  * joins and deterministic skew salting.
  */
object Scale {

  /** Write both sides bucketed on the join key so subsequent joins are
    * shuffle-free (Exchange-less SortMergeJoin). Bucketing survives in
    * the table catalog — at 100 TB this turns every recurring fact⋈fact
    * join on the key into a local merge. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    path: Option[String] = None): Unit = {
    // repartition on (buckets, key) BEFORE the bucketed write (r18,
    // §G-6 small files): bucketBy splits each write task's rows by
    // bucket id, so an unclustered input lands tasks × buckets files
    // (the sf0.1 edge table: 640 files for 17 MB — every consumer scan
    // paid the opens). HashPartitioning(key, buckets) is the same
    // murmur3-pmod assignment bucketBy uses, so clustered input lands
    // exactly one file per bucket. No sortBy: Spark 4 reports no sort
    // order for a bucketed scan (the legacy flag that did is off), and
    // every consumer hashes — a per-file sort would be paid on each
    // write and read by nothing. Results unchanged — layout only.
    val w = df.repartition(buckets, col(key))
      .write.mode("overwrite").bucketBy(buckets, key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Deterministic salted join for skewed keys: the skewed (large) side
    * gets a salt derived by hashing a set of distinguishing columns —
    * NO randomness, so retries/speculative tasks agree — and the small
    * side is replicated across all `salts`. The join key becomes
    * (key, salt), spreading a hot key over `salts` reducers. AQE's
    * skew-join handles moderate skew automatically; this is the explicit
    * tool for pathological keys. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 salts: Int, saltSource: Seq[String]): DataFrame = {
    // pmod(x, 0) is NULL and NULL joins nothing: salts=0 (e.g. from a
    // dynamic hotKeys/threshold computation rounding down) would return
    // an EMPTY result with no error — fail loudly instead
    require(salts >= 1, s"salts must be >= 1 (got $salts)")
    val salted = large.withColumn("_salt",
      pmod(xxhash64(saltSource.map(col): _*), lit(salts.toLong)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
