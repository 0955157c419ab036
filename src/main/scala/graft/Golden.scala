package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Golden-checksum tool for the queries WITHOUT a DuckDB oracle
  * (hash-family, LSH internals, sketches — SURVEY §5.2 item 5).
  *
  * `graft.Golden gen` regenerates `src/test/resources/golden.json` at
  * sf0.001; `GoldenSpec` asserts current outputs still match. The
  * checksum is an MD5 over the ordered Row.toString stream — stable for
  * a fixed JVM + fixture, which is exactly the regression contract
  * between rounds.
  */
object Golden {
  val GoldenPath = "src/test/resources/golden.json"

  /** The no-oracle queries whose output is fully deterministic — the
    * two engine-native (xxhash64) throughput variants, the `nan` fill
    * policy (NaN encodings are not hash-comparable cross-engine,
    * SURVEY §2.J), and the RATE wire emission (per-second rates cross
    * |v| < 1e-3 where Java/DuckDB float texts diverge — the documented
    * Response.toJsonColumn precondition); everything else, sketches
    * included, is DuckDB-oracle-checked. */
  val Tracked: Seq[String] = Seq(
    "fn_hash_native", "llm_dedup_minhash_native", "tsdb_downsample_fill_nan",
    "tsdb_query_wire_rate")

  def checksum(df: DataFrame): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    df.collect().foreach { r => md.update(r.toString.getBytes("UTF-8")); n += 1 }
    (n, md.digest().map(b => f"$b%02x").mkString)
  }

  def compute(spark: SparkSession, sfDir: String): Map[String, (Long, String)] =
    Tracked.map(q => q -> checksum(SparkEntry.queries(q)(spark, sfDir))).toMap

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local(4)
    val entries = compute(spark, "/root/testdata/sf0.001").toSeq.sortBy(_._1)
      .map { case (q, (n, c)) => s"""  "$q": {"rows": $n, "md5": "$c"}""" }
    Files.writeString(Paths.get(GoldenPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"wrote $GoldenPath")
    spark.stop()
  }
}
