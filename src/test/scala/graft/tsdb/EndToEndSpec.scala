package graft.tsdb

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end storage fidelity: ingest events into the partitioned
  * layout (EP1'), query the store through the pipeline (EP2'), and get
  * exactly the same result as querying the source directly. Plus
  * response shaping and keyset lifecycle. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("store round-trip: partitioned sink → pipeline ≡ direct pipeline") {
    val out = java.nio.file.Files.createTempDirectory("graft_store_").toString
    graft.stream.Ingest.writePartitioned(spark, sf, out)
    val fromStore = {
      val ev = spark.read.parquet(out)
        .where(col("event_type").isin("click", "view"))
      MergeRate.merge(
        Downsample(ev, Seq("event_type", "user_id"), 3600000L, "avg"),
        Seq("event_type"), "sum")
        .select("event_type", "bucket_ms", "value")
    }
    val direct = Pipeline.flagship(spark, sf)
    val a = fromStore.orderBy("event_type", "bucket_ms")
      .as[(String, Long, Double)].collect().toSeq
    val b = direct.as[(String, Long, Double)].collect().toSeq
    assert(a == b, "partitioned store must be query-equivalent to the source")
    // and the partition filter prunes at scan time
    val plan = spark.read.parquet(out).where(col("event_type") === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition pruning missing:\n$plan")
  }

  test("response shaping: {metric, tags, aggregateTags, dps} per group") {
    val merged = MergeRate.merge(
      Downsample(Tables.events(spark, sf).where(col("event_type") === "click"),
        Seq("event_type", "user_id"), 3600000L, "avg"),
      Seq("event_type"), "sum")
      .withColumnRenamed("event_type", "tag_event_type")
    val resp = Response.shape(merged, "click", Seq("event_type"), Seq("user"))
    val row = resp.collect().head
    assert(row.getAs[String]("metric") == "click")
    assert(row.getAs[Map[String, String]]("tags") == Map("event_type" -> "click"))
    assert(row.getAs[scala.collection.Seq[String]]("aggregateTags").toSeq == Seq("user"))
    val dps = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("dps")
    assert(dps.nonEmpty && dps.map(_.getLong(0)).sliding(2).forall(p => p.head <= p.last),
      "dps must be time-sorted")

    // wire-JSON round-trip: the serialized row must parse back to the
    // same structure (Jackson; the HTTP layer would emit this body)
    val json = Response.toJsonRows(merged, "click", Seq("event_type"), Seq("user"))
      .as[String].collect().head
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("metric").asText == "click")
    assert(node.get("tags").get("event_type").asText == "click")
    assert(node.get("aggregateTags").get(0).asText == "user")
    val dpsNode = node.get("dps")
    assert(dpsNode.isObject && dpsNode.size == dps.size,
      "dps must serialize to the {\"<epoch_ms>\": value} object")
    val firstTs = dps.head.getLong(0).toString
    assert(math.abs(dpsNode.get(firstTs).asDouble - dps.head.getDouble(1)) < 1e-9,
      "dps values must survive the wire round-trip")

    // QUANTIZED-TEXT mode (r16): same request, text-rendered dps — must
    // still be VALID JSON whose numbers parse to the same doubles as
    // the raw emission (values here are 4dp merge outputs, so the
    // fixed-4dp render is exact), with every dps value emitted as a
    // JSON NUMBER (unquoted), never a string or scientific notation
    val jsonT = Response.toJsonRowsText4(merged, "click", Seq("event_type"), Seq("user"))
      .as[String].collect().head
    val nodeT = new com.fasterxml.jackson.databind.ObjectMapper().readTree(jsonT)
    assert(nodeT.get("metric").asText == "click")
    val dpsT = nodeT.get("dps")
    assert(dpsT.isObject && dpsT.size == dps.size)
    dps.foreach { p =>
      val v = dpsT.get(p.getLong(0).toString)
      assert(v != null && v.isNumber, s"text-mode dps must be JSON numbers, got $v")
      assert(math.abs(v.asDouble - p.getDouble(1)) < 1e-9,
        "text-mode dps must parse to the same double as the raw mode")
      assert(!v.asText.toUpperCase.contains("E"),
        s"text mode must never emit scientific notation: ${v.asText}")
    }
  }

  test("keyset lifecycle: create, overwrite, list, drop, tenant scan with TTL") {
    val reg = java.nio.file.Files.createTempDirectory("graft_ks_").toString + "/registry"
    val now = Tables.NowMs
    Keysets.create(spark, reg, "tenant_a", ttlMs = 7L * 86400000, replication = 3, now)
    Keysets.create(spark, reg, "tenant_b", ttlMs = 30L * 86400000, replication = 3, now)
    Keysets.create(spark, reg, "tenant_a", ttlMs = 14L * 86400000, replication = 3, now)
    val listed = Keysets.list(spark, reg).as[(String, Long, Int, Long)].collect()
    assert(listed.map(_._1).toSeq == Seq("tenant_a", "tenant_b"))
    assert(listed.head._2 == 14L * 86400000, "create must upsert")
    intercept[IllegalArgumentException](
      Keysets.create(spark, reg, "bad ksid!", 1L, 1, now))
    // tenant scan applies the tenant's TTL
    val pts = Tables.events(spark, sf)
      .select(lit("tenant_a").as("ksid"), col("ts_ms"), col("value"))
    val scanned = Keysets.scanTenant(pts, Keysets.list(spark, reg), "tenant_a", now)
    val cutoff = now - 14L * 86400000
    assert(scanned.agg(min("ts_ms")).as[Long].head() >= cutoff)
    assert(scanned.count() ==
      pts.where(col("ts_ms") >= cutoff).count())
    Keysets.drop(spark, reg, "tenant_b")
    assert(Keysets.list(spark, reg).count() == 1)
  }

  test("swap crash windows: committed .tmp is recovered, partial .tmp is not state") {
    val base = java.nio.file.Files.createTempDirectory("graft_swp_").toString
    val reg = s"$base/registry"
    val now = Tables.NowMs
    Keysets.create(spark, reg, "tenant_a", 1000L, 1, now)
    Keysets.create(spark, reg, "tenant_b", 2000L, 1, now)
    // simulate a crash between swapBuiltDir's delete and rename: the committed
    // state sits only at .tmp (with its _SUCCESS marker)
    val fs = new org.apache.hadoop.fs.Path(reg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(reg),
      new org.apache.hadoop.fs.Path(reg + ".tmp")))
    assert(Keysets.list(spark, reg).count() == 2, "list must recover committed .tmp")
    assert(fs.exists(new org.apache.hadoop.fs.Path(reg)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(reg + ".tmp")), "rename completed")
    // drop after the same crash shape must see the recovered state
    assert(fs.rename(new org.apache.hadoop.fs.Path(reg),
      new org.apache.hadoop.fs.Path(reg + ".tmp")))
    Keysets.drop(spark, reg, "tenant_b")
    assert(Keysets.list(spark, reg).as[(String, Long, Int, Long)]
      .collect().map(_._1).toSeq == Seq("tenant_a"))
    // create after the crash shape must MERGE, not wipe
    assert(fs.rename(new org.apache.hadoop.fs.Path(reg),
      new org.apache.hadoop.fs.Path(reg + ".tmp")))
    Keysets.create(spark, reg, "tenant_c", 3000L, 1, now)
    assert(Keysets.list(spark, reg).as[(String, Long, Int, Long)]
      .collect().map(_._1).toSeq == Seq("tenant_a", "tenant_c"))
    // a PARTIAL .tmp (crashed first write: no _SUCCESS) is not state:
    // create bootstraps fresh instead of failing on a torn directory
    val reg2 = s"$base/registry2"
    fs.mkdirs(new org.apache.hadoop.fs.Path(reg2 + ".tmp"))
    val torn = fs.create(new org.apache.hadoop.fs.Path(reg2 + ".tmp/part-00000.parquet"))
    torn.write("not parquet".getBytes); torn.close()
    Keysets.create(spark, reg2, "tenant_x", 1000L, 1, now)
    assert(Keysets.list(spark, reg2).count() == 1)
  }

  /** `file:line` of every line matching `pattern` in the `.scala` files
    * under `dir`, except the files whose path ends with an `exempt`. */
  private def sourceLines(dir: String, pattern: scala.util.matching.Regex,
                          exempt: String*): List[String] = {
    val files = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    for {
      f <- files
      if !exempt.exists(e => f.endsWith(java.nio.file.Paths.get(e)))
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"
  }

  test("only Keysets opens, creates or commits files on the Hadoop FS") {
    val offenders = sourceLines("src/main",
      """fs\.(create|open)\(|"_SUCCESS"""".r, "graft/tsdb/Keysets.scala")
    assert(offenders.isEmpty,
      s"go through Keysets.swapBuiltDir / readMarker / writeMarker: $offenders")
  }

  test("no graft-private settings: no graft.* conf key, env or prop read outside the mains") {
    // size dispatch follows Spark's own settings (checkpoint dir,
    // autoBroadcastJoinThreshold) or a named constant
    val keys = sourceLines("src/main", "\"graft\\.".r)
    assert(keys.isEmpty, s"no graft.* conf keys or props: $keys")
    val reads = sourceLines("src/main", """sys\.env|sys\.props\.get""".r,
      "graft/Bench.scala", "graft/Verify.scala")
    assert(reads.isEmpty, s"only the Bench and Verify mains read env or props: $reads")
  }

  test("the llm indexes leave swap repair to Keysets; only Ingest starts streams") {
    val repairs = sourceLines("src/main/scala/graft/llm", """repairSwap\(""".r)
    assert(repairs.isEmpty,
      s"read and write index tables through the Keysets delta lifecycle: $repairs")
    val streams = sourceLines("src/main", """\.writeStream""".r,
      "graft/stream/Ingest.scala")
    assert(streams.isEmpty, s"run streams through graft.stream.Ingest: $streams")
  }
}
