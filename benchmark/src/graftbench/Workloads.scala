package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Exec
import graft.tsdb.{Pipeline, RequestJson, Response, TsdbQuery}

/** What the timing loop hands a workload. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, tr: Tracer)

/** A closed-loop workload: `generate` makes its inputs, `warmUp` runs
  * untimed operations, `op` is one timed operation, `check` verifies an
  * operation's output untimed, and `figures` reports the workload's own
  * end-to-end figures. */
trait Workload {
  type Out
  /** Seeded input generation; run several times, reported as a median. */
  def generate(c: Ctx, rep: Int): Unit
  /** Warm-up after the last generation; run once. */
  def warmUp(c: Ctx): Unit
  def op(c: Ctx, i: Int): Out
  /** None when the output passes, else why it failed. */
  def check(c: Ctx, i: Int, out: Out): Option[String]
  /** Digest of the results every run recomputes identically. */
  def digest: String
  /** Fewest operations a run times, whatever its time budget. */
  def minOps: Int
  /** Report lines of the workload's own end-to-end figures. */
  def figures: Seq[String]
}

// ---------------------------------------------------------------------
// tsdb_ingest
// ---------------------------------------------------------------------

/** One landed cycle: its input dir, store, landed catalog, and each
  * request body with its response rows. */
final case class Cycle(dir: Path, store: Path, events: Int, catalog: DataFrame,
                       responses: Seq[(String, Seq[String])])

final class TsdbIngest extends Workload {
  type Out = Cycle
  val EventsPerCycle = 10000
  /** Users of cycle `i` (-1: the warm-up): 100 new ids in whole decades,
    * so a wildcard or regexp filter on all but the last digit always
    * matches 10 users of the cycle. */
  val UsersPerCycle = 100
  private def userLo(i: Int): Long = (i + 2).toLong * UsersPerCycle
  /** Each panel once, then a refresh of the live panel. */
  val Burst = Gen.IngestPanels.size + 1
  /** Caps under which the 15m/30d panel coarsens (any filter resolving
    * 4+ series breaches 10k grid points) and nothing is refused (a
    * cycle holds 100 users, one bucket each fits). */
  val Caps = Pipeline.Caps(maxDataPoints = 10000L, maxTimeseries = 10000L)
  private val digests = mutable.ArrayBuffer.empty[String]
  private val ingestS = mutable.ArrayBuffer.empty[Double]
  private val landed = mutable.ArrayBuffer.empty[Long]
  private val storedBytes = mutable.ArrayBuffer.empty[Long]
  private val requestMs = mutable.ArrayBuffer.empty[Double]
  private val requestPanel = mutable.ArrayBuffer.empty[String]
  /** Untimed cycles first: cycle times keep falling while the JIT
    * catches up. */
  val WarmUpCycles = 1
  /** Cycles whose first request is re-run over the generated file
    * (about a second each, so only the first). */
  val ReadAfterWriteCycles = 1

  def generate(c: Ctx, rep: Int): Unit = {
    val d = c.work.resolve(s"ingest/gen$rep")
    Gen.writeSingleParquet(c.spark, Gen.eventRows(c.seed, EventsPerCycle, userLo(-1), userLo(-1) + UsersPerCycle - 1, 1L),
      Gen.eventsSchema, d.resolve("events.parquet"))
  }

  def warmUp(c: Ctx): Unit = {
    (0 until WarmUpCycles).foreach(k => cycle(c, -1, c.work.resolve(s"ingest/gen$k")))
    Seq(ingestS, landed, storedBytes, requestMs, requestPanel).foreach(_.clear())
  }

  def op(c: Ctx, i: Int): Cycle = {
    val dir = c.work.resolve(s"ingest/c$i")
    val lo = userLo(i)
    c.tr.span("bench.gen") {
      Gen.writeSingleParquet(c.spark,
        Gen.eventRows(c.seed * 1000003L + i, EventsPerCycle, lo, lo + UsersPerCycle - 1,
          1L + (i + 1).toLong * 10000000L),
        Gen.eventsSchema, dir.resolve("events.parquet"))
    }
    cycle(c, i, dir)
  }

  /** Land `dir/events.parquet` into a fresh store and serve a burst of
    * requests over it. */
  private def cycle(c: Ctx, i: Int, dir: Path): Cycle = {
    val store = dir.resolve("store")
    val t0 = System.nanoTime()
    val catalogDf = c.tr.span("stream.ingest") {
      graft.stream.Ingest.ingestWithCatalog(c.spark, dir.toString, store.toString)
    }
    ingestS += (System.nanoTime() - t0) / 1e9
    val (pointsB, catalogB, files) = c.tr.span("storage")(Storage.walk(store))
    c.tr.count("storage.points_bytes", pointsB.toDouble)
    c.tr.count("storage.catalog_bytes", catalogB.toDouble)
    c.tr.count("storage.files", files.toDouble)
    storedBytes += pointsB + catalogB
    landed += EventsPerCycle
    val pts = c.spark.read.parquet(store.resolve("points").toString)
    val catalog = graft.tsdb.Catalog.readCatalog(c.spark, store.resolve("catalog").toString).get
    val lo = userLo(i)
    val reqs = new Gen.Requests(c.seed * 7919L + i, lo, lo + UsersPerCycle - 1, Gen.IngestPanels, Gen.LivePanel)
    val responses = (0 until Burst).map { _ =>
      val body = reqs.next()
      val t = System.nanoTime()
      val rows = c.tr.span("bench.request")(serve(c, pts, catalog, body))
      requestMs += (System.nanoTime() - t) / 1e6
      requestPanel += reqs.lastPanel
      body -> rows
    }
    Cycle(dir, store, EventsPerCycle, catalogDf, responses)
  }

  private def serve(c: Ctx, pts: DataFrame, catalog: DataFrame, body: String): Seq[String] = {
    val q = c.tr.span("tsdb.parse")(RequestJson.parse(body, Gen.NowMs))
    c.tr.span("tsdb.catalog") {
      q.queries.foreach { sub =>
        val n = Pipeline.resolveSeriesCountFromCatalog(catalog, q.copy(queries = Seq(sub)))
        if (n > Caps.maxTimeseries)
          throw new Pipeline.CapExceededException(s"${sub.metric}: $n series")
      }
    }
    val frames = c.tr.span("tsdb.plan")(
      respond(q, Pipeline.runAllCapped(c.spark, pts, q, Caps)))
    c.tr.span("tsdb.exec")(collect(frames))
  }

  def check(c: Ctx, i: Int, out: Cycle): Option[String] = {
    val s = c.spark
    val gen = graft.core.Tables.events(s, out.dir.toString)
    val pts = s.read.parquet(out.store.resolve("points").toString)
    val landedN = pts.count()
    val genSeries = gen.select("event_type", "user_id").distinct().count()
    val series = out.catalog.count()
    val (body, rows) = out.responses.head
    def readAfterWrite: Boolean = {
      val q = RequestJson.parse(body, Gen.NowMs)
      Stats.digest(rows) == Stats.digest(collect(respond(q,
        Pipeline.runAllCapped(s, Pipeline.eventsAsPoints(s, out.dir.toString), q, Caps))))
    }
    if (i == 0) digests ++= out.responses.map(r => Stats.digest(r._2)) :+ s"$landedN/$series"
    if (landedN != out.events) Some(s"cycle $i: landed $landedN of ${out.events} points")
    else if (series != genSeries) Some(s"cycle $i: catalog $series series, file $genSeries")
    else if (i < ReadAfterWriteCycles && !readAfterWrite)
      Some(s"cycle $i: read-after-write mismatch for $body")
    else if (!out.responses.forall(r => wellFormed(r._2))) Some(s"cycle $i: malformed response")
    else None
  }

  /** The response frames of one request: one JSON-row frame per
    * subquery; rate subqueries report their rate as the value. */
  private def respond(q: TsdbQuery, frames: Seq[DataFrame]): Seq[DataFrame] =
    frames.zip(q.queries).map { case (df, sub) =>
      val groupTags = sub.filters.filter(_.groupBy).map(_.tagk).distinct
      val aggTags = Seq("user").diff(groupTags)
      val merged =
        if (!sub.rate) df
        else df.where(col("rate").isNotNull).drop("value").withColumnRenamed("rate", "value")
      Response.toJsonRows(merged, sub.metric, groupTags, aggTags)
    }

  private def collect(frames: Seq[DataFrame]): Seq[String] =
    frames.zipWithIndex.flatMap { case (f, i) => f.collect().map(r => s"$i|${r.getString(0)}") }

  /** request_p50_ms, and request_p90_ms where >= 10 samples lie beyond it. */
  private def latencyLines(ms: Seq[Double]): Seq[String] =
    if (ms.isEmpty) Nil
    else f"request_p50_ms ${Stats.median(ms)}%.3f ms (n=${ms.size})" +:
      Stats.supportedPercentile(ms, 0.9).fold(
        s"request_p90_ms not reported: n=${ms.size} leaves fewer than 10 samples beyond p90")(
        v => f"request_p90_ms $v%.3f ms (n=${ms.size})") +: Nil

  /** Every row is a JSON object naming a metric with a dps map. */
  private def wellFormed(rows: Seq[String]): Boolean = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper
    rows.forall { r =>
      val n = m.readTree(r.dropWhile(_ != '|').drop(1))
      n.isObject && n.has("metric") && n.get("dps").isObject
    }
  }

  def digest: String = Stats.combine(digests.toSeq.map("cycle0" -> _))
  /** Three cycles: the first timed cycle still runs slow after the
    * warm-up, and the median sets it aside. */
  def minOps: Int = 3

  def figures: Seq[String] =
    latencyLines(requestMs.toSeq) ++ Seq(
      "requests (panel, or r+panel for a refresh: ms): " +
        requestPanel.zip(requestMs).map { case (k, ms) => f"$k:$ms%.0f" }.mkString(" "),
      f"ingest_s each: ${ingestS.map(x => f"$x%.2f").mkString(" ")}",
      f"ingest_points_per_s ${landed.sum / ingestS.sum}%.1f points/s",
      f"stored_bytes_per_point ${storedBytes.sum.toDouble / landed.sum}%.3f B/point")
}

/** Size walk of a landed store. */
object Storage {
  /** (bytes under points/, bytes under catalog/, data files). */
  def walk(store: Path): (Long, Long, Long) = {
    def under(sub: String): Seq[Path] = {
      val root = store.resolve(sub)
      if (!Files.exists(root)) Nil
      else {
        val s = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith(".") &&
            !p.getFileName.toString.startsWith("_")).toList
        } finally s.close()
      }
    }
    val p = under("points"); val c = under("catalog")
    (p.map(Files.size).sum, c.map(Files.size).sum, (p ++ c).size.toLong)
  }
}

// ---------------------------------------------------------------------
// corpus_batch
// ---------------------------------------------------------------------

/** One corpus pass: each step's result frame, in step order. */
final case class Pass(results: Seq[(String, DataFrame)])

final class CorpusBatch extends Workload {
  type Out = Pass
  val Size = Gen.CorpusSize(docs = 1500, vectors = 1500, orders = 1500, parts = 600, r = 8)
  val GrowthFiles = 3
  val GrowthPerFile = 200
  val ProbeDocs = 100
  val QueryVecs = 8
  val TopK = 10
  val Nprobe = 2
  val GraphOps = Seq("graph_bfs_hops", "graph_adamic_adar", "graph_pagerank",
    "graph_label_propagation")
  private var replica: Path = _
  private var baseVecs: IndexedSeq[org.apache.spark.sql.Row] = _
  private var growth: Path = _
  private var queries: DataFrame = _
  private var terms: Seq[String] = Nil
  private lazy val registry = graft.SparkEntry.queries
  private var digestParts = Seq.empty[(String, String)]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  /** Lowest acceptable recall@k, set from expected.json. */
  var recallFloor: Double = 0.0

  def generate(c: Ctx, rep: Int): Unit = {
    replica = c.work.resolve(s"corpus/rep$rep")
    baseVecs = Gen.writeReplica(c.spark, c.seed, Size, replica)
    growth = replica.resolve("growth")
    Gen.writeGrowth(c.spark, c.seed + 17L, GrowthFiles, GrowthPerFile, ProbeDocs, growth)
    queries = Gen.queryVectors(c.spark, c.seed + 29L, baseVecs, QueryVecs)
    terms = Gen.bm25Terms(c.seed + 31L, Size.r)
  }

  /** None: a nightly job runs in a fresh JVM, so the timed pass is the
    * cold one, as a scheduled run would see it. */
  def warmUp(c: Ctx): Unit = ()

  def op(c: Ctx, i: Int): Pass = pass(c, i)

  /** One call into a layer: `build` returns the frame (eager actions
    * included), then `Exec.forceRows` executes it. */
  private def call(c: Ctx, layer: String, label: String)(build: => DataFrame): DataFrame =
    c.tr.span(layer, label) {
      val df = c.tr.span(s"$layer:build", label)(build)
      c.tr.span(s"$layer:exec", label)(Exec.forceRows(df))
      df
    }

  private def pass(c: Ctx, i: Int): Pass = {
    val s = c.spark
    val dir = replica.toString
    val docs = graft.core.Tables.documents(s, dir)
    val emb = graft.core.Tables.embeddings(s, dir)
    val out = mutable.ArrayBuffer.empty[(String, DataFrame)]
    val pairs = call(c, "llm.dedup", "nearDupPairs")(graft.llm.Dedup.nearDupPairs(docs, "doc_id", "text"))
    out += "near_dup_pairs" -> pairs
    out += "cluster_labels" -> call(c, "llm.dedup", "clusterLabels")(graft.llm.Dedup.clusterLabels(pairs))
    val ivf = c.work.resolve(s"corpus/ivf$i")
    c.tr.span("llm.ann", "buildIvfIndex")(c.tr.span("llm.ann:build", "buildIvfIndex")(
      graft.llm.Similarity.buildIvfIndex(s, emb, ivf.toString, s"bench|$i")))
    out += "ivf_topk" -> call(c, "llm.ann", "ivfTopKStored")(
      graft.llm.Similarity.ivfTopKStored(s, queries, ivf.toString, TopK, Nprobe))
    out += "bm25" -> call(c, "llm.retrieval", "bm25TopK")(
      graft.llm.Retrieval.bm25TopK(docs, "doc_id", "text", terms, TopK))
    val grow = c.work.resolve(s"corpus/grow$i")
    Gen.deleteTree(grow)
    c.tr.span("stream.grow", "maintainBandIndex") {
      graft.stream.Ingest.maintainBandIndex(s,
        s.readStream.schema(Gen.docSchema).option("maxFilesPerTrigger", 1)
          .parquet(growth.resolve("crawl").toString),
        grow.resolve("idx").toString, grow.resolve("cp").toString)
    }
    val today = s.read.parquet(growth.resolve("today").toString)
    val crawl = s.read.parquet(growth.resolve("crawl").toString)
    out += "incremental_pairs" -> call(c, "llm.dedup", "incrementalNearDups")(graft.llm.Dedup.incrementalNearDups(
      s, today, crawl.unionByName(today), grow.resolve("idx").toString))
    GraphOps.foreach { g => out += g -> call(c, "rel.graph", g)(registry(g)(s, dir)) }
    Pass(out.toSeq)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq

  def check(c: Ctx, i: Int, out: Pass): Option[String] = {
    val s = c.spark
    val res = out.results.toMap
    // ANN recall against exact cosine top-k, per query
    val ivfSets = res("ivf_topk").collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val emb = graft.core.Tables.embeddings(s, replica.toString)
    val qids = queries.collect().map(_.getLong(0)).toSeq
    val exactSets = qids.map { qid =>
      graft.llm.Similarity.cosineTopK(emb, queries.where(col("query_id") === qid), TopK)
        .select(lit(qid).as("query_id"), col("vec_id"))
    }.reduce(_ unionByName _).collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = qids.map { qid =>
      ivfSets.getOrElse(qid, Set.empty[Long]).intersect(exactSets(qid)).size.toDouble / TopK
    }.sum / qids.size
    recalls += recall
    c.tr.count("llm.ann.recall_at_k", recall)
    // exact Jaccard of every emitted pair, recomputed here from the texts
    val text = graft.core.Tables.documents(s, replica.toString).select("doc_id", "text")
      .unionByName(s.read.parquet(growth.resolve("crawl").toString).select("doc_id", "text"))
      .unionByName(s.read.parquet(growth.resolve("today").toString).select("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (text(a), text(b)); (x & y).size.toDouble / (x | y).size
    }
    val pairs = res("near_dup_pairs").collect().map(r => (r.getLong(0), r.getLong(1)))
    val inc = res("incremental_pairs").collect().map(r => (r.getLong(0), r.getLong(1)))
    c.tr.count("llm.dedup.pairs_out", (pairs.length + inc.length).toDouble)
    val badPair = pairs.find { case (a, b) => jac(a, b) < 0.7 - 1e-9 }
      .orElse(inc.find { case (a, b) => jac(a, b) < 0.5 - 1e-9 })
    if (i == 0) digestParts = out.results.map { case (k, df) => k -> Stats.digest(rows(df)) }
    if (badPair.isDefined) Some(s"pass $i: pair ${badPair.get} under its Jaccard threshold")
    else if (recall + 1e-9 < recallFloor) Some(f"pass $i: recall@$TopK $recall%.3f under floor $recallFloor%.3f")
    else if (pairs.isEmpty || inc.isEmpty) Some(s"pass $i: no near-duplicate pairs found")
    else None
  }

  def digest: String = Stats.combine(digestParts)
  def minOps: Int = 1
  def figures: Seq[String] = recalls.minOption.map(r => f"recall_at_k $r%.4f ratio").toSeq
}
