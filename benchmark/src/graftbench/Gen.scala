package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The program under test only ever sees what
  * these write; the same seed always writes the same bytes' worth of
  * rows (row order and values are a pure function of the seed). */
object Gen {
  val Metrics: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val MetricWeights = Seq(0.30, 0.05, 0.10, 0.05, 0.50)
  val NowMs: Long = graft.core.Tables.NowMs   // 2024-01-31T00:00:00Z
  /** Events land for the week before NOW, as a live feed's would: every
    * user then has points inside the 1d-ago panel's range for the common
    * metrics, so whether a panel reads any data depends little on the seed. */
  val EventWindowMs: Long = 7L * 86400000L

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def pickMetric(r: Random): String = {
    var x = r.nextDouble()
    var i = 0
    while (i < MetricWeights.size - 1 && x >= MetricWeights(i)) { x -= MetricWeights(i); i += 1 }
    Metrics(i)
  }

  /** Events of the fixture schema: `n` rows, users in [userLo, userHi],
    * timestamps uniform over the [[EventWindowMs]] before NOW, ids from
    * `idBase`. */
  def eventRows(seed: Long, n: Int, userLo: Long, userHi: Long, idBase: Long): Seq[Row] = {
    val r = new Random(seed)
    val from = NowMs - EventWindowMs
    (0 until n).map { i =>
      val tsMicros = (from + (r.nextDouble() * EventWindowMs).toLong) * 1000L + r.nextInt(1000)
      val ts = LocalDateTime.ofEpochSecond(Math.floorDiv(tsMicros, 1000000L),
        (Math.floorMod(tsMicros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
      val user = userLo + r.nextInt((userHi - userLo + 1).toInt)
      val value = math.round(math.abs(r.nextGaussian() * 40.0 + 50.0) * 100.0) / 100.0
      Row(idBase + i, ts, user, pickMetric(r), value, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Write rows as ONE parquet file at `file` (the stream sink reads a
    * single `events.parquet` file, not a directory). */
  def writeSingleParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                         file: Path): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmpdir")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.startsWith("part-"))
      .findFirst().orElseThrow()
    Files.createDirectories(file.getParent)
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  // ------------------------------------------------------------------
  // OpenTSDB request mix
  // ------------------------------------------------------------------

  val Aggs = IndexedSeq("avg", "sum", "max", "count")

  /** The shape of one dashboard panel's request: what the engine's cost
    * depends on, with one downsample aggregator per subquery. The seed
    * fills in metrics, merge aggregators and the filtered users. */
  final case class Template(range: String, interval: String, dsAggs: Seq[String], fill: String,
                            rate: Boolean, filter: String, groupBy: Boolean)

  /** tsdb_ingest's read burst: the 15m/30d panel the caps coarsen, a
    * three-subquery panel (the shared-scan path) and the live rate panel.
    * Between them they cover every range, downsample aggregator, fill and
    * filter type, with and without groupBy. */
  val IngestPanels: IndexedSeq[Template] = IndexedSeq(
    Template("30d-ago", "15m", Seq("avg"), "zero", rate = false, "wildcard", groupBy = true),
    Template("7d-ago", "1d", Seq("sum", "count", "max"), "none", rate = false, "regexp",
      groupBy = true),
    Template("1d-ago", "30m", Seq("max"), "null", rate = true, "literal_or", groupBy = false))

  /** The panel a dashboard refreshes: the live 1d-ago rate panel. */
  val LivePanel = 2

  /** A seeded stream of `POST /api/query` bodies over users in
    * [userLo, userHi], in rounds: every panel once in a seeded order,
    * then a refresh that re-issues the round's request of panel
    * `refresh`, the way a dashboard's live panel refreshes. Every seed
    * issues the same shapes, so the seed moves what a request reads
    * (order, metrics, merge aggregators, users), not how much work it
    * asks for. */
  final class Requests(seed: Long, userLo: Long, userHi: Long, panels: IndexedSeq[Template],
                       refresh: Int) {
    private val r = new Random(seed)
    private val round = scala.collection.mutable.Map.empty[Int, String]
    private var order = IndexedSeq.empty[Int]
    private var i = 0
    /** Panel index of the last request, marked "r" when it was a refresh. */
    var lastPanel = ""

    def next(): String = {
      val k = i % (panels.size + 1)
      val body =
        if (k == panels.size) { lastPanel = s"r$refresh"; round(refresh) }
        else {
          if (k == 0) order = r.shuffle(panels.indices.toIndexedSeq)
          val p = order(k)
          lastPanel = s"p$p"
          val b = fresh(panels(p)); round(p) = b; b
        }
      i += 1
      body
    }

    private def user(): Long = userLo + r.nextInt((userHi - userLo + 1).toInt)

    private def filter(t: Template): String = {
      // each filter type matches a fixed number of users (3 listed, or
      // the 10 sharing all but the last digit), so seeds move which
      // series a panel reads, not how many
      val f = t.filter match {
        case "literal_or" => Seq.fill(3)(user()).mkString("|")
        case "wildcard" => user().toString.dropRight(1) + "*"
        case _ => "^" + user().toString.dropRight(1) + "[0-9]$"
      }
      s"""{"type": "${t.filter}", "tagk": "user", "filter": "$f", "groupBy": ${t.groupBy}}"""
    }

    private def fresh(t: Template): String = {
      val subs = t.dsAggs.map { agg =>
        val ds = s"${t.interval}-$agg" + (if (t.fill == "none") "" else s"-${t.fill}")
        val rate = if (t.rate) """, "rate": true""" else ""
        s"""{"metric": "${Metrics(r.nextInt(Metrics.size))}", "aggregator": "${Aggs(r.nextInt(Aggs.size))}", """ +
          s""""downsample": "$ds"$rate, "filters": [${filter(t)}]}"""
      }
      s"""{"start": "${t.range}", "queries": [${subs.mkString(", ")}]}"""
    }
  }

  // ------------------------------------------------------------------
  // Corpus replica (documents, embeddings, lineitem) and its probes
  // ------------------------------------------------------------------

  final case class CorpusSize(docs: Int, vectors: Int, orders: Int, parts: Int, r: Int)

  private val VocabSize = 3000
  def word(i: Int): String = {
    val cs = "bcdfghjklmnprstvz"; val vs = "aeiou"
    val sb = new StringBuilder
    var x = i
    do { sb += cs(x % cs.length); x /= cs.length; sb += vs(x % vs.length); x /= vs.length }
    while (x > 0)
    sb.toString
  }

  /** Zipf-ish word pick: low ranks are common, the tail is long. */
  private def zipfWord(r: Random): String =
    word(math.min(VocabSize - 1, (math.pow(r.nextDouble(), 2.2) * VocabSize).toInt))

  /** Base documents: every fifth doc is a light edit of an earlier one
    * (a near duplicate), the rest are fresh text. */
  def docRows(r: Random, n: Int, idBase: Long): IndexedSeq[Row] = {
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val ws =
        if (i % 5 == 4 && texts.nonEmpty) {
          val src = texts(r.nextInt(texts.size)).clone()
          (0 until math.max(1, src.length / 25)).foreach(_ => src(r.nextInt(src.length)) = zipfWord(r))
          src
        } else Array.fill(24 + r.nextInt(40))(zipfWord(r))
      texts += ws
      val text = ws.mkString(" ")
      Row(idBase + i, text, Seq("de", "en", "es", "fr", "zh")(r.nextInt(5)),
        s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** 64-dim vectors around ten seeded centers; label = center. */
  def vecRows(r: Random, n: Int): IndexedSeq[Row] = {
    val centers = Array.fill(10, 64)(r.nextGaussian().toFloat)
    (0 until n).map { i =>
      val c = r.nextInt(10)
      Row(i.toLong, centers(c).map(x => (x + 0.45 * r.nextGaussian()).toFloat).toSeq, c)
    }
  }

  val liSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType)))

  /** Orders of 1–7 lines over `parts` parts with skewed popularity. */
  def lineRows(r: Random, orders: Int, parts: Int): IndexedSeq[Row] =
    (1 to orders).flatMap { o =>
      (1 to (1 + r.nextInt(7))).map { ln =>
        val p = 1L + math.min(parts - 1, (math.pow(r.nextDouble(), 1.6) * parts).toInt)
        Row(o.toLong, p, ln, (1 + r.nextInt(50)).toDouble)
      }
    }

  /** The ×R replica, built in this JVM with the id-shift recipe:
    * replica i shifts every id by a per-table stride and prefixes every
    * document word with `x<i>`, so each replica keeps the base's
    * near-duplicate and graph structure while sharing no shingles or
    * edges with another replica. Vectors repeat unchanged under shifted
    * ids. Returns the base vectors (for query generation). */
  def writeReplica(spark: SparkSession, seed: Long, sz: CorpusSize, dir: Path): IndexedSeq[Row] = {
    val r = new Random(seed)
    val docs = docRows(r, sz.docs, 1L)
    val vecs = vecRows(r, sz.vectors)
    val lines = lineRows(r, sz.orders, sz.parts)
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val reps = 0 until sz.r
    write(reps.flatMap { i => docs.map { d =>
      val text = d.getString(1).split(" ").map(w => s"x$i$w").mkString(" ")
      Row(d.getLong(0) + i * 10000000L, text, d.getString(2), d.getString(3), text.length.toLong)
    } }, docSchema, "documents")
    write(reps.flatMap(i => vecs.map(v => Row(v.getLong(0) + i * 10000000L, v.get(1), v.get(2)))),
      embSchema, "embeddings")
    write(reps.flatMap(i => lines.map(l => Row(l.getLong(0) + i * 100000000L,
      l.getLong(1) + i * 10000000L, l.get(2), l.get(3)))), liSchema, "lineitem")
    vecs
  }

  /** Seeded ANN query vectors: perturbed copies of random base vectors. */
  def queryVectors(spark: SparkSession, seed: Long, base: IndexedSeq[Row], n: Int): DataFrame = {
    val r = new Random(seed)
    val rows = (0 until n).map { i =>
      val v = base(r.nextInt(base.size)).getSeq[Float](1)
      Row(i.toLong, v.map(x => (x + 0.2 * r.nextGaussian()).toFloat))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("query_id", LongType),
      StructField("qv", ArrayType(FloatType, containsNull = false)))))
  }

  /** Seeded BM25 query terms, drawn from the replica's vocabulary. */
  def bm25Terms(seed: Long, replicas: Int): Seq[String] = {
    val r = new Random(seed)
    Seq.fill(3)(s"x${r.nextInt(replicas)}" + word(30 + r.nextInt(400))).distinct
  }

  /** New-doc growth files (one parquet file each) plus a probe batch:
    * the crawl the band index grows from, and today's docs, half of
    * them light edits of crawled docs. Ids start past every replica. */
  def writeGrowth(spark: SparkSession, seed: Long, files: Int, perFile: Int,
                  probe: Int, dir: Path): Unit = {
    val r = new Random(seed)
    val crawl = docRows(r, files * perFile, 900000000L)
    crawl.grouped(perFile).zipWithIndex.foreach { case (rows, f) =>
      writeSingleParquet(spark, rows, docSchema, dir.resolve(s"crawl/part-$f.parquet"))
    }
    val today = (0 until probe).map { i =>
      val base = crawl(r.nextInt(crawl.size))
      val ws = base.getString(1).split(" ")
      if (i % 2 == 0) (0 until math.max(1, ws.length / 20)).foreach(_ => ws(r.nextInt(ws.length)) = zipfWord(r))
      else ws.indices.foreach(j => ws(j) = zipfWord(r))
      val text = ws.mkString(" ")
      Row(950000000L + i, text, "en", "src0", text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(today: _*), docSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("today").toString)
  }

}
