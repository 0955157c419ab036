package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one client thread, closed loop.
  *
  * {{{
  * graftbench.Main --workload tsdb_ingest|corpus_batch
  *   --seed N --seconds S --trace 0|1 --work DIR [--expected FILE] [--trace-out FILE]
  * }}}
  * Prints a human-readable report, then as its LAST stdout line one
  * JSON object: {"correct", "attempted", "failed", "metrics"}. With
  * `--trace 0` the metrics are the end-to-end ones; `--trace 1` runs
  * the same loop with every operation traced (set-up stays untraced)
  * and reports the per-layer ones. */
object Main {
  val DefaultSeed = 1L
  /** Set-up generations per run; setup_s reports their median. */
  val GenReps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt.getOrElse("workload", sys.error("--workload is required"))
    val seed = opt.get("seed").map(_.toLong).getOrElse(DefaultSeed)
    val seconds = opt.get("seconds").map(_.toDouble).getOrElse(20.0)
    val trace = opt.get("trace").contains("1")
    val work = Paths.get(opt.getOrElse("work", "graftbench_work")).toAbsolutePath
    val expected = opt.get("expected").map(p => Expected.load(Paths.get(p))).getOrElse(Map.empty)
    val wl: Workload = name match {
      case "tsdb_ingest" => new TsdbIngest
      case "corpus_batch" => new CorpusBatch
      case other => sys.error(s"unknown workload: $other")
    }
    wl match {
      case cb: CorpusBatch => expected.get("corpus_batch.recall_floor").foreach(v => cb.recallFloor = v.toDouble)
      case _ =>
    }
    Gen.deleteTree(work)
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val tracer = new Tracer(spark)
      val ctx = Ctx(spark, seed, work, tracer)
      val genS = (0 until GenReps).map(rep => timeS(wl.generate(ctx, rep)))
      val warmS = timeS(wl.warmUp(ctx))
      val setupS = sessionS + Stats.median(genS) + warmS

      var next = 0
      val lat = mutable.ArrayBuffer.empty[Double]
      val failures = mutable.ArrayBuffer.empty[String]
      tracer.recording = trace
      while (lat.sum / 1e3 < seconds || next < wl.minOps) {
        val i = next; next += 1
        val t0 = System.nanoTime()
        val out = try Right(tracer.op(wl.op(ctx, i))) catch {
          case NonFatal(e) => e.printStackTrace(); Left(e)
        }
        lat += (System.nanoTime() - t0) / 1e6
        val why = out match {
          case Left(e) => Some(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(o) => try wl.check(ctx, i, o) catch {
            case NonFatal(e) => Some(s"op $i check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
        why.foreach(failures += _)
      }
      val report = if (trace) Some(tracer.report()) else None
      val opP50 = Stats.median(lat.toSeq)

      val digest = wl.digest
      val want = if (seed == DefaultSeed) expected.get(s"$name.digest") else None
      val correct = failures.isEmpty && want.forall(_ == digest)

      val p = System.out
      val opName = if (name == "corpus_batch") "pass" else "cycle"
      p.println(s"workload $name seed $seed seconds $seconds trace ${if (trace) 1 else 0} " +
        s"cpus $cpus closed-loop clients 1")
      p.println(f"setup_s ${setupS}%.3f s (session ${sessionS}%.3f s + median generate " +
        f"${Stats.median(genS)}%.3f s of ${genS.map(x => f"$x%.3f").mkString(",")} + warm-up ${warmS}%.3f s)")
      p.println(f"op_p50_ms $opP50%.3f ms (one $opName, n=${lat.size}; each: ${lat.map(x => f"$x%.0f").mkString(" ")})")
      if (name == "corpus_batch") p.println(f"pass_p50_s ${opP50 / 1e3}%.3f s (n=${lat.size})")
      wl.figures.foreach(p.println)
      p.println(f"fail_frac ${failures.size.toDouble / lat.size}%.4f ratio (${failures.size}/${lat.size})")
      failures.foreach(f => p.println(s"FAILED: $f"))
      p.println(s"digest $digest" + want.fold(" (no recorded digest for this seed)")(
        w => if (w == digest) " (matches the recorded digest)" else s" (MISMATCH: recorded $w)"))

      val metrics: Seq[(String, Double, String)] = report match {
        case None => Seq(("setup_s", setupS, "s"), ("op_p50_ms", opP50, "ms"))
        case Some(rep) =>
          val vals = Layers.compute(rep, opP50)
          p.println(f"tracing: ${vals("trace.cost_ms")}%.3f ms of tracer work per op; traced op_p50_ms " +
            f"$opP50%.3f (the overhead is this minus an untraced run's op_p50_ms); self-time " +
            f"coverage ${rep.coverage}%.4f of op wall")
          Layers.table(rep, vals).foreach(p.println)
          opt.get("trace-out").foreach { f =>
            rep.writeJsonl(Paths.get(f)); p.println(s"trace written to $f")
          }
          Layers.names.map(n => (n, vals(n), Layers.unit(n)))
      }
      val js = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      p.println(s"""{"correct": $correct, "attempted": ${lat.size}, "failed": ${failures.size}, """ +
        s""""metrics": {${js.mkString(", ")}}}""")
      p.flush()
    } finally spark.stop()
  }

  private def timeS(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Recorded reference values (digests of the default seed, the ANN
  * recall floor): a flat JSON object of string or number values. */
object Expected {
  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper
      val root = m.readTree(Files.readString(p))
      import scala.jdk.CollectionConverters._
      root.properties().asScala.filterNot(_.getKey.startsWith("_"))
        .map(e => e.getKey -> e.getValue.asText).toMap
    }
}
