package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Tests of the benchmark's own helpers. Run with
  * `python3 benchmark/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  /** Time the attribution test's op spends outside its child spans. */
  private val OutsideMs = 300.0

  def main(args: Array[String]): Unit = {
    // percentile rule: a tail is reported only with >= 10 samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples is supported (10 lie beyond)") {
      Stats.supportedPercentile(hundred, 0.9).exists(v => close(v, 90.1))
    }
    check("p90 of 92 samples is supported, of 91 it is not (10 vs 9 beyond)") {
      Stats.supportedPercentile(hundred.take(92), 0.9).isDefined &&
        Stats.supportedPercentile(hundred.take(91), 0.9).isEmpty
    }
    check("p90 of 40 samples is not supported") {
      Stats.supportedPercentile(hundred.take(40), 0.9).isEmpty
    }
    check("median interpolates between the middle pair") {
      close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }

    // self time: overlapping children count once, outside parts are clipped
    check("self time subtracts the union of overlapping children") {
      close(Intervals.selfTime(0, 100, Seq((10, 30), (20, 50), (60, 70))), 50.0)
    }
    check("self time clips children reaching outside the parent") {
      close(Intervals.selfTime(0, 100, Seq((-10, 10), (90, 120))), 80.0)
    }
    check("self time of nested identical children is counted once") {
      close(Intervals.selfTime(0, 10, Seq((2, 8), (2, 8), (3, 4))), 4.0)
    }

    // digest: independent of row order, sensitive to content and multiplicity
    check("digest ignores row order") {
      Stats.digest(Seq("a|1", "b|2", "c|3")) == Stats.digest(Seq("c|3", "a|1", "b|2"))
    }
    check("digest sees a changed value") {
      Stats.digest(Seq("a|1", "b|2")) != Stats.digest(Seq("a|1", "b|3"))
    }
    check("digest sees a duplicated row") {
      Stats.digest(Seq("a|1", "a|1")) != Stats.digest(Seq("a|1"))
    }

    attribution()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Job-to-span attribution on a real local session: jobs submitted
    * inside a span land on it, nested spans keep their own jobs, jobs
    * outside every span land nowhere, and a stream's micro-batch jobs
    * land on the span that started the stream. */
  private def attribution(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graftbench_selftest")
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", dir.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tr = new Tracer(spark)
      spark.range(10).count()            // before recording: ignored
      tr.recording = true
      spark.range(5).write.parquet(dir.resolve("src").toString)
      tr.op {
        tr.span("outer") {
          spark.range(100).count()
          tr.span("inner")(spark.range(100).groupBy(col("id") % 3).count().collect())
        }
        Thread.sleep(OutsideMs.toLong)          // inside the op, outside every child span
        tr.span("stream") {
          spark.readStream.schema("id LONG").parquet(dir.resolve("src").toString)
            .writeStream.format("noop").trigger(Trigger.AvailableNow())
            .option("checkpointLocation", dir.resolve("cp").toString)
            .start().awaitTermination()
        }
      }
      spark.range(7).count()             // outside every span
      val rep = tr.report()
      def named(n: String) = rep.spans.find(_.name == n).get
      val outer = named("outer"); val inner = named("inner"); val stream = named("stream")
      check("a job in a span is attributed to it") {
        rep.jobsOfSpan.getOrElse(outer.id, Nil).nonEmpty
      }
      check("a nested span keeps its own jobs; the parent sees them in its subtree") {
        rep.jobsOfSpan.getOrElse(inner.id, Nil).nonEmpty &&
          rep.jobsUnder(outer).size ==
            rep.jobsOfSpan(outer.id).size + rep.jobsOfSpan(inner.id).size
      }
      check("micro-batch jobs are attributed to the span that ran the stream") {
        rep.jobsUnder(stream).nonEmpty && rep.progressUnder(stream).exists(_.inputRows == 5)
      }
      check("the stream runId maps to the span open when the query started") {
        rep.runSpan.nonEmpty && rep.runSpan.values.forall(_ == stream.id)
      }
      check("jobs outside every span are not attributed") {
        rep.jobsOfSpan.getOrElse(-1, Nil).nonEmpty &&
          rep.jobsOfSpan.values.flatten.size == rep.jobs.size
      }
      check("task counters reach the span's stages") {
        rep.stagesUnder(inner).map(_.tasks).sum > 0
      }
      check("time outside every child span is left out of the coverage") {
        val op = named(Tracer.OpSpan)
        val wall = rep.wallMs(op)
        rep.selfMs(op) >= OutsideMs && rep.coverage <= 1.0 - OutsideMs / wall + 1e-9 &&
          rep.coverage > 0.0
      }
    } finally {
      spark.stop()
      Gen.deleteTree(dir)
    }
  }
}
