package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer (`name`); `label` names the call within
  * the layer (e.g. which graph operator). Times are System.nanoTime. */
final case class Span(id: Int, name: String, label: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L, var newBlocks: Int = 0)

/** A Spark job as the listener saw it; `span` is the span id carried
  * by the submitting thread's local property (-1 when absent), `group`
  * the job group (a stream's runId for micro-batch jobs). */
final case class JobRec(jobId: Int, startMs: Long, var endMs: Long,
                        span: Int, group: String)

/** Task counters summed per stage. */
final class StageAcc {
  var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var schedDelayMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
}

/** One StreamingQueryProgress, reduced to what the layers report. */
final case class ProgressRec(runId: String, inputRows: Long, durations: Map[String, Long])

/** Pure interval arithmetic behind self time and driver gap. */
object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]; overlapping
    * intervals count once. */
  def unionWithin(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(lo: Double, hi: Double, children: Seq[(Double, Double)]): Double =
    (hi - lo) - unionWithin(children, lo, hi)
}

/** In-memory span recorder plus the Spark and streaming listeners that
  * attribute jobs, tasks and micro-batch progress to spans.
  *
  * Attribution: every span sets the SparkContext local property
  * [[Tracer.Prop]] while it runs, so jobs submitted from the client
  * thread carry the span id. Micro-batch jobs run on the stream's own
  * thread with the query's runId as job group; the runId maps to the
  * span that was open when the query started (its start event time).
  * Any job still unattributed goes to the innermost span whose
  * interval contains its start. Nothing is aggregated until [[report]],
  * after the listener bus has drained. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  @volatile var recording = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var opCount = 0
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val queryStarts = new ConcurrentHashMap[String, Long]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Time spent in the tracer's own code: span bookkeeping on the client
    * thread plus listener callbacks on the bus thread. */
  private val costNs = new java.util.concurrent.atomic.AtomicLong()
  private def costed(body: => Unit): Unit = {
    val t = System.nanoTime(); body; costNs.addAndGet(System.nanoTime() - t)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) costed {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, span, group))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = costed {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = costed {
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) costed {
        val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
        val m = e.taskMetrics
        acc.synchronized {
          acc.tasks += 1
          acc.cpuNs += m.executorCpuTime
          acc.runMs += m.executorRunTime
          acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          acc.spillBytes += m.diskBytesSpilled
          acc.inputBytes += m.inputMetrics.bytesRead
          Option(stageSubmit.get(e.stageId)).foreach { t =>
            acc.schedDelayMs += math.max(0L, e.taskInfo.launchTime - t)
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (recording) costed {
        queryStarts.put(e.runId.toString, java.time.Instant.parse(e.timestamp).toEpochMilli)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) costed {
        val p = e.progress
        progress.add(ProgressRec(p.runId.toString, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Time `body` as a span named `name` (a no-op while not recording). */
  def span[T](name: String, label: String = "")(body: => T): T =
    if (!recording) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, label, parent.fold(-1)(_.id),
        parent.fold(opCount)(_.op), System.nanoTime())
      spans += s
      stack.push(s)
      val before = sc.getPersistentRDDs.keySet
      sc.setLocalProperty(Prop, s.id.toString)
      costNs.addAndGet(System.nanoTime() - s.startNs)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.newBlocks = (sc.getPersistentRDDs.keySet -- before).size
        stack.pop()
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
        costNs.addAndGet(System.nanoTime() - s.endNs)
      }
    }

  /** One closed-loop operation: the root span its layers nest under. */
  def op[T](body: => T): T =
    if (!recording) body
    else { opCount += 1; span(OpSpan)(body) }

  /** Add to a named per-layer counter (e.g. `storage.files`). */
  def count(name: String, v: Double): Unit =
    if (recording) counters(name) = counters.getOrElse(name, 0.0) + v

  def ops: Int = opCount

  /** Wait for every queued listener event, then attribute. */
  def report(): Report = {
    org.apache.spark.GraftBenchBus.drain(sc)
    recording = false
    new Report(spans.filter(_.endNs >= 0).toIndexedSeq, jobs.asScala.values.toSeq,
      stageJob.asScala.toMap, stages.asScala.toMap, queryStarts.asScala.toMap,
      progress.asScala.toSeq, counters.toMap, opCount, costNs.get / 1e6, epochOffsetMs)
  }
}

object Tracer {
  val Prop = "graftbench.span"
  val OpSpan = "op"
}

/** Attributed trace: spans with their jobs, stages and stream progress.
  * A job belongs to the span its local property names; failing that,
  * to the span its job group (a stream runId) started in; failing
  * that, to the innermost span open when it started (-1: none). */
final class Report(val spans: Seq[Span], jobList: Seq[JobRec], stageJob: Map[Int, Int],
                   stages: Map[Int, StageAcc], queryStarts: Map[String, Long],
                   progress: Seq[ProgressRec], val counters: Map[String, Double],
                   val ops: Int, val costMs: Double, epochOffsetMs: Double) {
  def lo(s: Span): Double = s.startNs / 1e6 + epochOffsetMs
  def hi(s: Span): Double = s.endNs / 1e6 + epochOffsetMs
  def wallMs(s: Span): Double = hi(s) - lo(s)

  private val byId = spans.map(s => s.id -> s).toMap
  val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  val jobs: Map[Int, JobRec] = jobList.map(j => j.jobId -> j).toMap

  private def innermostAt(t: Double): Int =
    spans.filter(s => lo(s) <= t && t <= hi(s)).maxByOption(_.startNs).fold(-1)(_.id)

  val runSpan: Map[String, Int] = queryStarts.map { case (r, t) => r -> innermostAt(t.toDouble) }
  val jobsOfSpan: Map[Int, Seq[Int]] = jobList.map { j =>
    val span =
      if (byId.contains(j.span)) j.span
      else Option(j.group).flatMap(runSpan.get).filter(_ >= 0)
        .getOrElse(innermostAt(j.startMs.toDouble))
    span -> j.jobId
  }.groupMap(_._1)(_._2)
  private val stagesOfJob = stageJob.toSeq.groupMap(_._2)(_._1)

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def selfMs(s: Span): Double =
    Intervals.selfTime(lo(s), hi(s), children.getOrElse(s.id, Nil).map(c => (lo(c), hi(c))))

  def jobsUnder(s: Span): Seq[JobRec] =
    subtree(s).flatMap(x => jobsOfSpan.getOrElse(x.id, Nil)).flatMap(jobs.get)

  def stagesUnder(s: Span): Seq[StageAcc] =
    jobsUnder(s).flatMap(j => stagesOfJob.getOrElse(j.jobId, Nil)).flatMap(stages.get)

  def progressUnder(s: Span): Seq[ProgressRec] = {
    val ids = subtree(s).map(_.id).toSet
    progress.filter(p => runSpan.get(p.runId).exists(ids))
  }

  /** Wall time of `s` during which none of its jobs ran. */
  def driverGapMs(s: Span): Double =
    wallMs(s) - Intervals.unionWithin(
      jobsUnder(s).map(j => (j.startMs.toDouble,
        (if (j.endMs < 0) hi(s) else j.endMs.toDouble))), lo(s), hi(s))

  /** Every span and job as JSON lines: the raw trace behind the table. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper
    val spanLines = spans.map { s =>
      m.writeValueAsString(java.util.Map.of(
        "span", Int.box(s.id), "name", s.name, "label", s.label, "parent", Int.box(s.parent),
        "op", Int.box(s.op), "start_ms", Double.box(lo(s)), "end_ms", Double.box(hi(s)),
        "self_ms", Double.box(selfMs(s)), "new_blocks", Int.box(s.newBlocks),
        "jobs", jobsOfSpan.getOrElse(s.id, Nil).sorted.map(Int.box).asJava))
    }
    val jobLines = jobs.values.toSeq.sortBy(_.jobId).map { j =>
      val st = stagesOfJob.getOrElse(j.jobId, Nil).flatMap(stages.get)
      m.writeValueAsString(java.util.Map.of(
        "job", Int.box(j.jobId), "start_ms", Long.box(j.startMs), "end_ms", Long.box(j.endMs),
        "tasks", Long.box(st.map(_.tasks).sum), "cpu_ms", Double.box(st.map(_.cpuNs).sum / 1e6),
        "shuffle_bytes", Long.box(st.map(_.shuffleBytes).sum)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (spanLines ++ jobLines).asJava)
  }

  /** Σ self time of the spans below each op (the op span itself left
    * out) ÷ Σ op wall time: the share of the operations' wall time the
    * layer spans account for. Time outside every child span (input
    * reads, clean-up, gaps between calls) is the op span's own self
    * time and lowers it. */
  def coverage: Double = {
    val roots = spans.filter(_.name == Tracer.OpSpan)
    val wall = roots.map(wallMs).sum
    if (wall == 0) 0.0 else roots.flatMap(subtree(_).tail).map(selfMs).sum / wall
  }
}
