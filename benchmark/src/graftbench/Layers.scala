package graftbench

/** The per-layer metric catalogue (layers are named after the program's
  * modules) and its computation from an attributed trace. Every value
  * is per operation, a total over the traced operations divided by
  * their count (so `recall_at_k` is the mean recall), except the
  * ratios `eff_par` and `trace.coverage` and the median
  * `trace.op_p50_ms`. */
object Layers {
  val Common: Seq[String] = Seq("wall_ms", "driver_gap_ms", "jobs", "tasks",
    "task_cpu_ms", "sched_delay_ms", "shuffle_bytes", "spill_bytes")
  private val BuildExec = Seq("build_ms", "build_jobs", "eff_par")

  val layers: Seq[(String, Seq[String])] = Seq(
    "tsdb.parse" -> Seq("wall_ms"),
    "tsdb.plan" -> (Common :+ "new_blocks"),
    "tsdb.exec" -> (Common :+ "input_bytes"),
    "tsdb.catalog" -> Common,
    "stream.ingest" -> (Common ++ Seq("batches", "input_rows", "add_batch_ms",
      "query_planning_ms", "wal_commit_ms", "latest_offset_ms")),
    "storage" -> Seq("points_bytes", "catalog_bytes", "files"),
    "stream.grow" -> (Common ++ Seq("batches", "add_batch_ms", "query_planning_ms")),
    "llm.dedup" -> (Common ++ BuildExec :+ "pairs_out"),
    "llm.ann" -> (Common ++ BuildExec :+ "recall_at_k"),
    "llm.retrieval" -> (Common ++ BuildExec),
    "rel.graph" -> (Common ++ BuildExec))

  /** Whole-trace metrics: the traced run's op_p50_ms (an untraced run's
    * subtracted from it is the tracing overhead), the tracer's own work
    * per op, and the share of op wall time the layer spans' self times
    * cover. */
  val traceMetrics: Seq[String] = Seq("trace.op_p50_ms", "trace.cost_ms", "trace.coverage")

  val names: Seq[String] =
    layers.flatMap { case (l, ms) => ms.map(m => s"$l.$m") } ++ traceMetrics

  def unit(name: String): String = name.split('.').last match {
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_bytes") => "B"
    case "eff_par" => "x"
    case "recall_at_k" | "coverage" => "ratio"
    case "input_rows" => "rows"
    case _ => "count"
  }

  private val streamKeys = Map("add_batch_ms" -> "addBatch",
    "query_planning_ms" -> "queryPlanning", "wal_commit_ms" -> "walCommit",
    "latest_offset_ms" -> "latestOffset")

  /** name -> per-op value for every layer metric (0 where the workload
    * never enters the layer). */
  def compute(rep: Report, opP50Ms: Double): Map[String, Double] = {
    val ops = math.max(1, rep.ops).toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    layers.foreach { case (layer, metrics) =>
      val spans = rep.spans.filter(_.name == layer)
      val stages = spans.flatMap(rep.stagesUnder)
      val prog = spans.flatMap(rep.progressUnder)
      def phase(p: String) = spans.flatMap(s => rep.children.getOrElse(s.id, Nil))
        .filter(_.name == s"$layer:$p")
      metrics.foreach { m =>
        val total: Double = m match {
          case "wall_ms" => spans.map(rep.wallMs).sum
          case "driver_gap_ms" => spans.map(rep.driverGapMs).sum
          case "jobs" => spans.map(rep.jobsUnder(_).size).sum
          case "tasks" => stages.map(_.tasks).sum
          case "task_cpu_ms" => stages.map(_.cpuNs).sum / 1e6
          case "sched_delay_ms" => stages.map(_.schedDelayMs).sum
          case "shuffle_bytes" => stages.map(_.shuffleBytes).sum
          case "spill_bytes" => stages.map(_.spillBytes).sum
          case "input_bytes" => stages.map(_.inputBytes).sum
          case "new_blocks" => spans.map(_.newBlocks).sum
          case "batches" => prog.count(_.inputRows > 0)
          case "input_rows" => prog.map(_.inputRows).sum
          case k if streamKeys.contains(k) => prog.map(_.durations.getOrElse(streamKeys(k), 0L)).sum
          case "build_ms" => phase("build").map(rep.wallMs).sum
          case "build_jobs" => phase("build").map(rep.jobsUnder(_).size).sum
          case "eff_par" =>
            val ex = phase("exec")
            val wall = ex.map(rep.wallMs).sum
            val task = ex.flatMap(rep.stagesUnder).map(_.runMs).sum
            if (wall > 0) task / wall else 0.0
          case other => rep.counters.getOrElse(s"$layer.$other", 0.0)
        }
        out(s"$layer.$m") = if (m == "eff_par") total else total / ops
      }
    }
    out("trace.op_p50_ms") = opP50Ms
    out("trace.cost_ms") = rep.costMs / ops
    out("trace.coverage") = rep.coverage
    out.toMap
  }

  /** The per-layer table: one row per layer the trace entered and one
    * per labelled call within it, with self time (span wall minus the
    * child spans it contains). */
  def table(rep: Report, values: Map[String, Double]): Seq[String] = {
    val ops = math.max(1, rep.ops).toDouble
    def key(s: Span) = if (s.label.isEmpty) s.name else s"${s.name}[${s.label}]"
    val keys = (rep.spans.map(_.name) ++ rep.spans.filter(_.label.nonEmpty).map(key)).distinct.sorted
    val head = f"${"layer"}%-42s ${"calls/op"}%8s ${"wall_ms"}%10s ${"self_ms"}%10s ${"gap_ms"}%10s " +
      f"${"jobs"}%7s ${"tasks"}%8s ${"cpu_ms"}%10s ${"sched_ms"}%9s ${"shuffle_B"}%11s ${"spill_B"}%9s"
    val rows = keys.map { name =>
      val spans = rep.spans.filter(s => s.name == name || key(s) == name)
      val st = spans.flatMap(rep.stagesUnder)
      f"$name%-42s ${spans.size / ops}%8.2f ${spans.map(rep.wallMs).sum / ops}%10.1f " +
        f"${spans.map(rep.selfMs).sum / ops}%10.1f ${spans.map(rep.driverGapMs).sum / ops}%10.1f " +
        f"${spans.map(rep.jobsUnder(_).size).sum / ops}%7.1f ${st.map(_.tasks).sum / ops}%8.1f " +
        f"${st.map(_.cpuNs).sum / 1e6 / ops}%10.1f ${st.map(_.schedDelayMs).sum / ops}%9.1f " +
        f"${st.map(_.shuffleBytes).sum / ops}%11.0f ${st.map(_.spillBytes).sum / ops}%9.0f"
    }
    val extras = values.toSeq.filter { case (k, _) =>
      !Common.exists(c => k.endsWith("." + c)) }.sortBy(_._1)
      .map { case (k, v) => f"  $k%-34s $v%14.3f ${unit(k)}" }
    (head +: rows) ++ ("layer extras (per op):" +: extras)
  }
}
