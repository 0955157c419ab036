package graft.core

/** Lightweight phase recorder for lifecycle-priced bench rows
  * (VERDICT r16 #1b: the driver's `stream_text_index_growth` read 52.3 s
  * against a ~7 s honest solo profile, and the attribution argument
  * needed a DRIVER-ENVIRONMENT phase split — a dev-box profiling run
  * cannot speak for the driver's container). Growth queries wrap their
  * internal phases in [[time]]; Bench enables recording, drains after
  * each query, and writes `_phase_<query>|<phase>` control rows into
  * BENCH_FULL.tsv (excluded from the contract total exactly like the
  * `_calib_*` rows). Every driver bench run then carries its own
  * phase-level receipt: if the row inflates, the TSV shows WHICH phase
  * (fixture write / stream micro-batches / probe) absorbed the ambient
  * multiple, in the environment that produced the number.
  *
  * Disabled (the default) this is a no-op closure call — Verify and
  * production callers pay nothing. Recording is append-only onto a
  * concurrent queue: phases never nest in the growth rows, and the
  * single-bench-thread drain happens between queries. */
object Phase {
  @volatile private var enabled = false
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  def enable(): Unit = { enabled = true; buf.clear() }

  def time[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      buf.add((name, (System.nanoTime() - t0) / 1e9))
      r
    }

  /** All phases recorded since the last drain, in record order. */
  def drain(): Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    var e = buf.poll()
    while (e != null) { out += e; e = buf.poll() }
    out.result()
  }
}
