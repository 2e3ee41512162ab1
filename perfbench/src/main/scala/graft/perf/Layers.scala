package graft.perf

/** One timed window: its spans, its operations' results, its wall
  * and the peak heap while it ran.
  */
final case class Window[A](tr: Tracer, ops: Seq[A], wallS: Double,
    heapMb: Double)

/** The timed windows and the per-layer numbers of a traced one, shared
  * by the workloads.
  */
object Layers {

  /** Operations numbered from `first`, each given the window's tracer,
    * until `seconds` have passed and at least `minOps` have run, or
    * until `maxOps` have.
    */
  def window[A](ctx: Ctx, first: Int, minOps: Int, maxOps: Int)
      (op: (Tracer, Int) => A): Window[A] = {
    val tr = new Tracer
    val ops = scala.collection.mutable.ArrayBuffer.empty[A]
    Util.resetHeapPeak()
    val t0 = System.nanoTime()
    while (ops.size < maxOps &&
        (ops.size < minOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds))
      ops += op(tr, first + ops.size)
    Window(tr, ops.toSeq, (System.nanoTime() - t0) / 1e9, Util.heapPeakMb)
  }

  /** The untraced window, then in a traced run a second one with
    * Spark's listeners attached, whose events are drained before it
    * returns. At most `maxOps` operations run over both; the first
    * leaves `minOps` of them to the second.
    */
  def windows[A](ctx: Ctx, minOps: Int, maxOps: Int = Int.MaxValue)
      (op: (Tracer, Int) => A): (Window[A], Option[(Window[A], SparkTrace)]) = {
    val plain = window(ctx, 0, minOps,
      if (ctx.trace) maxOps - minOps else maxOps)(op)
    val traced = if (!ctx.trace) None else Some {
      val st = new SparkTrace(ctx.spark)
      st.attach()
      try {
        val w = window(ctx, plain.ops.size, minOps, maxOps - plain.ops.size)(op)
        st.drain()
        (w, st)
      } finally st.detach()
    }
    (plain, traced)
  }

  /** Zero-valued metrics for the declared layers a workload does not
    * run.
    */
  def notRun(workload: String, layers: Seq[(String, String)]): Seq[Metric] =
    layers.map { case (name, unit) =>
      Metric(name, 0.0, unit, 0, s"$workload does not run this layer")
    }

  /** Put every SQL execution into the span tree, named `sql:<label>`:
    * a root under the benchmark span open when it started, a nested one
    * under its root. Module self times then fall out of the tree.
    */
  def adoptSql(tr: Tracer, st: SparkTrace, label: SqlExec => String): Unit =
    st.sqlExecutions.sortBy(e => (e.startMs, e.id)).foreach { e =>
      tr.adopt(s"sql:${label(e)}", tr.fromEpochMs(e.startMs),
        tr.fromEpochMs(e.endMs))
    }

  /** Summed self time of the adopted executions labelled `label`. */
  def selfOf(tr: Tracer, label: String): Double =
    tr.named(s"sql:$label").map(tr.selfSeconds).sum

  /** Jobs run directly by the SQL executions accepted by `keep`. */
  def jobsOf(st: SparkTrace, keep: SqlExec => Boolean): Set[Int] = {
    val byExec = st.jobsOfExec
    st.sqlExecutions.filter(keep)
      .flatMap(e => byExec.getOrElse(e.id, Nil)).toSet
  }

  /** The `spark.*` metrics, per timed operation. */
  def sparkPerOp(st: SparkTrace, ops: Int, wallS: Double,
      overheadRatio: Double): Seq[Metric] = {
    val w = st.work()
    val n = math.max(ops, 1).toDouble
    val note = s"per op over $ops ops"
    def m(name: String, v: Double, unit: String) =
      Metric(name, v, unit, ops, note)
    Seq(
      m("spark.jobs", w.jobs / n, "count"),
      m("spark.stages", w.stages / n, "count"),
      m("spark.tasks", w.tasks / n, "count"),
      m("spark.sql_executions",
        st.sqlExecutions.count(e => e.id == e.root) / n, "count"),
      m("spark.planning_s", st.planningSeconds / n, "s"),
      m("spark.exec_run_s", w.runMs / 1000.0 / n, "s"),
      m("spark.exec_cpu_s", w.cpuNs / 1e9 / n, "s"),
      Metric("spark.driver_share",
        1.0 - (w.runMs / 1000.0) / (wallS * graft.Perf.Cores), "ratio", ops,
        "1 - executor run time / (wall x cores)"),
      m("spark.shuffle_read_mb", w.shuffleRead / 1e6 / n, "MB"),
      m("spark.shuffle_write_mb", w.shuffleWrite / 1e6 / n, "MB"),
      m("spark.spill_mb", w.spill / 1e6 / n, "MB"),
      m("spark.gc_s", w.gcMs / 1000.0 / n, "s"),
      Metric("trace.overhead_ratio", overheadRatio, "ratio", ops,
        "traced / untraced median operation time - 1; the traced window " +
          "runs second, on a warmer JIT"))
  }

  /** `registry.serve.<family>.{p50_s, jobs_per_call}` from the spans
    * named `read:<row>` of each family's rows.
    */
  def registryFamilies(tr: Tracer, st: SparkTrace,
      families: Seq[(String, Seq[String])]): Seq[Metric] =
    families.flatMap { case (family, rows) =>
      val spans = tr.spans.filter(s => rows.exists(r => s.name == s"read:$r"))
      val jobs = st.work(jobsOf(st, e => spans.exists(s =>
        tr.fromEpochMs(e.startMs) >= s.startNs &&
          tr.fromEpochMs(e.startMs) < s.endNs))).jobs
      Seq(Metric(s"registry.serve.$family.p50_s",
          Stats.median(spans.map(_.seconds)), "s", spans.size),
        Metric(s"registry.serve.$family.jobs_per_call",
          jobs.toDouble / spans.size, "count", spans.size))
    }

  /** Median and tail of a sample as two metrics (`<base>_p50_s`,
    * `<base>_tail_s`); the tail states its percentile, or is n/a below
    * 20 samples.
    */
  def latency(base: String, xs: Seq[Double]): Seq[Metric] = {
    val p50 = Metric(s"${base}_p50_s",
      if (xs.isEmpty) Double.NaN else Stats.median(xs), "s", xs.size)
    val tail = Stats.tail(xs) match {
      case Some((p, v)) => Metric(s"${base}_tail_s", v, "s", xs.size, s"p$p")
      case None => Metric(s"${base}_tail_s", Double.NaN, "s", xs.size,
        "needs >= 20 samples to leave 10 beyond a percentile >= p50")
    }
    Seq(p50, tail)
  }
}
