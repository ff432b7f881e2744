package perfbench

/** The per-layer metrics of a traced run, named after the engine's
  * modules. Every name is emitted by every workload; a layer a workload
  * does not exercise reads 0. */
object Layers {
  val Modules: Seq[String] = Seq("Relational", "Incremental", "Joins", "Windows",
    "TextOps", "TextDedup", "VectorOps", "Media")

  /** (name, unit, better) */
  val Metrics: Seq[(String, String, String)] = Seq(
    ("sources.fetch_s", "s", "lower"),
    ("sources.attempts_per_url", "ratio", "higher"),
    ("sources.quarantined_pages", "count", "lower"),
    ("etl.watermark_s", "s", "lower"),
    ("etl.run_incremental_s", "s", "lower"),
    ("etl.upsert_s", "s", "lower"),
    ("etl.delete_keys_s", "s", "lower"),
    ("etl.compact_s", "s", "lower"),
    ("etl.read_deduped_s", "s", "lower"),
    ("etl.rows_rewritten_per_applied", "ratio", "lower"),
    ("etl.sink_files", "count", "lower"),
    ("etl.sink_bytes_per_row", "B/row", "lower"),
    ("streaming.batches", "count", "higher"),
    ("streaming.trigger_p50_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower")) ++
    Modules.flatMap(m => Seq((s"ops.$m.build_s", "s", "lower"), (s"ops.$m.exec_s", "s", "lower"))) ++
    Seq(
      ("ops.rank_pick.exec_s", "s", "lower"),
      ("functions.kernel_queries.exec_s", "s", "lower"),
      ("plans.asof_queries.exec_s", "s", "lower"),
      ("util.fixture_cache_bytes", "bytes", "lower"),
      ("spark.plan_s", "s", "lower"),
      ("spark.driver_s", "s", "lower"),
      ("spark.jobs_per_op", "count", "lower"),
      ("spark.stages_per_op", "count", "lower"),
      ("spark.tasks_per_op", "count", "lower"),
      ("spark.task_run_s", "s", "lower"),
      ("spark.task_cpu_s", "s", "lower"),
      ("spark.gc_s", "s", "lower"),
      ("spark.core_busy_frac", "ratio", "higher"),
      ("spark.shuffle_write_bytes", "bytes", "lower"),
      ("spark.shuffle_read_bytes", "bytes", "lower"),
      ("spark.spill_bytes", "bytes", "lower"),
      ("spark.output_bytes", "bytes", "lower"),
      ("trace.spans_per_op", "count", "lower"),
      ("trace.unattributed_frac", "ratio", "lower"),
      ("trace.reconcile_max_err_s", "s", "lower"))

  /** Spans whose median self time is reported as `<name>_s`. */
  private val SpanMetrics: Seq[String] = Seq("sources.fetch", "etl.watermark",
    "etl.run_incremental", "etl.upsert", "etl.delete_keys", "etl.compact",
    "etl.read_deduped") ++ Modules.flatMap(m => Seq(s"ops.$m.build", s"ops.$m.exec"))

  /** Largest part of an op's wall time that its spans below the root may
    * leave uncovered: 5 ms, or 1 % of the op. */
  def tolerance(wall: Double): Double = math.max(0.005, 0.01 * wall)

  /** Per traced op: the part of its wall time, as the harness measured
    * it, that the spans below its root leave uncovered (the root's self
    * time plus the harness's own gap), and whether that is within
    * [[tolerance]]. */
  def reconcile(spans: Seq[Span], ops: Seq[OpRecord]): Seq[(Double, Boolean)] = {
    val self = Tracer.selfTimes(spans)
    val roots = spans.filter(_.parent < 0).map(s => s.op -> s).toMap
    ops.filter(o => roots.contains(o.i)).map { o =>
      val r = roots(o.i)
      val err = o.wall - (r.dur - self(r.id))
      (err, err <= tolerance(o.wall))
    }
  }

  def compute(ctx: Ctx, ops: Seq[OpRecord], probe: Probe, baseNs: Long,
      baseMs: Long, own: Map[String, Double]): (Map[String, Double], Map[String, Any]) = {
    val spans = ctx.tracer.spans
    val self = Tracer.selfTimes(spans)
    val byOp = spans.groupBy(_.op)
    val roots = spans.filter(_.parent < 0).map(s => s.op -> s).toMap
    val (jobs, qes) = probe.snapshot()
    def ns(ms: Long): Long = baseNs + ((ms - baseMs) * 1000000L) + 500000L

    // innermost span open at `t` within op `o`
    def innermost(o: Int, t: Long): Option[Span] =
      byOp.getOrElse(o, Nil).filter(s => s.startNs <= t && t <= s.endNs)
        .sortBy(-_.startNs).headOption
    def opAt(t: Long): Option[Int] =
      roots.collectFirst { case (o, r) if r.startNs <= t && t <= r.endNs => o }

    val jobsByOp = jobs.groupBy(j => opAt(ns(j.startMs)))
    val qesByOp = qes.groupBy(q => opAt(ns(q.startMs)))
    val traced = ops.filter(o => roots.contains(o.i))

    // per-op Spark counters
    final case class OpSpark(plan: Double, driver: Double, jobs: Int, stages: Int,
        tasks: Int, run: Double, cpu: Double, gc: Double, shW: Long, shR: Long,
        spill: Long, out: Long, kernel: Boolean, asof: Boolean)
    val perOp = traced.map { o =>
      val r = roots(o.i)
      val js = jobsByOp.getOrElse(Some(o.i), Nil)
      val qs = qesByOp.getOrElse(Some(o.i), Nil)
      val ivs = js.map(j => (ns(j.startMs), if (j.endMs < 0) r.endNs else ns(j.endMs)))
      o.i -> OpSpark(
        qs.map(_.planMs).sum / 1e3,
        (r.endNs - r.startNs - Tracer.covered(ivs, r.startNs, r.endNs)) / 1e9,
        js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
        js.map(_.runMs).sum / 1e3, js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
        js.map(_.shuffleWrite).sum, js.map(_.shuffleRead).sum,
        js.map(_.spill).sum, js.map(_.output).sum,
        qs.exists(_.kernel), qs.exists(_.asof))
    }.toMap
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val sp = perOp.values.toSeq
    val wallSum = traced.map(_.wall).sum

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Metrics.foreach { case (n, _, _) => out(n) = 0.0 }
    SpanMetrics.foreach { n =>
      val xs = spans.filter(_.name == n).map(s => self(s.id))
      out(s"${n}_s") = Stats.median(xs)
    }
    def execOf(p: OpRecord => Boolean): Double =
      Stats.median(traced.filter(p).flatMap(_.r.parts.get("exec")))
    out("ops.rank_pick.exec_s") = execOf(_.r.tags("rank_pick"))
    out("functions.kernel_queries.exec_s") =
      execOf(o => o.r.parts.contains("exec") && perOp(o.i).kernel)
    out("plans.asof_queries.exec_s") =
      execOf(o => o.r.parts.contains("exec") && perOp(o.i).asof)
    out("spark.plan_s") = Stats.median(sp.map(_.plan))
    out("spark.driver_s") = Stats.median(sp.map(_.driver))
    out("spark.jobs_per_op") = mean(sp.map(_.jobs.toDouble))
    out("spark.stages_per_op") = mean(sp.map(_.stages.toDouble))
    out("spark.tasks_per_op") = mean(sp.map(_.tasks.toDouble))
    out("spark.task_run_s") = Stats.median(sp.map(_.run))
    out("spark.task_cpu_s") = Stats.median(sp.map(_.cpu))
    out("spark.gc_s") = Stats.median(sp.map(_.gc))
    out("spark.core_busy_frac") =
      if (wallSum <= 0) 0.0 else sp.map(_.run).sum / (wallSum * ctx.cores)
    out("spark.shuffle_write_bytes") = mean(sp.map(_.shW.toDouble))
    out("spark.shuffle_read_bytes") = mean(sp.map(_.shR.toDouble))
    out("spark.spill_bytes") = mean(sp.map(_.spill.toDouble))
    out("spark.output_bytes") = mean(sp.map(_.out.toDouble))
    out("util.fixture_cache_bytes") =
      Files.bytesUnder(new java.io.File(graft.util.FixtureCache.root)).toDouble
    out("trace.spans_per_op") = if (traced.isEmpty) 0.0 else spans.size.toDouble / traced.size
    own.foreach { case (k, v) => out(k) = v }

    val recon = reconcile(spans, traced)
    out("trace.unattributed_frac") = if (wallSum <= 0) 0.0 else recon.map(_._1).sum / wallSum
    out("trace.reconcile_max_err_s") = if (recon.isEmpty) 0.0 else recon.map(_._1).max

    // per-span summary with the Spark work each span caused directly
    val jobSpan = jobs.flatMap { j =>
      val t = ns(j.startMs)
      opAt(t).flatMap(innermost(_, t)).map(s => s.name -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val spanSummary = spans.groupBy(_.name).map { case (name, ss) =>
      val js = jobSpan.getOrElse(name, Nil)
      name -> Map(
        "count" -> ss.size,
        "dur_p50_s" -> Stats.median(ss.map(_.dur)),
        "self_p50_s" -> Stats.median(ss.map(s => self(s.id))),
        "self_total_s" -> ss.map(s => self(s.id)).sum,
        "jobs" -> js.size,
        "tasks" -> js.map(_.tasks).sum,
        "task_run_s" -> js.map(_.runMs).sum / 1e3)
    }
    val report = Map[String, Any](
      "ops_traced" -> traced.size,
      "spans" -> spans.size,
      "spans_by_name" -> spanSummary,
      "reconciliation" -> Map(
        "rule" -> ("the spans below each op's root cover its wall time but for at most " +
          "max(5 ms, 1 % of the op)"),
        "ops_within_tolerance" -> recon.count(_._2),
        "ops" -> recon.size,
        "max_err_s" -> out("trace.reconcile_max_err_s"),
        "unattributed_frac" -> out("trace.unattributed_frac")))
    (out.toMap, report)
  }
}
