package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed, the core count
  * Spark runs with, a private directory that is deleted after the run,
  * a directory shared by the runs of one checkout (for inputs that do
  * not depend on the seed), and the tracer its calls into the engine
  * report to. `corrupt` flips one expected value, so the benchmark's own
  * tests can show that a wrong answer is counted. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val dir: File, val shared: File, val tracer: Tracer, val corrupt: Boolean = false) {
  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/** One timed operation. `parts` holds sub-timings in seconds (an
  * increment and its dashboard read, a query's build and execution);
  * `rows` counts input rows the operation applied. */
final case class OpResult(kind: String, ok: Boolean, rows: Long = 0L,
    parts: Map[String, Double] = Map.empty, tags: Set[String] = Set.empty)

final case class OpRecord(i: Int, r: OpResult, wall: Double)

final case class Check(name: String, ok: Boolean, detail: String = "")

/** A closed-loop workload with one client: the harness calls [[op]]
  * again only after the previous call returned. */
trait Workload {
  /** Operations in one round of the workload's fixed cycle. The timed
    * loop ends on a round boundary, so every run measures the same mix. */
  def round: Int
  /** Builds fresh inputs, sinks and servers. Called several times; each
    * call replaces what the previous one built. */
  def stage(): Unit
  /** Runs after the last [[stage]], before timing: the cold start and
    * anything that must be warm. Counted in `setup_s`. */
  def warm(): Unit
  def op(i: Int): OpResult
  /** Correctness checks on the final state, each counted as one attempt. */
  def checks(): Seq[Check]
  /** The workload's own end-to-end readings, (name, value, unit). */
  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)]
  /** Layer readings only the workload can make (counts, sizes). */
  def layers(): Map[String, Double]
  def close(): Unit
}

final case class Outcome(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    attempted: Int,
    failed: Int,
    report: Map[String, Any])

object Harness {
  /** Times `stage` is repeated; `setup_s` takes the median. */
  val StageRepeats = 3

  /** The end-to-end metrics every workload reports: (name, unit, better). */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("heap_live_mb", "MB", "lower"))

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean,
      sessionS: Double): Outcome = {
    val stageS = (1 to StageRepeats).map(_ => timed(wl.stage()))
    val warmS = timed(wl.warm())
    val setupS = sessionS + Stats.median(stageS) + warmS

    val probe = new Probe
    if (trace) probe.attach(ctx.spark)
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis()
    val cpu0 = Host.cpuJiffies
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || i % wl.round != 0 || System.nanoTime() < deadline) {
      val s = System.nanoTime()
      val r =
        try {
          if (trace) ctx.tracer.op(i)(wl.op(i)) else wl.op(i)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] op $i failed: $e")
            OpResult("error", ok = false)
        }
      ops += OpRecord(i, r, (System.nanoTime() - s) / 1e9)
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val steal = Host.stealPct(cpu0, Host.cpuJiffies)
    val rss = Host.peakRssMb
    if (trace) probe.detach(ctx.spark)

    val checksT0 = System.nanoTime()
    val checks = wl.checks()
    val checksS = (System.nanoTime() - checksT0) / 1e9
    val heapLive = Host.liveHeapMb(ctx.spark.sparkContext)
    checks.filterNot(_.ok).foreach(c =>
      System.err.println(s"[perfbench] check ${c.name} failed: ${c.detail}"))
    val failed = ops.count(!_.r.ok) + checks.count(!_.ok)
    val attempted = ops.size + checks.size
    val walls = ops.map(_.wall).toSeq

    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.median(walls),
      "ops_per_s" -> ops.size / measuredS,
      "peak_rss_mb" -> rss,
      "heap_live_mb" -> heapLive)

    val (layerVals, traceReport) =
      if (!trace) (Map.empty[String, Double], Map.empty[String, Any])
      else Layers.compute(ctx, ops.toSeq, probe, baseNs, baseMs, wl.layers())

    val named = wl.named(ops.toSeq) ++ Seq(
      ("failed_frac", failed.toDouble / attempted, "ratio"),
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", rss, "MB"),
      ("heap_live_mb", heapLive, "MB"))
    val report = Map[String, Any](
      "metrics" -> named.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "samples" -> ops.groupBy(_.r.kind).map { case (k, v) => k -> v.size },
      "op_walls_s" -> ops.map(o => s"${o.r.kind}:${"%.3f".format(o.wall)}"),
      "setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS, "warm_s" -> warmS),
      "measured_s" -> measuredS,
      "checks_s" -> checksS,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "env" -> Map(
        "nproc" -> ctx.cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> ctx.spark.version,
        "cpu_steal_pct" -> steal),
      "trace" -> traceReport)
    Outcome(e2e, layerVals, attempted, failed, report)
  }
}
