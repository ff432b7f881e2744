package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval around a call the benchmark makes into a layer. `op` is
  * the operation the span belongs to; `parent` is -1 for the op's root. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. Spans are only recorded inside [[op]], so a
  * tracer that is never given an op costs one branch per call. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var current = -1

  def spans: Seq[Span] = done.toSeq

  /** Runs `body` as operation `idx`, rooted at a span called "op". */
  def op[T](idx: Int)(body: => T): T = {
    current = idx
    try span("op")(body) finally current = -1
  }

  def span[T](name: String)(body: => T): T =
    if (current < 0) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, parent, current, t0, System.nanoTime())
      }
    }
}

object Tracer {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Span duration minus the part of it that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.endNs - s.startNs - covered(c, s.startNs, s.endNs)) / 1e9
    }.toMap
  }
}

/** Spark-side counters for one job, summed over its tasks. */
final class JobAgg(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var output = 0L
}

/** One completed query execution as the QueryExecutionListener saw it. */
final case class QeRec(startMs: Long, planMs: Long, kernel: Boolean, asof: Boolean)

/** The benchmark's own SparkListener and QueryExecutionListener. Events
  * are kept raw and attributed to spans afterwards, by time: the
  * benchmark is one client issuing one call at a time, so the innermost
  * span open when a job was submitted is the one that caused it. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  private val stageJob = mutable.HashMap.empty[Int, JobAgg]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  def snapshot(): (Seq[JobAgg], Seq[QeRec]) = synchronized((jobs.values.toSeq, qes.toSeq))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobAgg(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, inspect = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, inspect = false)

  private def record(qe: QueryExecution, inspect: Boolean): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      var kernel = false
      var asof = false
      if (inspect) {
        def walk(p: SparkPlan): Unit = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case n =>
            if (n.getClass.getName == "graft.plans.AsOfJoinExec") asof = true
            n.expressions.foreach(_.foreach { e =>
              if (e.getClass.getName.startsWith("graft.functions.")) kernel = true
            })
            n.children.foreach(walk)
            n.subqueries.foreach(walk)
        }
        try walk(qe.executedPlan)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val rec = QeRec(phases.map(_.startTimeMs).min,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum, kernel, asof)
      synchronized(qes += rec)
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
