package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.etl.Pipeline
import graft.streaming.{Event, Streams}

/** Churn on a large date-partitioned sink: a fixed cycle of late-revision
  * upserts, GDPR key deletes, single-partition compactions and
  * micro-batches through `Streams.upsertSink`. The sink starts as
  * [[SinkChurn.Days]] days × [[SinkChurn.Keys]] keys, with
  * [[SinkChurn.Loads]] files in each date partition. A plain-Scala model
  * of the sink (which keys each day holds, and the rows upserts replaced)
  * is updated beside every commit and compared with the sink at the end. */
final class SinkChurn(ctx: Ctx) extends Workload {
  import SinkChurn._

  private val spark = ctx.spark
  private val t = ctx.tracer
  private var staging = 0
  private var sink: String = _
  private var streamSink: String = _
  private var in: MemoryStream[Event] = _
  private var query: StreamingQuery = _
  private var warmBatches = 0L
  // the keys the sink holds on each day
  private val present = Array.fill(Days)(new java.util.BitSet(Keys))
  // rows an upsert replaced: (day, key) -> (avg_value, n, load day)
  private val revised = mutable.HashMap.empty[(Int, Int), (Double, Long, Int)]
  private val fed = mutable.ArrayBuffer.empty[Event]
  private var batchNo = 0
  private var rewritten = 0L
  private var applied = 0L
  private var warmFailures = 0

  private val inputs = new ChurnInputs(ctx.seed)

  /** The starting sink, written once per run: each staging copies it. */
  private lazy val start: String = {
    val p = ctx.path("churn-start")
    // one write job; `Loads` tasks per date, hence `Loads` files per partition
    spark.range(0L, Days.toLong * Keys, 1L, Loads)
      .select(inputs.initialColumns: _*)
      .repartition(Loads, col("group_key"))
      .write.partitionBy("date").parquet(p)
    p
  }

  private def date(day: Int): java.sql.Date = java.sql.Date.valueOf(Start.plusDays(day.toLong))
  private def key(k: Int): String = f"k$k%05d"
  private def rowsOn(days: Iterable[Int]): Long = days.map(present(_).cardinality.toLong).sum

  private def frame(rows: Seq[((Int, Int), (Double, Long, Int))]): DataFrame = {
    import spark.implicits._
    rows.map { case ((d, k), (v, n, ld)) => (date(d), key(k), v, n, date(ld)) }
      .toDF("date", "group_key", "avg_value", "n", "load_date")
  }

  def round: Int = Cycle.size

  def stage(): Unit = {
    if (query != null) query.stop()
    Seq(sink, streamSink).filter(_ != null).foreach(p => Files.rm(new java.io.File(p)))
    staging += 1
    sink = ctx.path(s"churn-sink-$staging")
    streamSink = ctx.path(s"churn-stream-$staging")
    present.foreach(_.set(0, Keys))
    revised.clear(); fed.clear()
    batchNo = 0; rewritten = 0; applied = 0
    Files.copyTree(new java.io.File(start), new java.io.File(sink))
    implicit val sql: SQLContext = spark.sqlContext
    import spark.implicits._
    in = MemoryStream[Event]
    query = Streams.upsertSink(in.toDF(), streamSink, ctx.path(s"churn-ckpt-$staging"))
  }

  def warm(): Unit = {
    Cycle.distinct.zipWithIndex.foreach { case (kind, j) =>
      if (!commit(kind, WarmSalt + j).ok) warmFailures += 1
    }
    warmBatches = lastBatchId
    rewritten = 0; applied = 0
  }

  def op(i: Int): OpResult = commit(Cycle(i % Cycle.size), i)

  private def commit(kind: String, i: Int): OpResult = kind match {
    case "upsert" => upsert(i)
    case "delete" => delete(i)
    case "compact" => compact(i)
    case "stream" => stream(i)
  }

  private def upsert(i: Int): OpResult = {
    val rows = t.span("bench.inputs")(inputs.upsert(i))
    val n = t.span("etl.upsert")(Pipeline.upsert(spark, frame(rows), sink))
    val want = t.span("bench.model") {
      rows.foreach { case (dk @ (d, k), v) => present(d).set(k); revised(dk) = v }
      rowsOn(rows.map(_._1._1).distinct)
    }
    rewritten += n
    applied += rows.size
    OpResult("upsert", n == want, rows.size.toLong)
  }

  private def delete(i: Int): OpResult = {
    import spark.implicits._
    val keys = t.span("bench.inputs")(inputs.deleteKeys(i))
    val (touched, doomed) = t.span("bench.model") {
      ((0 until Days).filter(d => keys.exists(present(d).get)),
        (0 until Days).map(d => keys.count(present(d).get).toLong).sum)
    }
    val n = t.span("etl.delete_keys") {
      Pipeline.deleteKeys(spark, keys.toSeq.map(key).toDF("group_key"), sink)
    }
    t.span("bench.model") {
      keys.foreach(k => present.foreach(_.clear(k)))
      revised.filterInPlace { case ((_, k), _) => !keys(k) }
      rewritten += rowsOn(touched)
    }
    applied += n
    OpResult("delete", n == doomed, n)
  }

  private def compact(i: Int): OpResult = {
    val days = (0 until Days).filter(present(_).cardinality > 0)
    val d = days(inputs.pick(i, days.size))
    val rows = present(d).cardinality
    val files = t.span("etl.compact") {
      Pipeline.compact(spark, s"$sink/date=${date(d)}", CompactRowsPerFile)
    }
    rewritten += rows
    OpResult("compact", files == math.ceil(rows.toDouble / CompactRowsPerFile).toInt)
  }

  private def stream(i: Int): OpResult = {
    val batch = t.span("bench.inputs")(inputs.batch(batchNo, i))
    batchNo += 1
    t.span("streaming.feed") {
      in.addData(batch)
      query.processAllAvailable()
    }
    t.span("bench.model")(fed ++= batch)
    OpResult("stream", query.exception.isEmpty, batch.size.toLong)
  }

  private def lastBatchId: Long =
    Option(query).flatMap(q => Option(q.lastProgress)).map(_.batchId).getOrElse(-1L)

  /** The sink the model describes: the starting table less the rows that
    * were deleted or revised, plus the revised rows. Built with plain
    * DataFrame operations, not with the engine's. */
  private def expected(): DataFrame = {
    import spark.implicits._
    val held = revised.filter { case ((d, k), _) => present(d).get(k) }.toSeq
    // with `corrupt`, one row the sink holds goes missing from the model
    val lost = if (!ctx.corrupt) None else Some((0, present(0).nextSetBit(0)))
    val dropped = (for {
      d <- 0 until Days
      k <- Iterator.iterate(present(d).nextClearBit(0))(k => present(d).nextClearBit(k + 1))
        .takeWhile(_ < Keys)
    } yield (d, k)) ++ held.map(_._1) ++ lost
    spark.range(0L, Days.toLong * Keys, 1L, Loads).select(inputs.initialColumns: _*).join(dropped.map { case (d, k) => (date(d), key(k)) }.toDF("date", "group_key"),
        Seq("date", "group_key"), "left_anti")
      .unionByName(frame(held.filterNot(r => lost.contains(r._1))))
  }

  def checks(): Seq[Check] = {
    import spark.implicits._
    val cols = Pipeline.sinkSchema.fieldNames.map(col).toIndexedSeq
    val sinkDiff = rowsDiffering(spark.read.parquet(sink).select(cols: _*), expected().select(cols: _*))
    val sCols = Seq("date", "group_key", "latest_event_id", "value").map(col)
    val streamDiff = rowsDiffering(spark.read.parquet(streamSink).select(sCols: _*),
      Streams.latestPerKey(fed.toSeq.toDF()).select(sCols: _*))
    Seq(
      Check("warm commits correct", warmFailures == 0, s"$warmFailures failed"),
      Check("sink equals the model", sinkDiff == 0, s"$sinkDiff rows differ"),
      Check("stream sink equals latestPerKey", streamDiff == 0, s"$streamDiff rows differ"))
  }

  /** Rows in one of `a` and `b` but not the other, with multiplicity:
    * what `a.exceptAll(b)` and `b.exceptAll(a)` return together, counted
    * in one aggregation instead of two. */
  private def rowsDiffering(a: DataFrame, b: DataFrame): Long =
    a.withColumn("_side", lit(1L)).unionByName(b.withColumn("_side", lit(-1L)))
      .groupBy(a.columns.toIndexedSeq.map(col): _*).agg(sum(col("_side")).as("_d"))
      .agg(coalesce(sum(abs(col("_d"))), lit(0L))).head().getLong(0)

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val walls = ops.map(_.wall)
    Seq(("commit_p50_s", Stats.median(walls), "s"), ("commit_p90_s", Stats.quantile(walls, 0.9), "s"),
      ("applied_rows_per_s", ops.map(_.r.rows).sum / math.max(1e-9, walls.sum), "1/s"))
  }

  def layers(): Map[String, Double] = {
    val files = Files.dataFiles(new java.io.File(sink))
    val progress: Seq[StreamingQueryProgress] =
      Option(query).map(_.recentProgress.toSeq).getOrElse(Nil)
        .filter(p => p.batchId > warmBatches && p.numInputRows > 0)
    def ms(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.toDouble / 1e3).getOrElse(0.0)
    Map(
      "etl.rows_rewritten_per_applied" -> (if (applied == 0) 0.0 else rewritten.toDouble / applied),
      "etl.sink_files" -> files.size.toDouble,
      "etl.sink_bytes_per_row" -> files.map(_.length()).sum.toDouble / math.max(1L, rowsOn(0 until Days)),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_p50_s" -> Stats.median(progress.map(ms(_, "triggerExecution"))),
      "streaming.add_batch_s" -> Stats.median(progress.map(ms(_, "addBatch"))),
      "streaming.wal_commit_s" ->
        Stats.median(progress.map(p => ms(p, "walCommit") + ms(p, "commitOffsets"))))
  }

  def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination(10000L): Unit
  }
}

/** The seeded inputs of [[SinkChurn]]: pure functions of the seed and
  * the commit index, so a run can be replayed and its tables compared. */
final class ChurnInputs(seed: Long) {
  import SinkChurn._

  private def rng(parts: Long*): SplittableRandom = Seeded.rng(seed, parts: _*)

  private def price(r: SplittableRandom): Double = (1000 + r.nextInt(99000)) / 100.0

  /** The starting sink as columns over `spark.range(Days * Keys)`. Row
    * id is day * Keys + key; the price is a hash of (seed, id). */
  def initialColumns: Seq[Column] = {
    val day = (col("id") / Keys).cast("int")
    Seq(date_add(lit(java.sql.Date.valueOf(Start)), day).as("date"),
      format_string("k%05d", col("id") % Keys).as("group_key"),
      ((pmod(xxhash64(lit(seed), col("id")), lit(99000L)) + 1000) / 100.0).as("avg_value"),
      lit(24L).as("n"),
      date_add(lit(java.sql.Date.valueOf(Start)), day + 1).as("load_date"))
  }

  /** Late revisions of [[UpsertKeys]] keys on each of [[UpsertDays]] days. */
  def upsert(i: Int): Seq[((Int, Int), (Double, Long, Int))] = {
    val r = rng(2L, i.toLong)
    r.ints(0, Days).distinct().limit(UpsertDays.toLong).toArray.toSeq.flatMap { d =>
      r.ints(0, Keys).distinct().limit(UpsertKeys.toLong).toArray.toSeq.map { k =>
        (d, k) -> ((price(r), 24L, Days + 1 + (i & 0xffff)))
      }
    }
  }

  def deleteKeys(i: Int): Set[Int] =
    rng(3L, i.toLong).ints(0, Keys).distinct().limit(DeleteKeys.toLong).toArray.toSet

  /** An index in [0, n) for compaction `i`. */
  def pick(i: Int, n: Int): Int = rng(4L, i.toLong).nextInt(n)

  /** Micro-batch `j`: [[BatchEvents]] events in event-time order, all in
    * the j-th [[BatchSpanMs]] window, so batches arrive time-ordered. */
  def batch(j: Int, i: Int): Seq[Event] = {
    val r = rng(5L, i.toLong)
    val t0 = StreamStart.toEpochDay * 86400000L + j * BatchSpanMs
    Array.fill(BatchEvents)(r.nextLong(BatchSpanMs)).sorted.toSeq.zipWithIndex.map { case (off, n) =>
      Event(j.toLong * BatchEvents + n, new java.sql.Timestamp(t0 + off),
        r.nextInt(500).toLong, f"type${r.nextInt(EventTypes)}%02d", (100 + r.nextInt(99900)) / 100.0)
    }
  }
}

object SinkChurn {
  val Start: LocalDate = LocalDate.of(2023, 1, 1)
  val StreamStart: LocalDate = LocalDate.of(2024, 1, 1)
  val Days = 30
  val Keys = 40000
  /** Files per date partition of the starting sink. */
  val Loads = 3
  val UpsertDays = 8
  val UpsertKeys = 500
  val DeleteKeys = 3
  val CompactRowsPerFile = 1000000L
  val BatchEvents = 10000
  val BatchSpanMs: Long = 6L * 3600 * 1000
  val EventTypes = 40
  private val WarmSalt = 1 << 20
  /** One commit cycle; the loop runs it round and round. */
  val Cycle: IndexedSeq[String] =
    IndexedSeq("upsert", "stream", "upsert", "delete", "upsert", "stream", "upsert", "compact")
}
