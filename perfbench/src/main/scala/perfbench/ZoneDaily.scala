package perfbench

import java.net.InetSocketAddress
import java.time.{LocalDate, YearMonth}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Pipeline
import graft.sources.{HttpFetch, HttpSource, Sources}

/** The seeded zone-price feed: one JSON page of 24 hourly prices per
  * (zone, day), and a fault plan. Every block of [[ZoneFeed.Block]] days
  * holds exactly one page whose first request answers 503 and one page
  * that is malformed on every request. Every [[ZoneFeed.RevisionEvery]]th
  * day announces one late revision of a page from the three days before
  * it. Revision days are fixed, not seeded, so every seed's timed window
  * holds the same mix of plain and revising increments. The feed is a
  * pure function of the seed, so the server and the expected-answer fold
  * read the same values without sharing state. */
final class ZoneFeed(val seed: Long) {
  import ZoneFeed._

  private def rng(parts: Long*): SplittableRandom = Seeded.rng(seed, parts: _*)

  private val plans = new ConcurrentHashMap[Int, Plan]()
  private def plan(day: Int): Plan = plans.computeIfAbsent(day / Block, { b =>
    val r = rng(1L, b.toLong)
    val base = b * Block
    val bad = (r.nextInt(Zones.size), base + r.nextInt(Block))
    val f0 = (r.nextInt(Zones.size), base + r.nextInt(Block))
    val fail = if (f0 == bad) ((f0._1 + 1) % Zones.size, f0._2) else f0
    Plan(fail, bad)
  })

  def date(day: Int): LocalDate = Start.plusDays(day.toLong)
  def dayOf(d: LocalDate): Int = (d.toEpochDay - Start.toEpochDay).toInt

  def isBad(zone: Int, day: Int): Boolean = plan(day).bad == ((zone, day))
  def fails(zone: Int, day: Int): Boolean = plan(day).fail == ((zone, day))

  /** Pages whose revision is announced on `day`, as (zone, day): one
    * page from the three days before, never a malformed one. */
  def revisionsOn(day: Int): Seq[(Int, Int)] =
    if (day % RevisionEvery != RevisionEvery - 1) Nil
    else {
      val r = rng(3L, day.toLong)
      val d = day - 1 - r.nextInt(math.min(3, day))
      val z = r.nextInt(Zones.size)
      Seq(if (isBad(z, d)) ((z + 1) % Zones.size, d) else (z, d))
    }

  /** Hourly prices in EUR/MWh with two decimals. */
  def prices(zone: Int, day: Int, rev: Int): IndexedSeq[Double] = {
    val r = rng(2L, zone.toLong, day.toLong, rev.toLong)
    IndexedSeq.fill(24)((500 + r.nextInt(14500)) / 100.0)
  }

  /** The daily mean, computed the way a reader checks it by hand: an
    * exact decimal sum, then one division. */
  def dailyMean(zone: Int, day: Int, rev: Int): Double = {
    val ps = prices(zone, day, rev)
    ps.map(BigDecimal(_)).sum.toDouble / ps.size
  }

  def page(zone: Int, day: Int, rev: Int): String = {
    val z = Zones(zone)
    val d = date(day)
    val hourly = prices(zone, day, rev).zipWithIndex.map { case (v, h) =>
      f"""{"ts":"${d}T$h%02d:00:00Z","zone":"$z","value":$v}"""
    }.mkString("[", ",", "]")
    val body = s"""{"zone":"$z","day":"$d","rev":$rev,"hourly":$hourly}"""
    if (rev == 0 && isBad(zone, day)) body.take(body.length / 2) else body
  }

  def revisionFeed(day: Int): String =
    revisionsOn(day).map { case (z, d) => s"""{"zone":"${Zones(z)}","day":"${date(d)}"}""" }
      .mkString("[", ",", "]")

  /** Faults the feed injects while serving days [0, days) once each:
    * (first-attempt 5xx, malformed pages, revisions). */
  def stated(days: Int): (Int, Int, Int) = {
    val ds = 0 until days
    val cells = for (d <- ds; z <- Zones.indices) yield (z, d)
    (cells.count { case (z, d) => fails(z, d) }, cells.count { case (z, d) => isBad(z, d) },
      ds.map(d => revisionsOn(d).size).sum)
  }
}

object ZoneFeed {
  private final case class Plan(fail: (Int, Int), bad: (Int, Int))

  val Zones: IndexedSeq[String] = IndexedSeq("SE1", "SE2", "SE3", "SE4")
  val Start: LocalDate = LocalDate.of(2024, 1, 1)
  val Block = 8
  val RevisionEvery = 4
  private val RevEntry = """\{"zone":"(SE\d)","day":"([0-9-]+)"\}""".r

  def parseRevisions(body: String): Seq[(String, LocalDate)] =
    RevEntry.findAllMatchIn(body).map(m => (m.group(1), LocalDate.parse(m.group(2)))).toSeq
}

/** Loopback HTTP server for a [[ZoneFeed]], on a pool of `threads`. It
  * counts the faults it actually served. */
final class ZoneServer(feed: ZoneFeed, threads: Int) {
  import ZoneFeed.Zones

  val served5xx = new AtomicInteger()
  val servedBad = new AtomicInteger()
  val servedRevisions = new AtomicInteger()
  private val requested = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  server.createContext("/prices/", (ex: HttpExchange) => {
    val Array(_, _, zone, day) = ex.getRequestURI.getPath.split("/")
    val z = Zones.indexOf(zone)
    val d = feed.dayOf(LocalDate.parse(day))
    val rev = if (Option(ex.getRequestURI.getQuery).contains("rev=1")) 1 else 0
    if (rev == 0 && feed.fails(z, d) && requested.add(s"$z/$d")) {
      served5xx.incrementAndGet()
      respond(ex, 503, "unavailable")
    } else {
      if (rev == 0 && feed.isBad(z, d)) servedBad.incrementAndGet()
      if (rev == 1) servedRevisions.incrementAndGet()
      respond(ex, 200, feed.page(z, d, rev))
    }
  })
  server.createContext("/revisions/", (ex: HttpExchange) => {
    val day = ex.getRequestURI.getPath.split("/").last
    respond(ex, 200, feed.revisionFeed(feed.dayOf(LocalDate.parse(day))))
  })
  server.setExecutor(pool)
  server.start()

  val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  def pageUrl(zone: String, day: LocalDate, rev: Int = 0): String =
    s"$base/prices/$zone/$day" + (if (rev > 0) s"?rev=$rev" else "")
  def feedUrl(day: LocalDate): String = s"$base/revisions/$day"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS): Unit
  }
}

/** The reference job: each op is one daily increment (watermark, fetch
  * of the four zone pages and the revision feed, parse with quarantine,
  * dynamic-overwrite incremental load, upsert of announced revisions)
  * followed by the dashboard read of the month's per-zone mean. The
  * first increment is the 10-day cold start and runs in set-up. */
final class ZoneDaily(ctx: Ctx) extends Workload {
  import ZoneDaily._
  import ZoneFeed.Zones

  private val spark = ctx.spark
  private val t = ctx.tracer
  private val feed = new ZoneFeed(ctx.seed)
  private var server: ZoneServer = _
  private var sink: String = _
  private var staging = 0
  // (zone, day) -> revision the sink should hold
  private val expected = mutable.Map.empty[(Int, Int), Int]
  private var lastDay = -1
  private var attempts = 0L
  private var useful = 0L
  private var quarantined = 0L
  private var injectedBad = 0L
  private var warmFailures = 0

  /** One revision period, so every round holds one revising increment. */
  def round: Int = ZoneFeed.RevisionEvery

  def stage(): Unit = {
    if (server != null) server.stop()
    if (sink != null) Files.rm(new java.io.File(sink))
    staging += 1
    sink = ctx.path(s"zone-sink-$staging")
    server = new ZoneServer(feed, ctx.cores)
    expected.clear()
    lastDay = -1
    attempts = 0; useful = 0; quarantined = 0; injectedBad = 0
  }

  def warm(): Unit = (1 to WarmIncrements).foreach(_ => if (!daily().ok) warmFailures += 1)

  def op(i: Int): OpResult = daily()

  private def fetch(urls: Seq[String]): Array[HttpFetch] = t.span("sources.fetch") {
    HttpSource.fetch(spark, urls, maxAttempts = 3, delayMs = RetryDelayMs,
      parallelism = ctx.cores).collect()
  }

  /** Parses fetched pages; returns hourly rows and the quarantined count. */
  private def parse(pages: Seq[HttpFetch]): (DataFrame, Long) = t.span("sources.parse") {
    import spark.implicits._
    val df = pages.map(p => (p.url, p.body)).toDF("url", "body")
    val (good, bad) = Sources.jsonWithQuarantine(df, "body", PageSchema)
    val nBad = bad.count()
    (Pipeline.fromJsonPayloads(good.select(to_json(col("hourly")).as("payload")), "payload"), nBad)
  }

  private def daily(): OpResult = {
    val t0 = System.nanoTime()
    val wm = t.span("etl.watermark")(Pipeline.watermark(spark, sink))
    val days = wm.fold(0 until ColdStartDays: Seq[Int])(d => Seq(feed.dayOf(d.toLocalDate) + 1))
    val urls = days.flatMap(d => Zones.map(z => server.pageUrl(z, feed.date(d)))) ++
      days.map(d => server.feedUrl(feed.date(d)))
    val fetched = fetch(urls)
    val (pages, feeds) = fetched.toSeq.partition(_.url.contains("/prices/"))
    val revs = feeds.flatMap(f => ZoneFeed.parseRevisions(Option(f.body).getOrElse("")))
    val revFetched = if (revs.isEmpty) Nil
      else fetch(revs.map { case (z, d) => server.pageUrl(z, d, rev = 1) }).toSeq
    val allOk = (fetched ++ revFetched).forall(_.status == 200)
    attempts += (fetched ++ revFetched).map(_.attempts.toLong).sum
    val (events, nBad) = parse(pages)
    quarantined += nBad
    val loadDate = java.sql.Date.valueOf(feed.date(days.last + 1))
    val loaded = t.span("etl.run_incremental") {
      Pipeline.runIncremental(spark, events, "zone", sink, loadDate,
        coldStartLookbackDays = if (wm.isEmpty) Some(ColdStartDays) else None,
        overwritePartitions = true)
    }
    val revKeys = revs.map { case (z, d) => (Zones.indexOf(z), feed.dayOf(d)) }
    val upserted =
      if (revFetched.isEmpty) 0L
      else {
        val (revEvents, _) = parse(revFetched)
        t.span("etl.upsert")(Pipeline.upsert(spark, dailyRows(revEvents, loadDate), sink))
      }
    val incS = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val ym = YearMonth.from(feed.date(days.last))
    val dash = t.span("etl.read_deduped") {
      Pipeline.readDeduped(spark, sink)
        .filter(year(col("date")) === ym.getYear && month(col("date")) === ym.getMonthValue)
        .groupBy(col("group_key"))
        .agg(avg(col("avg_value")).as("mean"), count(lit(1)).as("days"))
        .collect()
    }
    val dashS = (System.nanoTime() - t1) / 1e9

    // the independent fold: what the served pages say the sink holds.
    // The benchmark's own work, spanned so the trace accounts for it.
    val ok = t.span("bench.check") {
      val bad = for (d <- days; z <- Zones.indices if feed.isBad(z, d)) yield (z, d)
      injectedBad += bad.size
      for (d <- days; z <- Zones.indices if !feed.isBad(z, d)) expected((z, d)) = 0
      revKeys.foreach(k => expected(k) = 1)
      lastDay = days.last
      useful += pages.size - nBad + feeds.size + revFetched.size
      val wantUpserted = revKeys.map(_._2).distinct
        .map(d => Zones.indices.count(z => expected.contains((z, d)))).sum
      allOk && loaded == days.size * Zones.size - bad.size &&
        nBad == bad.size && upserted == wantUpserted && dashboardOk(dash, ym)
    }
    OpResult("daily", ok, loaded + upserted, Map("increment" -> incS, "dashboard" -> dashS))
  }

  private def dailyRows(events: DataFrame, loadDate: java.sql.Date): DataFrame =
    events.groupBy(to_date(col("ts")).as("date"), col("zone").as("group_key"))
      .agg((sum(col("value").cast("decimal(28,10)")).cast("double") / count(lit(1)))
        .as("avg_value"), count(lit(1)).as("n"))
      .withColumn("load_date", lit(loadDate))
      .select(Pipeline.sinkSchema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)

  /** Expected (mean, days) per zone for `month`, from the fold. */
  private def expectedDashboard(month: YearMonth): Map[String, (Double, Long)] =
    expected.toSeq.filter { case ((_, d), _) => YearMonth.from(feed.date(d)) == month }
      .groupBy(_._1._1).map { case (z, cells) =>
        val means = cells.map { case ((_, d), rev) => feed.dailyMean(z, d, rev) }
        val bump = if (ctx.corrupt && z == 0) 1.0 else 0.0
        Zones(z) -> (means.sum / means.size + bump, means.size.toLong)
      }

  private def dashboardOk(rows: Array[Row], month: YearMonth): Boolean = {
    val want = expectedDashboard(month)
    val got = rows.map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    got.keySet == want.keySet && want.forall { case (z, (m, n)) =>
      val (gm, gn) = got(z)
      gn == n && math.abs(gm - m) <= 1e-9 * math.max(1.0, math.abs(m))
    }
  }

  def checks(): Seq[Check] = {
    val (s5xx, sBad, sRev) = feed.stated(lastDay + 1)
    val served = (server.served5xx.get, server.servedBad.get, server.servedRevisions.get)
    val sinkRows = Pipeline.readDeduped(spark, sink).collect()
      .map(r => (r.getAs[String]("group_key"), r.getAs[java.sql.Date]("date").toLocalDate) ->
        r.getAs[Double]("avg_value")).toMap
    val want = expected.map { case ((z, d), rev) =>
      (Zones(z), feed.date(d)) -> feed.dailyMean(z, d, rev) }.toMap
    Seq(
      Check("warm increments correct", warmFailures == 0, s"$warmFailures failed"),
      Check("injected faults match the plan", served == ((s5xx, sBad, sRev)),
        s"served $served, stated ${(s5xx, sBad, sRev)}"),
      Check("quarantined pages equal injected malformed pages",
        quarantined == injectedBad && quarantined == sBad, s"$quarantined vs $injectedBad"),
      Check("sink equals the fold over served pages", sinkRows == want,
        s"${sinkRows.size} rows vs ${want.size} expected"))
  }

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val inc = ops.flatMap(_.r.parts.get("increment"))
    val dash = ops.flatMap(_.r.parts.get("dashboard"))
    Seq(("increment_p50_s", Stats.median(inc), "s"), ("increment_p90_s", Stats.quantile(inc, 0.9), "s"),
      ("dashboard_p50_s", Stats.median(dash), "s"), ("dashboard_p90_s", Stats.quantile(dash, 0.9), "s"))
  }

  def layers(): Map[String, Double] = {
    val files = Files.dataFiles(new java.io.File(sink))
    Map(
      "sources.attempts_per_url" -> (if (attempts == 0) 0.0 else useful.toDouble / attempts),
      "sources.quarantined_pages" -> quarantined.toDouble,
      "etl.sink_files" -> files.size.toDouble,
      "etl.sink_bytes_per_row" -> files.map(_.length()).sum.toDouble / math.max(1, expected.size))
  }

  def close(): Unit = if (server != null) server.stop()
}

object ZoneDaily {
  val ColdStartDays = 10
  /** The cold start plus four daily increments, before timing: the JIT is still warming after fewer. */
  val WarmIncrements = 5
  val RetryDelayMs = 20L

  val PageSchema: StructType = StructType(Seq(
    StructField("zone", StringType),
    StructField("day", StringType),
    StructField("rev", IntegerType),
    StructField("hourly", ArrayType(StructType(Seq(
      StructField("ts", StringType),
      StructField("zone", StringType),
      StructField("value", DoubleType)))))))
}
