package perfbench

import java.net.{HttpURLConnection, URL}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The seeded inputs without Spark: determinism, seed sensitivity, the
  * fault injector's exact counts and the query sample's coverage. */
class InputsSpec extends AnyFunSuite {
  private val Days = 40

  private def pages(f: ZoneFeed): Seq[String] =
    for (d <- 0 until Days; z <- ZoneFeed.Zones.indices; rev <- 0 to 1)
      yield f.page(z, d, rev) + f.revisionFeed(d)

  test("zone feed: same seed gives byte-identical pages, another seed different ones") {
    assert(pages(new ZoneFeed(7)) == pages(new ZoneFeed(7)))
    assert(pages(new ZoneFeed(7)) != pages(new ZoneFeed(8)))
  }

  test("churn inputs: same seed gives identical commits, another seed different ones") {
    def all(c: ChurnInputs) = ((0 until 16).map(c.upsert), (0 until 16).map(c.deleteKeys),
      (0 until 4).map(j => c.batch(j, j)))
    assert(all(new ChurnInputs(7)) == all(new ChurnInputs(7)))
    assert(all(new ChurnInputs(7)) != all(new ChurnInputs(8)))
  }

  test("fault plan: one 5xx and one malformed page per block, one revision every fourth day") {
    (1L to 5L).foreach { seed =>
      val blocks = Days / ZoneFeed.Block
      assert(new ZoneFeed(seed).stated(Days) == ((blocks, blocks, Days / ZoneFeed.RevisionEvery)))
    }
  }

  private def get(url: String): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      (status, new String(in.readAllBytes(), "UTF-8"))
    } finally c.disconnect()
  }

  test("fault injector serves exactly its stated 5xx, malformed-page and revision counts") {
    val feed = new ZoneFeed(3)
    val server = new ZoneServer(feed, 2)
    try {
      var retried = 0
      var malformed = 0
      for (d <- 0 until Days) {
        val day = feed.date(d)
        ZoneFeed.Zones.foreach { z =>
          var (status, body) = get(server.pageUrl(z, day))
          if (status == 503) { retried += 1; val r = get(server.pageUrl(z, day)); status = r._1; body = r._2 }
          assert(status == 200)
          if (!body.endsWith("}")) malformed += 1
        }
        ZoneFeed.parseRevisions(get(server.feedUrl(day))._2).foreach { case (z, rd) =>
          assert(get(server.pageUrl(z, rd, rev = 1))._1 == 200)
        }
      }
      val stated = feed.stated(Days)
      assert((retried, malformed) == ((stated._1, stated._2)))
      assert((server.served5xx.get, server.servedBad.get, server.servedRevisions.get) == stated)
    } finally server.stop()
  }

  private val table = QueryTable.load()

  test("query sample: seeded, stratified over all eight modules, rank-pick and as-of queries in") {
    assert(table.map(_.module).toSet == Layers.Modules.toSet)
    val a = QuerySuite.sample(table, 1)
    assert(a == QuerySuite.sample(table, 1))
    assert(a.map(_.name).toSet != QuerySuite.sample(table, 2).map(_.name).toSet)
    (1L to 10L).foreach { seed =>
      val s = QuerySuite.sample(table, seed)
      assert(s.map(_.module).toSet == Layers.Modules.toSet)
      assert(QuerySuite.Always.subsetOf(s.map(_.name).toSet))
      assert(s.map(_.name).distinct.size == s.size)
    }
  }

  test("query table: every entry is a declared query, the always-in ones included") {
    val declared = graft.SparkEntry.queries.keySet
    assert(table.map(_.name).toSet.subsetOf(declared))
    assert(QuerySuite.Always.subsetOf(table.map(_.name).toSet))
  }

  test("reconciliation fails when an op spends time outside every layer span") {
    val tracer = new Tracer
    def timed(i: Int)(body: => Unit): OpRecord = {
      val t0 = System.nanoTime()
      tracer.op(i)(body)
      OpRecord(i, OpResult("x", ok = true), (System.nanoTime() - t0) / 1e9)
    }
    val covered = timed(0)(tracer.span("etl.upsert")(Thread.sleep(30)))
    val leaky = timed(1) {
      tracer.span("etl.upsert")(Thread.sleep(30))
      Thread.sleep(30)
    }
    val recon = Layers.reconcile(tracer.spans, Seq(covered, leaky))
    assert(recon.map(_._2) == Seq(true, false))
    assert(recon(1)._1 >= 0.03)
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark emits") {
    val doc = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def entries(key: String) = doc.get(key).elements().asScala.toSeq
    def names(key: String) =
      entries(key).map(n => (n.get("name").asText, n.get("unit").asText, n.get("better").asText))
    assert(names("end_to_end") == Harness.EndToEnd)
    assert(names("per_layer") == Layers.Metrics ++ Harness.EndToEnd.map { case (n, _, _) =>
      (s"trace.overhead.$n", "ratio", "lower") })
    assert(entries("workloads").map(_.get("name").asText) == Main.Workloads)
  }
}
