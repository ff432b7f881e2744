package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One row of the checked-in query table: the query's module, its cost
  * when recorded, and the fingerprint of its correct result. */
final case class QueryEntry(name: String, module: String, costS: Double, rows: Long, hash: String) {
  def rankPick: Boolean = QuerySuite.RankPick.contains(name)
}

object QueryTable {
  val Resource = "/perfbench/queries.tsv"

  def parse(lines: Seq[String]): Seq[QueryEntry] =
    lines.filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(name, module, cost, rows, hash) = l.split("\t")
      QueryEntry(name, module, cost.toDouble, rows.toLong, hash)
    }

  def load(): Seq[QueryEntry] = {
    val in = getClass.getResourceAsStream(Resource)
    require(in != null, s"missing resource $Resource")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try parse(src.getLines().toVector) finally src.close()
  }

  def render(entries: Seq[QueryEntry], header: Seq[String]): String =
    (header.map("# " + _) ++ entries.sortBy(_.name).map(e =>
      Seq(e.name, e.module, f"${e.costS}%.4f", e.rows.toString, e.hash).mkString("\t")))
      .mkString("", "\n", "\n")

  /** (row count, order-insensitive hash) of a result. Doubles are
    * rounded to 6 places first, so a last-bit difference in summation
    * order does not read as a wrong answer. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) => when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
      case MapType(kt, vt, _) =>
        norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
      case _ => c
    }
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** A seeded sample of the declared queries, stratified by module, over
  * generated fixture tables; each query is materialized through the
  * `noop` sink. Every module gives one query, which the seed picks among
  * the module's [[QuerySuite.Window]] queries whose recorded cost is
  * nearest the median cost of all declared queries. Every seed's sample
  * thus holds one typical fixed-cost query per module, and the median of
  * a pass does not depend on which ones. [[QuerySuite.Always]] are in
  * every sample. After the timed loop, the DataFrame each sampled query
  * last executed is executed again and its answer checked against the
  * fingerprints in [[QueryTable.Resource]]. */
final class QuerySuite(ctx: Ctx) extends Workload {
  import QuerySuite._

  private val spark = ctx.spark
  private val t = ctx.tracer
  private val table = QueryTable.load()
  private val queries = graft.SparkEntry.queries
  val sample: IndexedSeq[QueryEntry] = QuerySuite.sample(table, ctx.seed)
  private var dir: String = _
  private var staging = 0
  // query name -> the DataFrame its last timed op executed; [[checks]]
  // fingerprints these, so a check does not pay the query's build again
  private val executed = scala.collection.mutable.HashMap.empty[String, DataFrame]

  def round: Int = sample.size

  /** Stages the fixture tables into a fresh directory of this run. They
    * do not depend on the seed, so they are generated once per checkout. */
  def stage(): Unit = {
    if (dir != null) Files.rm(new java.io.File(dir))
    staging += 1
    dir = ctx.path(s"fixtures-$staging")
    val src = Fixtures.shared(spark, ctx.shared, Scale, DataSeed)
    new java.io.File(dir).mkdirs()
    Fixtures.Tables.foreach { t =>
      java.nio.file.Files.copy(new java.io.File(src, s"$t.parquet").toPath,
        new java.io.File(dir, s"$t.parquet").toPath)
    }
  }

  /** Runs every sampled query once, as timed: fills the per-run fixture
    * cache and compiles the plans. */
  def warm(): Unit = sample.foreach { q =>
    try queries(q.name)(spark, dir).write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] ${q.name} failed in warm-up: $e") }
  }

  def op(i: Int): OpResult = {
    val q = sample(i % sample.size)
    val fn = queries.getOrElse(q.name, throw new NoSuchElementException(q.name))
    val t0 = System.nanoTime()
    val df = t.span(s"ops.${q.module}.build")(fn(spark, dir))
    val t1 = System.nanoTime()
    t.span(s"ops.${q.module}.exec")(df.write.format("noop").mode("overwrite").save())
    val t2 = System.nanoTime()
    executed(q.name) = df
    OpResult("query", ok = true, 0L,
      Map("build" -> (t1 - t0) / 1e9, "exec" -> (t2 - t1) / 1e9),
      if (q.rankPick) Set("rank_pick") else Set.empty)
  }

  /** Each sampled query's answer against the recorded fingerprint. */
  def checks(): Seq[Check] = {
    val out = sample.map { q =>
      val got =
        try executed.get(q.name).map(QueryTable.fingerprint)
        catch { case scala.util.control.NonFatal(e) => Some((-1L, e.toString)) }
      val want = if (ctx.corrupt && q == sample.head) (q.rows + 1, q.hash) else (q.rows, q.hash)
      Check(s"${q.name} answers as recorded", got.contains(want), s"got $got, want $want")
    }
    executed.clear()
    out
  }

  def named(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val walls = ops.map(_.wall)
    Seq(("query_p50_s", Stats.median(walls), "s"), ("query_p90_s", Stats.quantile(walls, 0.9), "s"),
      ("queries_per_s", ops.size / math.max(1e-9, walls.sum), "1/s"),
      ("sample_size", sample.size.toDouble, "count"))
  }

  def layers(): Map[String, Double] = Map.empty

  def close(): Unit = ()
}

object QuerySuite {
  /** Fixture scale factor and the seed of the fixture data. The checked-in
    * fingerprints were recorded at exactly these values. */
  val Scale = 0.01
  val DataSeed = 42L
  /** How many of a module's queries nearest the typical cost the seed picks from. */
  val Window = 3

  val RankPick: Set[String] = Set("q_percentile", "q_quantile_approx", "q_mad_outliers",
    "q_winsorized_mean", "q_decile_bucket", "q_perplexity_bucket", "q_rfm")
  /** In every sample: the rank-pick consumers, and one query whose plan
    * carries the as-of join node, so the `plans` layer is always timed. */
  val Always: Set[String] = RankPick + "q_join_asof"

  def sample(table: Seq[QueryEntry], seed: Long): IndexedSeq[QueryEntry] = {
    val r = new SplittableRandom(seed)
    val typical = Stats.median(table.map(_.costS))
    val picked = table.filterNot(q => Always(q.name)).groupBy(_.module).toSeq.sortBy(_._1).map {
      case (_, qs) =>
        val near = qs.sortBy(q => (math.abs(q.costS - typical), q.name))
        near(r.nextInt(math.min(Window, near.size)))
    }
    // run order: cost ranks in bit-reversed order, so the queries a timed
    // window reaches before it ends spread over the whole cost range
    val byCost = (picked ++ table.filter(q => Always(q.name))).sortBy(q => (q.costS, q.name))
    val bits = 32 - Integer.numberOfLeadingZeros(math.max(1, byCost.size - 1))
    (0 until (1 << bits)).map(i => Integer.reverse(i) >>> (32 - bits))
      .filter(_ < byCost.size).map(byCost)
  }
}
