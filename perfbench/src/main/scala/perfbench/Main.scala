package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its outcome as JSON to `--out`.
  *
  * {{{
  * perfbench.Main --workload zone_daily --seed 1 --seconds 10 --trace 0 \
  *   --dir <scratch dir> --cores 4 --out result.json
  * }}}
  * `--dir` is created if needed and deleted at exit; everything the run
  * writes (sinks, checkpoints, Spark local dirs, the fixture cache) lives
  * under it. `--shared` (default: `--dir`) keeps inputs that do not depend
  * on the seed across runs. `perfbench/run.py` is the intended entry point. */
object Main {
  val Workloads: Seq[String] = Seq("zone_daily", "query_suite", "sink_churn")

  def session(cores: Int, dir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.enabled", graft.util.Config.aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", graft.util.Config.codegenCacheEntries)
      .config("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation",
        graft.util.Config.cteLocalAnchorRows)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "zone_daily" => new ZoneDaily(ctx)
    case "query_suite" => new QuerySuite(ctx)
    case "sink_churn" => new SinkChurn(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${Workloads.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = need("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val dir = new File(need("dir")).getAbsoluteFile
    val cores = need("cores").toInt
    dir.mkdirs()
    // a fresh fixture cache per run: entries left by another build must
    // never make one side of an A/B start warm
    System.setProperty("graft.cacheDir", new File(dir, "fixture-cache").getAbsolutePath)
    try {
      val t0 = System.nanoTime()
      val spark = session(cores, dir)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val shared = opts.get("shared").map(new File(_)).getOrElse(dir)
      val ctx = new Ctx(spark, need("seed").toLong, cores, dir, shared, new Tracer)
      val wl = workload(name, ctx)
      val o =
        try Harness.run(ctx, wl, need("seconds").toDouble, need("trace") == "1", sessionS)
        finally wl.close()
      val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
        "workload" -> name,
        "correct" -> (o.failed == 0),
        "attempted" -> o.attempted,
        "failed" -> o.failed,
        "e2e" -> Harness.EndToEnd.map { case (n, u, b) =>
          n -> Map("value" -> o.e2e(n), "unit" -> u, "better" -> b) }.toMap,
        "layers" -> (if (o.layers.isEmpty) Map.empty else Layers.Metrics.map { case (n, u, _) =>
          n -> Map("value" -> o.layers.getOrElse(n, 0.0), "unit" -> u) }.toMap),
        "report" -> o.report))
      java.nio.file.Files.writeString(new File(need("out")).toPath, json)
      spark.stop()
    } finally Files.rm(dir)
  }
}
