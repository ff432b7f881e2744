package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generates the ten fixture tables the declared queries read (schemas
  * and value domains as in the repository's FIXTURES.md), one parquet
  * file per table, at scale factor `sf` (row counts as the sf-named
  * fixture sets: 0.01 gives 60 000 lineitem rows). Every value is a hash
  * of (seed, row id, column), so the output does not depend on how Spark
  * partitions the work. */
object Fixtures {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("a", "the", "row", "key", "agg", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data",
    "column", "join", "small", "big", "customer", "query", "order", "group", "filter",
    "stream", "vector")

  /** The fixtures for (sf, seed) under `shared`, generated on first use.
    * Concurrent runs serialize on a file lock; the set is published by an
    * atomic rename, so a reader never sees a partial one. */
  def shared(spark: SparkSession, shared: File, sf: Double, seed: Long): File = {
    val done = new File(shared, s"fixtures-sf$sf-seed$seed")
    shared.mkdirs()
    val ch = java.nio.channels.FileChannel.open(new File(shared, "fixtures.lock").toPath,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try if (!done.isDirectory) {
        val tmp = new File(shared, s"${done.getName}.tmp-${ProcessHandle.current().pid()}")
        Files.rm(tmp)
        generate(spark, tmp.getPath, sf, seed)
        java.nio.file.Files.move(tmp.toPath, done.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally lock.release()
    } finally ch.close()
    done
  }

  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    // uniform integer in [0, k) for row `id`, independent per `salt`
    def ri(salt: Int, k: Long): Column =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(k))
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (ri(salt, xs.size.toLong) + 1).cast("int"))
    def cents(salt: Int, lo: Long, hi: Long): Column = (ri(salt, hi - lo) + lo) / 100.0
    def day(salt: Int, from: String, days: Long): Column =
      date_add(lit(java.sql.Date.valueOf(from)), ri(salt, days).cast("int")).cast("timestamp")

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDocs = math.max(500L, n(50000)); val nEmb = math.max(500L, n(20000))
    def range(k: Long): DataFrame = spark.range(0, k, 1, math.max(1, (k / 50000).toInt)).toDF()

    val tables = Seq[(String, DataFrame)](
      "region" -> range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        ri(1, 25).cast("int").as("c_nationkey"), cents(2, -99999, 1000000).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        ri(1, 25).cast("int").as("s_nationkey"), cents(2, -99999, 1000000).as("s_acctbal")),
      "part" -> range(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, Seq("red", "blue", "green", "small", "large", "shiny", "matte")),
          pick(2, Seq("widget", "bolt", "ring", "gear", "panel", "valve"))).as("p_name"),
        concat(lit("Brand#"), ri(3, 25) + 1).as("p_brand"),
        pick(4, Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")).as("p_type"),
        (ri(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "orders" -> range(nOrd).select(col("id").as("o_orderkey"), ri(1, nCust).as("o_custkey"),
        pick(2, Seq("F", "O", "P")).as("o_orderstatus"), cents(3, 100000, 50000000).as("o_totalprice"),
        day(4, "1995-01-01", 2404).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(nLine).select(ri(1, nOrd).as("l_orderkey"), ri(2, nPart).as("l_partkey"),
        ri(3, nSupp).as("l_suppkey"), (ri(4, 7) + 1).cast("int").as("l_linenumber"),
        (ri(5, 50) + 1).cast("double").as("l_quantity"), cents(6, 90000, 10000000).as("l_extendedprice"),
        (ri(7, 11) / 100.0).as("l_discount"), (ri(8, 9) / 100.0).as("l_tax"),
        pick(9, Seq("A", "N", "R")).as("l_returnflag"), pick(10, Seq("F", "O")).as("l_linestatus"),
        day(11, "1995-01-02", 2498).as("l_shipdate")),
      "events" -> {
        val stepUs = 30L * 86400L * 1000000L / nEv
        range(nEv).select(col("id").as("event_id"),
          timestamp_micros(lit(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L) +
            col("id") * stepUs + ri(1, stepUs)).as("ts"),
          ri(2, math.max(50L, n(15000))).as("user_id"),
          pick(3, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
          cents(4, 0, 2500).as("value"),
          format_string("{\"k\": %d}", ri(5, 100)).as("props"))
      },
      "documents" -> {
        val words = transform(sequence(lit(1), (ri(1, 80) + 8).cast("int")), i =>
          element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit(seed), col("id"), i), lit(Vocab.size.toLong)) + 1).cast("int")))
        range(nDocs).select(col("id").as("doc_id"), concat_ws(" ", words).as("text"),
          pick(2, Seq("en", "en", "en", "es", "zh", "de", "fr")).as("lang"),
          concat(lit("src"), col("id") % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> range(nEmb).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(lit(seed), col("id"), i), lit(1000000L)) / 1e6 - 0.5) * 0.6)
            .cast("float")).as("embedding"),
        ri(1, 10).cast("int").as("label")))

    val out = new File(dir)
    out.mkdirs()
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try tables.foreach { case (name, df) =>
      val tmp = new File(out, s".$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new File(out, s"$name.parquet").toPath)
      Files.rm(tmp)
    } finally spark.conf.set(key, prev)
  }
}
