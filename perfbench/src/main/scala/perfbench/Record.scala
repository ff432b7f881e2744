package perfbench

import java.io.File

/** Records the query table the `query_suite` workload checks against:
  * generates the fixtures at [[QuerySuite.Scale]] and
  * [[QuerySuite.DataSeed]] into `<fixture dir>` (kept, so the answers can
  * be checked independently, e.g. by the repository's DuckDB oracle
  * compare), then fingerprints and times every declared query.
  *
  * {{{
  * perfbench.Record <out.tsv> <fixture dir> <cores> [<verify dump dir>]
  * }}}
  * With a dump dir — `graft.Verify <fixture dir> <dump dir>` output that
  * `tools/check.py <fixture dir> <dump dir>` passed — each recorded
  * fingerprint must also equal the fingerprint of that query's dump, so
  * the table holds only answers the oracle accepted. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(out, dir, cores) = args.take(3)
    val dumps = args.drop(3).headOption
    val work = new File(dir + ".work")
    System.setProperty("graft.cacheDir", new File(work, "fixture-cache").getAbsolutePath)
    val spark = Main.session(cores.toInt, work)
    Fixtures.generate(spark, dir, QuerySuite.Scale, QuerySuite.DataSeed)
    import graft.ops.{Incremental, Joins, Media, Relational, TextDedup, TextOps, VectorOps, Windows}
    val modules = Seq("Relational" -> Relational.defs, "Incremental" -> Incremental.defs,
      "Joins" -> Joins.defs, "Windows" -> Windows.defs, "TextOps" -> TextOps.defs,
      "TextDedup" -> TextDedup.defs, "VectorOps" -> VectorOps.defs, "Media" -> Media.defs)
    val entries = for {
      (module, defs) <- modules
      (name, d) <- defs.sortBy(_._1)
    } yield {
      val (rows, hash) = QueryTable.fingerprint(d.fn(spark, dir))
      dumps.foreach { v =>
        val dumped = QueryTable.fingerprint(spark.read.parquet(s"$v/$name"))
        require(dumped == ((rows, hash)), s"$name: live answer $rows/$hash, dump $dumped")
      }
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        d.fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[record] $name%-32s ${Stats.median(times)}%.3f s  $rows rows")
      QueryEntry(name, module, Stats.median(times), rows, hash)
    }
    val header = Seq(
      s"query_suite answers: fixtures sf=${QuerySuite.Scale} seed=${QuerySuite.DataSeed}, local[$cores];" +
        " written by perfbench.Record",
      "name\tmodule\tcost_s\trows\thash (sum of xxhash64 over rows, doubles rounded to 6 places)")
    java.nio.file.Files.writeString(new File(out).toPath, QueryTable.render(entries, header))
    spark.stop()
    Files.rm(work)
  }
}
