package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Short runs of each workload through the harness: the current engine
  * answers correctly, and a deliberately corrupted expected value shows
  * up as a failed operation. */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = JFiles.createTempDirectory("perfbench-spec").toFile
  System.setProperty("graft.cacheDir", new File(root, "fixture-cache").getPath)
  private lazy val spark = Main.session(2, root)

  override def afterAll(): Unit = {
    spark.stop()
    Files.rm(root)
  }

  private def run(name: String, corrupt: Boolean): Outcome = {
    val dir = JFiles.createTempDirectory(root.toPath, name).toFile
    val ctx = new Ctx(spark, 5, 2, dir, root, new Tracer, corrupt)
    val wl = Main.workload(name, ctx)
    try Harness.run(ctx, wl, 1.0, trace = true, sessionS = 0.0)
    finally { wl.close(); Files.rm(dir) }
  }

  Main.Workloads.foreach { name =>
    test(s"$name: correct on the current engine, traced, and reconciled") {
      val o = run(name, corrupt = false)
      assert(o.failed == 0, o.report("checks"))
      assert(o.attempted > 0)
      val recon = o.report("trace").asInstanceOf[Map[String, Any]]("reconciliation")
        .asInstanceOf[Map[String, Any]]
      assert(recon("ops_within_tolerance") == recon("ops"))
      assert(Layers.Metrics.map(_._1).forall(o.layers.contains))
    }

    test(s"$name: a corrupted expected value counts as a failure") {
      val o = run(name, corrupt = true)
      assert(o.failed > 0)
    }
  }

  test("churn start table: same seed gives identical rows, another seed different ones") {
    def rows(seed: Long) =
      spark.range(0L, 2000L).select(new ChurnInputs(seed).initialColumns: _*).collect().toSeq
    assert(rows(7) == rows(7))
    assert(rows(7) != rows(8))
  }

  test("fixture tables: same seed gives byte-identical files, another seed different ones") {
    def gen(seed: Long): Map[String, Seq[Byte]] = {
      val dir = JFiles.createTempDirectory(root.toPath, "fx").toFile
      try {
        Fixtures.generate(spark, dir.getPath, 0.001, seed)
        Fixtures.Tables.map(t => t -> JFiles.readAllBytes(new File(dir, s"$t.parquet").toPath).toSeq).toMap
      } finally Files.rm(dir)
    }
    val a = gen(42)
    assert(a == gen(42))
    val b = gen(43)
    assert(Seq("customer", "lineitem", "events", "documents").forall(t => a(t) != b(t)))
  }
}
