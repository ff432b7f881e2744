package perfbench

import java.io.File

/** Independent random streams from one seed: `rng(seed, a, b, …)` is a
  * generator for the sub-stream named by (a, b, …). */
object Seeded {
  def rng(seed: Long, parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 29) * 0x94D049BB133111EBL))
}

object Stats {
  /** Linear-interpolated quantile (the "type 7" definition); 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What the host looks like: read from /proc, which every Linux has. */
object Host {
  private def procLines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toVector finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Vector.empty }

  /** Resident-set high-water mark of this process, MB. */
  def peakRssMb: Double =
    procLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap still in use after a full collection, MB: what the process
    * keeps alive, independent of the fixed heap size and of when the
    * collector last ran. Spark's ContextCleaner frees the blocks, shuffles
    * and broadcasts of RDDs a collection found unreachable on its own
    * thread, so the heap is collected again once it has had time to. */
  def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.perfbench.BusDrain(sc)
    System.gc()
    Thread.sleep(CleanerWaitMs)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Five times the ContextCleaner's reference-queue poll interval. */
  private val CleanerWaitMs = 500L

  /** Aggregate CPU jiffies (user … steal) from /proc/stat. */
  def cpuJiffies: Array[Long] =
    procLines("/proc/stat").find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
      .getOrElse(Array.fill(8)(0L))

  /** Share of CPU time stolen by the hypervisor between two samples, %. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val d = a.indices.map(i => b(i) - a(i))
    val total = d.sum
    if (total <= 0) 0.0 else 100.0 * d(7) / total
  }
}

object Files {
  def rm(f: File): Unit = {
    if (java.nio.file.Files.isDirectory(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
    }
    f.delete(): Unit
  }

  /** Data files (not Spark's `_`/`.` markers) under `dir`, recursively. */
  def dataFiles(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.flatMap { k =>
      if (k.isDirectory) dataFiles(k)
      else if (k.getName.startsWith("_") || k.getName.startsWith(".")) Nil
      else Seq(k)
    }
  }

  /** Copies the tree at `from` to `to`, which must not exist yet. */
  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    val paths = java.nio.file.Files.walk(src)
    try paths.forEach(p => java.nio.file.Files.copy(p, to.toPath.resolve(src.relativize(p))): Unit)
    finally paths.close()
  }

  def bytesUnder(dir: File): Long = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.map(k => if (k.isDirectory) bytesUnder(k) else k.length()).sum
  }
}
