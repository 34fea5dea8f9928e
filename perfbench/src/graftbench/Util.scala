package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Small helpers shared by the workloads: JSON output, order statistics,
  * file-tree accounting and host counters. */
object Util {

  // ---- JSON (the results file and the span dump) ----------------------
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def json(v: Any): String = mapper.writeValueAsString(v)

  def writeText(path: String, s: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8)): Unit
  }

  // ---- order statistics ----------------------------------------------
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50/p90/p99 that leaves at least ten samples above
    * it, as (label, value); None when fewer than 20 samples exist. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p90", 0.90), ("p50", 0.50))
      .find { case (_, q) => xs.size - math.ceil(q * xs.size) >= 10 }
      .map { case (l, q) => (l, quantile(xs, q)) }

  // ---- file trees ----------------------------------------------------
  /** (relative path → (size, mtime)) of every regular file under `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val r = new File(root)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    if (!r.exists()) Map.empty
    else walk(r).map(f => f.getPath.stripPrefix(r.getPath) -> ((f.length, f.lastModified))).toMap
  }

  def treeBytes(root: String): Long = listing(root).values.map(_._1).sum

  // ---- host counters -------------------------------------------------
  /** Peak resident set of this JVM in MB (VmHWM). */
  def rssPeakMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble * 1024 / 1e6
    }.getOrElse(Double.NaN)

  /** Heap in use right after a full collection, in MB: the data the
    * program keeps alive, whatever the heap's configured size. The
    * second collection takes what Spark's context cleaner released
    * after the first one cleared its weak references. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Aggregate host cpu jiffies: (total, idle+iowait, steal). */
  def hostCpu(): (Long, Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      val total = f.take(8).sum
      (total, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L, 0L))
}
