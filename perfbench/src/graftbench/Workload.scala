package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** What a workload is handed: the session, the generated inputs, a
  * private work directory and the run's settings. `plant` corrupts one
  * expected value, to show that the output checks catch it. */
final case class Ctx(spark: SparkSession, tracer: Tracer, inDir: String,
                     workDir: String, seed: Long, seconds: Double, reads: Int,
                     plant: Boolean = false) {
  val rng = new scala.util.Random(seed)
  def tracing: Boolean = tracer.tracing
}

/** One timed operation's outcome. `kind` is write, batch or read;
  * `completed` is false when the operation threw (its span is empty). */
final case class OpResult(kind: String, name: String, span: Span, ok: Boolean,
                          error: Option[String], completed: Boolean)

/** A benchmark workload: an untimed set-up, then whole cycles of timed
  * operations from one closed-loop client thread until the run's time is
  * used, then untimed final checks. Every operation's output is checked
  * outside its timed interval; a check that fails or throws marks the
  * operation failed. */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  val results = mutable.ArrayBuffer.empty[OpResult]
  /** Per-layer values measured along the way, keyed by metric name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  val info = mutable.LinkedHashMap.empty[String, Any]
  var cycles = 0

  def setup(): Unit
  def cycle(): Unit
  /** Whether the generated inputs hold another cycle's worth of waves. */
  def more: Boolean
  def finish(): Unit
  /** Bytes on disk of the state the workload built. */
  def warehouseBytes(): Long
  /** Workload-specific named metrics: name → (value, unit). */
  def namedMetrics(): Seq[(String, Double, String)]
  /** Workload-specific per-layer metrics (trace runs). */
  def layerMetrics(spans: Seq[Span]): Map[String, Double]

  /** Time `body` as one operation, then check its output untimed. */
  def timedOp[T](kind: String, name: String)(body: => T)(check: T => Unit): Option[T] = {
    val (out, span, err) = try {
      val (o, s) = tracer.op(kind, name)(body)
      (Some(o), s, None)
    } catch {
      case e: Throwable =>
        val now = tracer.nowMs
        (None, Span(tracer.nextId(), 0, 0, kind, name, now, now), Some(e.toString))
    }
    val checkErr = err.orElse(out.flatMap { o =>
      try { check(o); None } catch { case e: Throwable => Some(s"check: ${e.getMessage}") }
    })
    checkErr.foreach(e => Console.err.println(s"[graftbench] $kind $name FAILED: $e"))
    if (tracing)
      sample("cache.storage_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
    results += OpResult(kind, name, span, checkErr.isEmpty, checkErr, err.isEmpty)
    out
  }

  /** Mark every operation of `kind` failed (a final-state check failed). */
  def failAll(kind: String, why: String): Unit = {
    Console.err.println(s"[graftbench] final check FAILED: $why")
    for (i <- results.indices if results(i).kind == kind)
      results(i) = results(i).copy(ok = false, error = Some(why))
  }

  /** Seconds taken by the completed operations of `kind` (a failed
    * output check does not void the timing; a throw does). */
  def durations(kind: String): Seq[Double] =
    results.toSeq.filter(r => r.kind == kind && r.completed).map(_.span.dur / 1000.0)

  def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  /** Run one set-up step, recording its wall time (and, when tracing,
    * a "setup" span its Spark jobs are attributed to). */
  def step[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try tracer.op("setup", name)(body)._1
    finally info(s"setup.$name") = (System.nanoTime() - t) / 1e9
  }
}

object Plans {
  /** Files scanned by the executed plan of an already-run DataFrame. */
  def scannedFiles(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L) + s.children.map(walk).sum
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}
